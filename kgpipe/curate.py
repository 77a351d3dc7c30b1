"""Composed training-data curation over the documents table: the shape of
a real 100 TB corpus-cleaning job, built entirely from this engine's own
operators — language ID -> quality gates -> exact dedup -> near-dup
clustering (MinHash-LSH pairs -> connected components -> one canonical doc
per cluster).

Every step is an equi-join / hash-agg / broadcast pattern that scales:
no O(n²) stage, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canon import connected_components
from .dedup import DOC_JACCARD, doc_minhash_pairs
from .qreg import load, register
from .textstats import lang_best_col


def gate(spark: SparkSession, sf: str) -> DataFrame:
    """The lang-ID + quality gate. Per-row projections computed INLINE on
    one scan (at 100 TB, joining the lang/quality query outputs back to
    the table would mean three scans and two doc_id shuffles for zero
    extra information; this way the whole gate is a single codegen stage).
    Plan-pinned: tests/test_plans.py asserts exactly one parquet scan,
    zero Exchanges, and a whole-stage-codegen span over the gate."""
    return (
        load(spark, sf, "documents")
        .select(
            "doc_id",
            "text",
            lang_best_col(F.col("text"))["lang"].alias("lang_pred"),
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
            "n_chars",
        )
        .filter(
            (F.col("lang_pred") == "en") & F.col("n_chars").between(50, 5000)
        )
        .drop("n_chars")
    )


def curate(spark: SparkSession, sf: str) -> DataFrame:
    docs = gate(spark, sf)

    # exact dedup: keep the min doc_id per normalized text
    winners = docs.groupBy(F.lower(F.trim("text")).alias("k")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # read by the pairs and the anti-join: computed once by an eager local
    # checkpoint, as a persist would outlive the caller's action
    docs = docs.join(winners.select("doc_id"), "doc_id", "left_semi").localCheckpoint()

    # near-dup clustering among survivors: LSH pairs -> CC -> keep the
    # cluster representative (min doc id; ids zero-padded so the string
    # component minimum equals the numeric min)
    pad = lambda c: F.format_string("%012d", F.col(c).cast("long"))
    pairs = doc_minhash_pairs(docs, DOC_JACCARD)
    edges = pairs.select(pad("a").alias("a"), pad("b").alias("b"))
    cc = connected_components(edges)
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").cast("long").alias("doc_id")
    )
    kept = docs.join(losers, "doc_id", "left_anti")
    return kept.select("doc_id", "lang_pred", "n_tokens")


def _curate_sql() -> str:
    """SQL twin of curate(): lang-ID -> length gate -> exact dedup ->
    all-pairs shingle Jaccard edges -> recursive-CTE CC -> keep the numeric
    min doc per cluster. The Spark side pads doc ids so its string component
    minimum equals this numeric min; LSH recall is total on this corpus (same
    evidence as dedup_minhash)."""
    from .dedup import DOC_EDGES_SQL, DOC_SHINGLES_SQL
    from .textstats import LANG_STOPWORDS

    hits = ", ".join(
        "LEN(LIST_INTERSECT(toks, ["
        + ", ".join(f"'{w}'" for w in ws)
        + f"])) AS h_{lang}"
        for lang, ws in sorted(LANG_STOPWORDS.items())
    )
    langs_desc = sorted(LANG_STOPWORDS, reverse=True)
    case = " ".join(f"WHEN h_{lang} = mx THEN '{lang}'" for lang in langs_desc[:-1])
    mx = ", ".join("h_" + lang for lang in sorted(LANG_STOPWORDS))
    shingles = DOC_SHINGLES_SQL.format(src="docs2")
    return f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, text, n_chars,
         LIST_DISTINCT(STRING_SPLIT(
           LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS toks,
         LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
  FROM documents),
lang AS (
  SELECT doc_id, text, n_chars, n_tokens,
         CASE {case} ELSE '{langs_desc[-1]}' END AS lang_pred
  FROM (SELECT *, GREATEST({mx}) AS mx
        FROM (SELECT *, {hits} FROM tok))),
docs AS (
  SELECT doc_id, text, n_tokens, lang_pred FROM lang
  WHERE lang_pred = 'en' AND n_chars BETWEEN 50 AND 5000),
winners AS (
  SELECT MIN(doc_id) AS doc_id FROM docs GROUP BY LOWER(TRIM(text))),
docs2 AS (SELECT d.* FROM docs d JOIN winners USING (doc_id)),
{shingles},
{DOC_EDGES_SQL},
edges AS (SELECT a, b FROM jacc WHERE jaccard >= {DOC_JACCARD}),
sym AS (SELECT a AS sn, b AS dn FROM edges UNION ALL SELECT b, a FROM edges),
walk AS (
  SELECT DISTINCT sn AS node, sn AS comp FROM sym
  UNION
  SELECT e.dn, wk.comp FROM walk wk JOIN sym e ON wk.node = e.sn),
cc AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node)
SELECT doc_id, lang_pred, n_tokens FROM docs2
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> component)
"""


@register("corpus_curation", sql=_curate_sql())
def corpus_curation(spark, sf):
    return curate(spark, sf)
