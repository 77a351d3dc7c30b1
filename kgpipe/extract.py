"""Stage B: mention detection (U1) + triple extraction (U2).

The reference's analog: per-field XML->RDF mapping rules applied one record
at a time in a Python loop (SURVEY.md §3.1). Here both steps are vectorized
Arrow-batched operations with zero per-row Python driver involvement
(BASELINE.json: "vectorized pandas/Arrow UDFs perform batched mention
detection and pattern-based triple extraction per turn").

Design notes (scale):
- `normalize_text_col` is pure Spark-builtin (lower∘trim∘regexp_replace) —
  stays inside whole-stage codegen; it must stay semantically identical to
  rules.normalize_series (tested in tests/test_rules.py).
- Mention detection is an iterator pandas UDF so the compiled alias
  alternation regex is built once per Python worker, not per batch.
- Triple extraction uses mapInArrow (round 4; was mapInPandas): one Arrow
  batch in, a (usually smaller) Arrow triple batch out — the kernel
  (rules.extract_triples_arrow) runs RE2 via pyarrow.compute over the
  columnar buffers, skipping the Arrow->pandas->Arrow conversion AND
  pandas' Python `re` engine; measured 2.5-4.4x faster per batch with a
  set-identical triple output (tests/test_rules.py pins equality).
- One anchor regex (ANCHOR_RE) filters JVM-side BEFORE extraction, so turns
  containing no rule's literal anchor never cross the Arrow boundary; the
  Filter, into which Catalyst inlines `text_norm`, names the normalization
  once.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, StringType

from . import schemas
from .rules import RULES, build_mention_matcher, detect_mentions_batch, extract_triples_arrow

RAW_TRIPLES_KINDED = StructType(
    schemas.RAW_TRIPLES.fields
    + [StructField("subj_kind", StringType(), False), StructField("obj_kind", StringType(), False)]
)


# Rule-anchor pushdown (SURVEY.md §7's 'pre-filters into the scan'): only a
# turn whose normalized text contains some rule's literal anchor can emit a
# triple. re.escape puts a backslash only before punctuation and whitespace,
# which java.util.regex reads as that literal character, as Python's re does.
ANCHOR_RE = "|".join(re.escape(r.anchor) for r in RULES)


def normalize_text_col(col: Column) -> Column:
    """Spark twin of rules.normalize_series — keep in lockstep."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def with_turn_order(df: DataFrame) -> DataFrame:
    """W1 — stable turn ordering (the correctness anchor, BASELINE.json):
    row_number over (conv_id) ordered by (turn_idx, ts). Input may arrive in
    any row order; everything downstream keys on (conv_id, turn_idx)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return df.withColumn("turn_rank", F.row_number().over(w))


def mention_udf(alias_norms: list[str], alias_types: list[str]):
    """Iterator pandas UDF: text_norm -> array<struct(surface,start,end,mtype)>.

    The alias automaton is built lazily inside the worker and cached at
    module level (rules._MENTION_CACHE), amortized across all batches the
    worker processes — the per-executor cache of SURVEY.md §2(i) U1.
    """

    @F.pandas_udf(schemas.MENTIONS_ARRAY)
    def detect(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        pat, type_of = build_mention_matcher(alias_norms, alias_types)
        for s in batches:
            yield detect_mentions_batch(s, pat, type_of)

    return detect


def detect_mentions(df: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Attach `mentions` array to each turn. entity_dict is collected to the
    driver once (it is the broadcast dimension — ~10^3..10^6 rows) and
    shipped inside the UDF closure, the pandas-UDF equivalent of a broadcast
    variable."""
    alias_rows = (
        entity_dict.select(
            F.explode("aliases").alias("alias"), F.col("etype")
        )
        .select(normalize_text_col(F.col("alias")).alias("alias_norm"), "etype")
        .distinct()
        .collect()
    )
    norms = [r["alias_norm"] for r in alias_rows]
    types = [r["etype"] for r in alias_rows]
    udf = mention_udf(norms, types)
    return df.withColumn("mentions", udf(F.col("text_norm")))


def _arrow_extract_runner(batches):
    """mapInArrow worker loop: RecordBatch in, RecordBatch(es) out (module-
    level so the serialized closure is tiny and version-stable)."""
    for b in batches:
        out = extract_triples_arrow(b)
        if out is not None and out.num_rows:
            yield from out.to_batches()


def stage_extract(turns: DataFrame) -> DataFrame:
    """Full Stage B: normalize -> one anchor regex (JVM) -> batched triple
    extraction (one mapInArrow pass, RE2 kernel in rules.py).

    The anchor prefilter never drops a row any rule could match (anchor is
    a literal substring of each rule's pattern — invariant tested), so the
    emitted triple set is identical to running extraction over every turn;
    it is pure pushdown. Dictionary-based mention detection remains
    available as its own operator (detect_mentions / udf_mention_detect)
    for enrichment queries; the hot path doesn't need the alias automaton —
    entity resolution happens in Stage C via the broadcast join, so the
    stage takes the turns only.

    Returns raw triples (conv_id, turn_idx, subj_raw, pred, obj_raw,
    rule_id, subj_kind, obj_kind)."""
    t = turns.withColumn("text_norm", normalize_text_col(F.col("text")))
    t = t.filter(F.col("text_norm").rlike(ANCHOR_RE))
    cols = ["conv_id", "turn_idx", "role", "text_norm"]
    return t.select(cols).mapInArrow(_arrow_extract_runner, RAW_TRIPLES_KINDED)
