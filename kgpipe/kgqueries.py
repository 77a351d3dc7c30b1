"""KG-pipeline operators as registry entries, with DuckDB SQL oracles.

The deterministic synthetic transcript corpus (FIXTURES.md §2, seeded — no
external data) is staged as parquet at an import-time-known path
(synth.stage_corpus), so BOTH engines read the same files: the Spark
entries scan it with spark.read.parquet, and the oracle SQL strings below
read it with DuckDB read_parquet. That upgrades the KG operators from
rows-only checks to full value-hash checks: the oracle SQL re-derives the
ENTIRE pipeline — normalization, per-rule regex extraction, alias linking,
char-shingle Jaccard edges, connected components (recursive CTE), rewrite,
dedup, sha256 lineage ids and sink part keys — in pure ANSI-ish SQL from
the shared declarative rule set (kgpipe/rules.py), no Python in the loop.

Oracle-ability notes:
- The SQL twin's CC uses ALL-PAIRS Jaccard edges (same ground truth as the
  pandas oracle, kgpipe/oracle.py); the Spark pipeline's MinHash-LSH
  blocking provably recovers every >=threshold pair on this corpus
  (tests/test_oracle_parity.py P/R == 1.0 gate), so the two edge sets
  agree here. On adversarial data LSH is probabilistic — that recall gap
  is the documented approximation, not a bug.
- Round 3 moved every operator that EXPOSES hash-derived values to the
  engine-neutral md5-prefix scheme (kgpipe/nhash.py): one md5 base hash
  per token/shingle, fanned out by modular affine permutations. That
  upgraded agg_minhash_sig and dedup_simhash from rows-only to FULL value
  oracles. Disclosed cost (sf0.1, local[32], idle box, interleaved A/B,
  median of 5): simhash 2.91s -> 2.82s (neutral); canon minhash operates
  on small surface sets (negligible). doc_minhash_pairs measured +26%
  (1.31s -> 1.65s) under the same swap — over the 15% budget — so the
  dedup-headline MinHash KEEPS xxhash64; its oracle is the all-pairs
  Jaccard edge set, which never sees hash values, so nothing was lost.
  Full numbers in BENCH/BASELINE.md §hash-neutrality.
- The rows-only remainder, each for a structural reason: sink_metrics /
  sink_checkpoint (values are runtime partition/manifest state, not row
  properties), udf_mention_detect (emits character OFFSETS from
  longest-first non-overlapping finditer — DuckDB regex functions return
  matches, not positions), ann_lsh_topk (random-hyperplane sign buckets
  from a worker-side numpy plane matrix — engine-internal), ann_ivf_topk
  (KMeans centers are engine-internal), agg_approx_distinct (HLL sketch
  values are engine-specific), multimodal_media_meta (decode stubbed — no
  media libs in the sandbox; since round 3 the entry serializes its
  feature vector to a string so the driver CAN at least canonicalize and
  row-count it). Every one of these carries a VALUE-level pytest pin
  instead (naive-recompute parity, recall floors, error bounds, crc/offset
  equality — see tests/test_registry_new.py), so "rows-only" describes
  only the driver's check, not the evidence.
"""

from __future__ import annotations

import atexit
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import canon, extract, io_tables, link, nhash, pipeline, synth
from .qreg import register
from .rules import RULES

# ---------------------------------------------------------------------------
# staged corpus + caches
# ---------------------------------------------------------------------------

# ONE corpus size for every registry consumer: the oracle SQL strings are
# bound to this staged path at import time, so the Spark side must read the
# same corpus at every sf the harness passes (sf only scales the TPC-H-ish
# tables; the KG corpus is ours). entry() keeps its own smaller smoke corpus.
ORACLE_CONVS = 150
CORPUS_DIR = synth.stage_corpus(ORACLE_CONVS)  # import-time: path is static

_CACHE: dict[str, dict[str, DataFrame]] = {}


def corpus_dfs(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Parquet-backed corpus scan (a real source operator, not a
    createDataFrame upload). Cache key includes applicationId — unique per
    SparkSession — so a recycled id(spark) address can never serve
    DataFrames owned by a dead session."""
    key = f"{spark.sparkContext.applicationId}|{ORACLE_CONVS}"
    if key not in _CACHE:
        d = synth.stage_corpus(ORACLE_CONVS)
        t = spark.read.parquet(f"{d}/transcripts.parquet").cache()
        # the dictionary is not cached: Spark reuses the broadcast of a
        # plan over a parquet scan, not over a cached relation
        e = spark.read.parquet(f"{d}/entity_dict.parquet")
        _CACHE[key] = {"transcripts": t, "entity_dict": e}
    return _CACHE[key]


# ---------------------------------------------------------------------------
# shared lazy stage cache. Six registry entries (udf_triple_extract,
# link_score, lsh_block, cc_iterate, canon_rewrite, agg_minhash_sig) expose
# different facets of the same Stage B/C/D dataflow; without sharing, each
# driver row re-runs extraction (the Arrow-UDF stage) from scratch. The
# DataFrames are persisted ONCE per (session, corpus) and reused — same
# plans, same results, ~4x less repeated work inside the driver's
# correctness window (the _ckpt_run trick, applied one level down).
# ---------------------------------------------------------------------------

_STAGE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _stage(spark: SparkSession, sf: str, which: str) -> DataFrame:
    key = (f"{spark.sparkContext.applicationId}|{ORACLE_CONVS}", which)
    if key not in _STAGE_CACHE:
        d = corpus_dfs(spark, sf)
        if which == "raw":
            df = extract.stage_extract(d["transcripts"])
        elif which == "pairs":
            links = link.stage_link(d["entity_dict"])
            df = canon.candidate_pairs(canon.unlinked_surfaces(_stage(spark, sf, "raw"), links))
        else:  # pragma: no cover - internal misuse
            raise ValueError(which)
        # cap the cache to the live application: entries keyed by a dead
        # session's applicationId can never be served again (corpus_dfs
        # keying note above), so evict them — unpersist is a no-op on a
        # stopped context, and dropping the reference frees the plan. Live
        # entries stay pinned for the session's whole correctness window
        # by design (that sharing is the point of the cache).
        app = spark.sparkContext.applicationId
        for k in [k for k in _STAGE_CACHE if not k[0].startswith(f"{app}|")]:
            try:
                _STAGE_CACHE.pop(k).unpersist()
            except Exception:
                pass
        _STAGE_CACHE[key] = df.persist()
    return _STAGE_CACHE[key]


_CKPT_RUNS: dict[str, str] = {}


def _ckpt_run(spark: SparkSession, sf: str) -> str:
    """One shared checkpointed Stage A..E run per (session, corpus): several
    registry entries expose different facets of the same pipeline artifacts
    (triple table, metrics, sink layout, resume) — run it once, reuse the
    work_dir."""
    key = f"{spark.sparkContext.applicationId}|{ORACLE_CONVS}"
    if key not in _CKPT_RUNS:
        d = corpus_dfs(spark, sf)
        wd = tempfile.mkdtemp(prefix="kgm_")
        cfg = pipeline.PipelineConfig(work_dir=wd, input_fingerprint=f"kgm|{sf}")
        pipeline.Pipeline(cfg).run(spark, d["transcripts"], d["entity_dict"])
        _CKPT_RUNS[key] = wd
    return _CKPT_RUNS[key]


@atexit.register
def _cleanup_ckpt_dirs() -> None:
    for wd in _CKPT_RUNS.values():
        shutil.rmtree(wd, ignore_errors=True)


# ---------------------------------------------------------------------------
# the SQL twin: shared CTE chain rendered from the declarative rule set
# ---------------------------------------------------------------------------

_NORM = "lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"


def _sql_pattern(pattern: str) -> tuple[str, list[str]]:
    """Python named-group regex -> (SQL-quoted anonymous regex, group order).
    The patterns are RE2-compatible (no lookaround/backrefs — tested)."""
    names = [m.group(1) for m in re.finditer(r"\(\?P<([a-z]+)>", pattern)]
    anon = re.sub(r"\(\?P<[a-z]+>", "(", pattern)
    return anon.replace("'", "''"), names


def _raw_cte() -> str:
    """UNION ALL of one SELECT per rule-emit, mirroring
    rules.extract_triples_batch exactly (same source of truth)."""
    parts = []
    for rule in RULES:
        pat, groups = _sql_pattern(rule.pattern)
        roles = ", ".join(f"'{r}'" for r in rule.roles)
        glist = ", ".join(f"'{g}'" for g in groups)
        turn_node = "conv_id || '#' || CAST(turn_idx AS VARCHAR)"
        for sg, pred, og in rule.emits:
            subj = turn_node if sg == "@turn" else f"trim(g.{sg})"
            obj = turn_node if og == "@turn" else f"trim(g.{og})"
            sk = "node" if sg == "@turn" else "surface"
            ok = "node" if og == "@turn" else "surface"
            parts.append(
                f"""  SELECT conv_id, turn_idx, {subj} AS subj_raw, '{pred}' AS pred,
         {obj} AS obj_raw, '{rule.rule_id}' AS rule_id,
         '{sk}' AS subj_kind, '{ok}' AS obj_kind
  FROM (SELECT conv_id, turn_idx, regexp_extract(text_norm, '{pat}', [{glist}]) AS g
        FROM t WHERE role IN ({roles}) AND regexp_matches(text_norm, '{pat}'))"""
            )
    return "\nUNION ALL\n".join(parts)


_SHINGLES = (
    "CASE WHEN length({s}) < 3 THEN [{s}] "
    "ELSE list_distinct([substring({s}, i, 3) "
    "FOR i IN generate_series(1, length({s}) - 2)]) END"
)


# the sink rows of a distinct triple set: lineage_id and part_key written
# out in SQL (pipeline.lineage_col and part_key_col are the Spark side),
# shared by the batch `mat` CTE and the streaming sink's twin
SINK_SQL = """  SELECT subj, pred, obj, conv_id, turn_idx, rule_id,
         substr(sha256(concat_ws(chr(31), subj, pred, obj, conv_id,
                          CAST(turn_idx AS VARCHAR), rule_id)), 1, 32)
           AS lineage_id,
         CAST(CAST('0x' || substr(sha256(subj), 1, 15) AS BIGINT) % 128
              AS INTEGER) AS part_key
  FROM {src}"""


def _kg_sql(select: str, corpus_dir: str | None = None) -> str:
    """Wrap a final SELECT with the full pipeline CTE chain."""
    corpus = corpus_dir or CORPUS_DIR
    norm_text = _NORM.format(col="text")
    norm_alias = _NORM.format(col="alias")
    sh = _SHINGLES.format(s="surface")
    return f"""
WITH RECURSIVE t AS (
  SELECT conv_id, turn_idx, role, {norm_text} AS text_norm
  FROM read_parquet('{corpus}/transcripts.parquet')
  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL AND text IS NOT NULL),
raw AS (
{_raw_cte()}),
al0 AS (
  SELECT entity_id, canonical, etype, prior, {norm_alias} AS alias_norm
  FROM (SELECT entity_id, canonical, etype, prior, unnest(aliases) AS alias
        FROM read_parquet('{corpus}/entity_dict.parquet'))),
al AS (
  SELECT alias_norm, entity_id, canonical, etype, prior FROM (
    SELECT *, row_number() OVER (PARTITION BY alias_norm ORDER BY entity_id) AS rn
    FROM al0) WHERE rn = 1),
linked AS (
  SELECT r.*, sa.entity_id AS subj_link, oa.entity_id AS obj_link
  FROM raw r
  LEFT JOIN al sa ON r.subj_kind = 'surface' AND sa.alias_norm = r.subj_raw
  LEFT JOIN al oa ON r.obj_kind = 'surface' AND oa.alias_norm = r.obj_raw),
unl AS (
  SELECT DISTINCT surface FROM (
    SELECT subj_raw AS surface FROM linked
    WHERE subj_kind = 'surface' AND subj_link IS NULL
    UNION ALL
    SELECT obj_raw FROM linked
    WHERE obj_kind = 'surface' AND obj_link IS NULL)),
sh AS (SELECT surface, {sh} AS s FROM unl),
edges AS (
  SELECT x.surface AS a, y.surface AS b,
         CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jaccard
  FROM sh x JOIN sh y ON x.surface < y.surface
  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5),
sym AS (SELECT a AS s, b AS d FROM edges UNION ALL SELECT b, a FROM edges),
walk AS (
  SELECT DISTINCT s AS node, s AS comp FROM sym
  UNION
  SELECT e.d, w.comp FROM walk w JOIN sym e ON w.node = e.s),
cc AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
final AS (
  SELECT COALESCE(l.subj_link, CASE WHEN l.subj_kind = 'node' THEN l.subj_raw END,
                  sc.component, l.subj_raw) AS subj,
         l.pred,
         COALESCE(l.obj_link, CASE WHEN l.obj_kind = 'node' THEN l.obj_raw END,
                  oc.component, l.obj_raw) AS obj,
         l.conv_id, l.turn_idx, l.rule_id
  FROM linked l
  LEFT JOIN cc sc
    ON l.subj_raw = sc.node AND l.subj_kind = 'surface' AND l.subj_link IS NULL
  LEFT JOIN cc oc
    ON l.obj_raw = oc.node AND l.obj_kind = 'surface' AND l.obj_link IS NULL),
trip AS (
  SELECT DISTINCT subj, pred, obj, conv_id, turn_idx, rule_id FROM final),
mat AS (
{SINK_SQL.format(src="trip")})
{select}
"""


# ---------------------------------------------------------------------------
# sources / filters over the corpus
# ---------------------------------------------------------------------------


@register(
    "scan_transcripts",
    sql=f"""SELECT conv_id, turn_idx, role, text, tool,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
            FROM read_parquet('{CORPUS_DIR}/transcripts.parquet')
            WHERE text IS NOT NULL""",
)
def scan_transcripts(spark, sf):
    # ts surfaces as a formatted wall-clock string: TIMESTAMP_NTZ formatting
    # is timezone-independent in both engines, so the check cannot drift
    # with the harness session's timezone setting
    d = corpus_dfs(spark, sf)
    return (
        d["transcripts"]
        .dropDuplicates(["conv_id", "turn_idx"])
        .filter(F.col("text").isNotNull())
        .select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
    )


@register(
    "scan_dict",
    sql=f"""SELECT entity_id, canonical, etype, prior,
                   len(aliases) AS n_aliases,
                   array_to_string(aliases, '|') AS aliases_str
            FROM read_parquet('{CORPUS_DIR}/entity_dict.parquet')""",
)
def scan_dict(spark, sf):
    # array column surfaced as (count, joined string): list order is file
    # order in both engines, so the join is deterministic
    return corpus_dfs(spark, sf)["entity_dict"].select(
        "entity_id", "canonical", "etype", "prior",
        F.size("aliases").alias("n_aliases"),
        F.array_join("aliases", "|").alias("aliases_str"),
    )


@register(
    "filter_role",
    sql=f"""SELECT conv_id, turn_idx, role, text
            FROM read_parquet('{CORPUS_DIR}/transcripts.parquet')
            WHERE role IN ('user', 'assistant')""",
)
def filter_role(spark, sf):
    d = corpus_dfs(spark, sf)
    return d["transcripts"].filter(F.col("role").isin("user", "assistant")).select(
        "conv_id", "turn_idx", "role", "text"
    )


@register(
    "kg_turn_order",
    sql=f"""SELECT conv_id, turn_idx,
                   ROW_NUMBER() OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx, ts) AS turn_rank
            FROM read_parquet('{CORPUS_DIR}/transcripts.parquet')""",
)
def kg_turn_order(spark, sf):
    d = corpus_dfs(spark, sf)
    return extract.with_turn_order(d["transcripts"]).select(
        "conv_id", "turn_idx", "turn_rank"
    )


# ---------------------------------------------------------------------------
# extraction / linking / canonicalization (the SQL twin carries the oracle)
# ---------------------------------------------------------------------------


@register("udf_mention_detect", sql=None)  # finditer longest-first overlap
def udf_mention_detect(spark, sf):       # semantics not RE2-expressible
    d = corpus_dfs(spark, sf)
    t = d["transcripts"].withColumn(
        "text_norm", extract.normalize_text_col(F.col("text"))
    )
    m = extract.detect_mentions(t, d["entity_dict"])
    return (
        m.select("conv_id", "turn_idx", F.explode("mentions").alias("m"))
        .select("conv_id", "turn_idx", "m.surface", "m.start", "m.end", "m.mtype")
    )


@register(
    "udf_triple_extract",
    sql=_kg_sql(
        """SELECT conv_id, turn_idx, subj_raw, pred, obj_raw, rule_id,
                  subj_kind, obj_kind FROM raw"""
    ),
)
def udf_triple_extract(spark, sf):
    return _stage(spark, sf, "raw")


@register(
    "link_score",
    sql=_kg_sql(
        """SELECT surface, entity_id, canonical, etype, link_score,
                  CAST(rank AS INTEGER) AS rank FROM (
             SELECT u.surface, a.entity_id, a.canonical, a.etype,
                    (CASE WHEN u.surface = a.alias_norm THEN 1.0
                          ELSE (1.0 - CAST(levenshtein(u.surface, a.alias_norm) AS DOUBLE)
                                / CAST(greatest(length(u.surface), length(a.alias_norm)) AS DOUBLE))
                               * 0.9 END
                     + a.prior * 0.01) AS link_score,
                    row_number() OVER (
                      PARTITION BY u.surface
                      ORDER BY (CASE WHEN u.surface = a.alias_norm THEN 1.0
                                     ELSE (1.0 - CAST(levenshtein(u.surface, a.alias_norm) AS DOUBLE)
                                           / CAST(greatest(length(u.surface), length(a.alias_norm)) AS DOUBLE))
                                          * 0.9 END
                                + a.prior * 0.01) DESC, a.entity_id) AS rank
             FROM (SELECT DISTINCT subj_raw AS surface FROM raw
                   WHERE subj_kind = 'surface') u
             JOIN al a ON split_part(u.surface, ' ', 1) = split_part(a.alias_norm, ' ', 1)
           ) WHERE rank <= 1"""
    ),
)
def link_score(spark, sf):
    d = corpus_dfs(spark, sf)
    raw = _stage(spark, sf, "raw")
    surfaces = (
        raw.filter(F.col("subj_kind") == "surface")
        .select(F.col("subj_raw").alias("surface"))
        .distinct()
    )
    return link.score_candidates(surfaces, d["entity_dict"])


@register("lsh_block", sql=_kg_sql("SELECT a, b, jaccard FROM edges"))
def lsh_block(spark, sf):
    """MinHash-LSH candidate pairs over unlinked surfaces. The oracle is the
    ALL-PAIRS Jaccard edge set — equality holds because LSH recall is total
    on this corpus (P/R gate); the jaccard values themselves are exact
    integer-ratio arithmetic, identical in both engines."""
    return _stage(spark, sf, "pairs")


@register("cc_iterate", sql=_kg_sql("SELECT node, component FROM cc"))
def cc_iterate(spark, sf):
    return canon.connected_components(_stage(spark, sf, "pairs").select("a", "b"))


@register(
    "canon_rewrite",
    sql=_kg_sql(
        "SELECT subj, pred, obj, conv_id, turn_idx, rule_id FROM final"
    ),
)
def canon_rewrite(spark, sf):
    raw, links = _stage(spark, sf, "raw"), link.stage_link(corpus_dfs(spark, sf)["entity_dict"])
    return canon.rewrite(raw, links, canon.stage_canon(raw, links))


# the oracle replays the exact MinHash definition: md5-prefix base hash per
# char-shingle, the SAME fixed-seed affine (A_i, B_i) literals as the Spark
# plan (canon.MH_AFFINE), min per hash function — full value parity since
# the round-3 switch to engine-neutral hashing (kgpipe/nhash.py)
_MINHASH_SIG_COLS = ",\n       ".join(
    f"MIN({nhash.affine_sql('hb', a, b)}) AS mh_{i}"
    for i, (a, b) in enumerate(canon.MH_AFFINE)
)


@register(
    "agg_minhash_sig",
    sql=_kg_sql(
        f"""SELECT surface, {_MINHASH_SIG_COLS}
    FROM (SELECT surface, {nhash.basep_sql('g')} AS hb
          FROM (SELECT surface, UNNEST({_SHINGLES.format(s='surface')}) AS g
                FROM (SELECT DISTINCT subj_raw AS surface FROM raw
                      WHERE subj_kind = 'surface')))
    GROUP BY surface"""
    ),
)
def agg_minhash_sig(spark, sf):
    raw = _stage(spark, sf, "raw")
    surfaces = (
        raw.filter(F.col("subj_kind") == "surface")
        .select(F.col("subj_raw").alias("surface"))
        .distinct()
    )
    return canon.minhash_signatures(surfaces)


# ---------------------------------------------------------------------------
# materialization + sinks (shared checkpointed run)
# ---------------------------------------------------------------------------


@register("triple_materialize", sql=_kg_sql("SELECT * FROM mat"))
def triple_materialize(spark, sf):
    """Full Stage A..E including dedup + lineage + partition keys (reads
    the shared checkpointed run's final table). The oracle re-derives the
    whole table in SQL, INCLUDING the sha256 lineage ids and the sink
    part_key buckets (pipeline.part_key_col is sha2-based precisely so the
    physical layout is verifiable outside the JVM)."""
    import os

    wd = _ckpt_run(spark, sf)
    return io_tables.read_stage(spark, os.path.join(wd, "E_triples"))


@register(
    "kg_triples_per_entity",
    sql=_kg_sql(
        """SELECT subj, COUNT(*) AS n_triples,
                  COUNT(DISTINCT pred) AS n_preds
           FROM trip GROUP BY subj"""
    ),
)
def kg_triples_per_entity(spark, sf):
    """The reference's summarize stage (stats per composer) re-targeted:
    triples per subject entity."""
    out = triple_materialize(spark, sf)
    return out.groupBy("subj").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("pred").alias("n_preds"),
    )


@register(
    "sink_triples",
    sql=_kg_sql(
        """SELECT part_key, COUNT(*) AS n_triples,
                  COUNT(DISTINCT subj) AS n_subjects
           FROM mat GROUP BY part_key"""
    ),
)
def sink_triples(spark, sf):
    """The partitioned triple sink itself (SURVEY.md §2(a)): read the
    E_triples table back from the Iceberg-shim sink and surface its physical
    layout — one row per part_key with triple count and distinct subjects.
    At 100 TB this is `spark.read.table("cat.db.triples")` over bucketed
    Iceberg partitions; readers prune on part_key."""
    wd = _ckpt_run(spark, sf)
    import os

    t = io_tables.read_stage(spark, os.path.join(wd, "E_triples"))
    return t.groupBy("part_key").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
    )


@register("sink_metrics", sql=None)  # manifest/runtime state -> rows-only
def sink_metrics(spark, sf):
    """Per-stage / per-partition metrics surface: run the pipeline, return
    the manifest-derived metrics as a DataFrame (rows, partition counts,
    wall) — the lineage/metrics checkpointing of BASELINE.json."""
    import os

    wd = _ckpt_run(spark, sf)
    rows = []
    for stage in ("B_extract", "D_canon", "E_triples"):
        m = io_tables.read_manifest(os.path.join(wd, stage))
        for part, n in m["partition_counts"].items():
            rows.append((stage, part, int(n), m["fingerprint"]))
    return spark.createDataFrame(
        rows, "stage string, partition string, rows long, fingerprint string"
    )


@register("sink_checkpoint", sql=None)  # resume/runtime state -> rows-only
def sink_checkpoint(spark, sf):
    """Exact-resume evidence (BASELINE.json: "resumable from checkpoint"):
    re-run the pipeline with resume=True over the completed work_dir; every
    stage must be skipped via its manifest fingerprint chain. Returns one
    row per stage with the skip flag and manifest row count."""
    wd = _ckpt_run(spark, sf)
    d = corpus_dfs(spark, sf)
    cfg = pipeline.PipelineConfig(work_dir=wd, input_fingerprint=f"kgm|{sf}")
    p = pipeline.Pipeline(cfg)
    p.run(spark, d["transcripts"], d["entity_dict"], resume=True)
    rows = [
        (m["stage"], bool(m.get("skipped", False)), int(m["rows"]))
        for m in p.metrics
    ]
    return spark.createDataFrame(rows, "stage string, skipped boolean, rows long")


# ---------------------------------------------------------------------------
# theta self-join on an independent surface (TPC-H part names)
# ---------------------------------------------------------------------------

_THETA_SQL = f"""
WITH names AS (SELECT DISTINCT lower(p_name) AS surface FROM part),
sh AS (SELECT surface, {_SHINGLES.format(s="surface")} AS s FROM names)
SELECT a, b, ROUND(jaccard, 4) AS jaccard FROM (
  SELECT x.surface AS a, y.surface AS b,
         CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jaccard
  FROM sh x JOIN sh y ON x.surface < y.surface)
WHERE jaccard >= 0.5
"""


@register("join_theta_selfjoin_lsh", sql=_THETA_SQL)
def join_theta_selfjoin_lsh(spark, sf):
    """Bounded theta self-join (SURVEY.md §2(c)): similar-name pairs from
    the TPC-H part table. Candidate pairs come ONLY from an equi-join on
    MinHash-LSH band keys (never a nested loop); survivors verified by
    exact char-shingle Jaccard. The oracle is the all-pairs form (LSH
    recall is total on this table — pinned by the driver hash check)."""
    from .qreg import load

    names = (
        load(spark, sf, "part")
        .select(F.lower(F.col("p_name")).alias("surface"))
        .distinct()
    )
    return canon.candidate_pairs(names).withColumn(
        "jaccard", F.round("jaccard", 4)
    )
