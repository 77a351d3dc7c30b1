"""Structured Streaming ingestion (graft extension — the reference is
batch-only, SURVEY.md §2(j); additive, not parity-required).

Pattern: readStream over arriving parquet -> watermarked windowed aggs /
stateful dedup -> foreachBatch sink that reuses the batch pipeline stages
with idempotent lineage-id appends. Registry entries use
Trigger.availableNow so they run batch-like under the driver harness.
"""

from __future__ import annotations

import tempfile
import uuid

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .qreg import register


_STAGED: dict[str, str] = {}


@contextmanager
def session_tz_utc(spark: SparkSession):
    """Pin the session timezone to UTC for a scope. The windowed /
    watermark oracles equate Spark's instant-space window alignment with
    DuckDB's wall-clock date_trunc over the NTZ parquet values — an
    identity that holds ONLY when NTZ walls are interpreted as UTC. Our
    own session factory pins UTC, but registry entries run under the
    DRIVER'S session, whose timezone is not ours to configure; scoping it
    here makes the time-windowed streaming entries correct under any
    harness timezone. (TIMESTAMP_NTZ event time would remove the issue
    entirely, but watermarks reject NTZ in this Spark version —
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE, verified.)"""
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    spark.conf.set(key, "UTC")
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source over arriving event files. The source needs a
    directory (testdata ships one file); stage it once per sf into a temp
    dir — in production this is simply the landing directory / Iceberg
    table the stream tails."""
    if sf_dir not in _STAGED:
        import shutil

        d = tempfile.mkdtemp(prefix="stream_src_")
        shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
        _STAGED[sf_dir] = d
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = spark.readStream.schema(static.schema).parquet(_STAGED[sf_dir])
    # parquet stores TIMESTAMP_NTZ; watermarks require TIMESTAMP (LTZ)
    return s.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_rates(stream: DataFrame) -> DataFrame:
    """Tumbling 1-hour event rate per type with a 2-hour watermark: late
    rows beyond the watermark are dropped from open windows.

    The sum accumulates in DECIMAL(18,2) (event values carry exactly two
    decimals, so the cast is lossless) and converts to double only at the
    end: decimal addition is exact and order-independent, so the emitted
    value is identical at any parallelism / micro-batch split — and
    bit-identical to a batch-engine oracle. A double fold would drift in
    the last ulp with partition order."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_available_now(result: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain all available input into an in-memory table, batch-style, in
    `output_mode` ("append", or "complete" for an unwatermarked
    aggregate)."""
    spark = result.sparkSession
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ck_{name}_"))
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


@register(
    "stream_ingest",
    sql="SELECT event_id, user_id, event_type, value FROM events",
)
def stream_ingest(spark, sf):
    """Streaming file-source ingestion (SURVEY.md §2(j)): readStream over
    the landing directory, drained with Trigger.availableNow. Draining the
    full backlog must equal the batch scan exactly — so this one carries a
    full SQL value oracle, not just a rows check."""
    s = stream_events(spark, sf).select("event_id", "user_id", "event_type", "value")
    return run_available_now(s, "ingest", "append")


@register(
    "stream_window_aggs",
    sql="""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_s,
                  event_type, COUNT(*) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           FROM events GROUP BY 1, 2""",
)
def stream_window_aggs(spark, sf):
    """Complete-mode drain of the whole backlog == a batch hourly aggregate,
    so this carries a full value oracle: win_start is projected to epoch
    seconds (session tz pinned UTC; Spark 1h windows and DuckDB date_trunc
    both align to epoch hours) and the sum is the exact decimal fold of
    windowed_rates — both engines produce the same double bit pattern."""
    with session_tz_utc(spark):
        # the tz-sensitive work (NTZ->LTZ cast, window alignment) runs and
        # MATERIALIZES into the memory sink inside this scope
        out = run_available_now(
            windowed_rates(stream_events(spark, sf)), "winagg", "complete"
        )
    # post-scope projection is tz-free: unix_timestamp of a TIMESTAMP
    # (instant) column extracts epoch seconds without consulting the tz
    return out.select(
        F.unix_timestamp("win_start").alias("win_start_s"),
        "event_type",
        "n",
        "sum_value",
    )


_WM_LATE_SQL = """
WITH span AS (
  SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events
), b1 AS (  -- micro-batch 1: newest quartile. Cut = lo + 3/4 of the span in
            -- INTEGER microseconds — bit-exact against the Python timedelta
            -- arithmetic staging the Spark micro-batches.
  SELECT ts FROM events, span
  WHERE ts >= lo + to_microseconds((epoch_us(hi) - epoch_us(lo)) * 3 // 4)
), wm AS (  -- final watermark = max event time - 1 hour = hi - 1h
  SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM b1
)
-- The late replay (the older 75%, arriving two micro-batches after the
-- newest data) faces a late-event filter watermark of hi - 1h and is
-- dropped wholesale (measured: numRowsDroppedByWatermark == its row
-- count). Emitted result = the on-time rows, restricted to day windows
-- the final watermark has closed.
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS win_start_s,
       COUNT(*) AS n
FROM b1, wm
WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
GROUP BY 1
"""


@register("stream_watermark_late", sql=_WM_LATE_SQL)
def stream_watermark_late(spark, sf):
    """Watermark late-data semantics, staged as THREE files drained one per
    micro-batch (newest first, oldest last). Spark's late-event filter uses
    the watermark with a one-batch lag (batch N filters with the watermark
    committed after batch N-1 — measured in this engine version with
    numRowsDroppedByWatermark), so a two-file arrangement never drops
    anything: the late file's rows are filtered against the initial 1970
    watermark, merged into still-live state, and emitted with full counts.
    The three-file arrangement makes the drop real:

      batch 0: newest quartile minus its last 30 minutes — advances the
               committed watermark to ~hi - 30min - 1h;
      batch 1: the final 30 minutes (contains max ts) — watermark commits
               to hi - 1h;
      batch 2: the oldest 75% — every row is >= 1h older than BOTH
               candidate filter watermarks, so the replay is dropped
               wholesale whichever lag the engine applies.

    Output = on-time rows in day windows the final watermark (hi - 1h) has
    closed; the cut-day window's count provably excludes the dropped
    replay. The split points are integer-microsecond arithmetic end to end
    (epoch micros collected via unix_micros, predicates rebuilt with
    timestamp_micros) — the values never round-trip through driver-local
    naive datetimes, so the DuckDB twin reproduces the exact micro-batch
    assignment under any harness timezone, DST transitions included, and
    the entry carries a full value oracle."""
    import os
    import shutil

    # the WHOLE entry runs UTC-pinned: staging casts, split predicates and
    # the drain — a with-block, so an exception anywhere in the staging
    # cannot leak the timezone override into the shared driver session
    with session_tz_utc(spark):
        static = spark.read.parquet(f"{sf_dir_events(sf)}").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        lo_us, hi_us = static.select(
            F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
        ).first()
        cut = F.timestamp_micros(F.lit(lo_us + (hi_us - lo_us) * 3 // 4))
        tail = F.timestamp_micros(F.lit(hi_us - 30 * 60 * 1_000_000))
        d = tempfile.mkdtemp(prefix="wm_src_")
        parts = [
            ("b0", (F.col("ts") >= cut) & (F.col("ts") < tail)),
            ("b1", F.col("ts") >= tail),
            ("b2", F.col("ts") < cut),
        ]
        for sub, pred in parts:
            static.filter(pred).coalesce(1).write.parquet(f"{d}/{sub}")
        stage = tempfile.mkdtemp(prefix="wm_in_")
        import time

        now = time.time()
        for i, (sub, _) in enumerate(parts):
            src = next(f for f in os.listdir(f"{d}/{sub}") if f.endswith(".parquet"))
            dst = f"{stage}/{i}_{sub}.parquet"
            shutil.copy(f"{d}/{sub}/{src}", dst)
            # FileStreamSource orders the backlog by modification time; copies
            # can land within the same clock tick, so pin strictly increasing
            # mtimes to make micro-batch order (newest data first) deterministic
            os.utime(dst, (now + i, now + i))
        s = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            s.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.unix_timestamp(F.col("w.start")).alias("win_start_s"), "n")
        )
        return run_available_now(agg, "wmlate", "append")


def sf_dir_events(sf_dir: str) -> str:
    return f"{sf_dir}/events.parquet"


_STATEFUL_SQL_TEMPLATE = """
WITH agg AS (
  SELECT conv_id,
         CAST(SUM(CASE WHEN turn_idx % 2 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_even,
         CAST(SUM(CASE WHEN turn_idx % 2 = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_odd
  FROM read_parquet('{corpus}/transcripts.parquet') GROUP BY conv_id)
SELECT conv_id, n_even AS batch_rows, n_even AS turns_seen
FROM agg WHERE n_even > 0
UNION ALL
SELECT conv_id, n_odd AS batch_rows, n_even + n_odd AS turns_seen
FROM agg WHERE n_odd > 0
"""


def _stateful_sql() -> str:
    from . import synth

    return _STATEFUL_SQL_TEMPLATE.format(corpus=synth.stage_corpus(40))


@register("stream_stateful_applyinpandas", sql=_stateful_sql())
def stream_stateful_applyinpandas(spark, sf):
    """Arbitrary stateful per-conversation processing
    (applyInPandasWithState, SURVEY.md §2(j)): the corpus arrives as two
    micro-batches (turn_idx parity split); per conv_id the state carries
    the running turn count across batches, each batch emitting the
    conversation's cumulative progress. This is the shape incremental
    per-conversation extraction state would use at 10^12-turn scale.

    Value oracle: batch 1 emits (conv, n_even, n_even), batch 2 emits
    (conv, n_odd, n_even + n_odd) — expressible as two grouped selects
    over the staged corpus. Batch order is pinned by distinct file
    mtimes (the file stream sorts by modification time)."""
    import os
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from . import schemas, synth

    t = pd.read_parquet(f"{synth.stage_corpus(40)}/transcripts.parquet")
    src = tempfile.mkdtemp(prefix="state_in_")
    p_even = os.path.join(src, "0_even.parquet")
    p_odd = os.path.join(src, "1_odd.parquet")
    t[t["turn_idx"] % 2 == 0].to_parquet(p_even, index=False)
    t[t["turn_idx"] % 2 == 1].to_parquet(p_odd, index=False)
    now = os.path.getmtime(p_odd)
    os.utime(p_even, (now - 10, now - 10))  # batch 1 strictly first

    stream = (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def track(key, pdfs, state: GroupState):
        seen = state.get[0] if state.exists else 0
        batch_rows = 0
        for pdf in pdfs:
            batch_rows += len(pdf)
        seen += batch_rows
        state.update((seen,))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "batch_rows": [batch_rows], "turns_seen": [seen]}
        )

    out = stream.groupBy("conv_id").applyInPandasWithState(
        track,
        outputStructType="conv_id string, batch_rows int, turns_seen int",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(out, "stateful", "append")


@register(
    "stream_stateful_dedup",
    sql="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_stateful_dedup(spark, sf):
    """Stateful streaming dedup: dropDuplicatesWithinWatermark keeps ONE
    event per (user_id, event_type) while state older than the watermark
    ages out. WHICH event survives per key is an arrival-order artifact
    (per-partition first — not a row property), so the entry returns the
    deterministic part of the contract: exactly one output row per
    distinct live key. That invariant is the value oracle; survivor choice
    stays engine-internal.

    ORACLE SCOPE: 'one row per distinct key' is guaranteed here ONLY
    because stream_events stages the whole backlog as a single file ==
    a single micro-batch. Across multiple micro-batches,
    dropDuplicatesWithinWatermark may legitimately re-emit a key whose
    state aged past the 2h watermark — the DISTINCT oracle would then
    under-count. The single-file staging is asserted below so a future
    multi-file staging change breaks loudly, not silently."""
    import os

    s = stream_events(spark, sf).withWatermark("ts", "2 hours")
    n_files = len([f for f in os.listdir(_STAGED[sf]) if f.endswith(".parquet")])
    assert n_files == 1, (
        f"stream_stateful_dedup's DISTINCT oracle requires a "
        f"single-micro-batch backlog; staged dir has {n_files} files"
    )
    dedup = s.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_available_now(dedup, "dedup", "append")


def incremental_triples(
    spark: SparkSession,
    transcripts_dir: str,
    entity_dict: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
) -> None:
    """stream_sink: streaming ingestion of arriving transcript files. Each
    micro-batch runs the batch pipeline's Stages A (dedup within the
    batch) and B, canon.rewrite against Stage C's alias map with no labels
    (the link, else the raw surface), and pipeline.publish, the batch
    Stage E: re-delivered files cannot duplicate triples. Stage D stays
    batch-only, as canonicalization groups surfaces across the corpus."""
    from . import canon, extract, link, pipeline, schemas

    stream = (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .parquet(transcripts_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )

    links, no_labels = link.stage_link(entity_dict), canon.driver_labels(spark, {})

    def process(batch_df: DataFrame, batch_id: int) -> None:
        raw = extract.stage_extract(pipeline.stage_ingest(batch_df))
        triples = canon.rewrite(raw, links, no_labels)
        pipeline.publish(triples, batch_df, sink_dir, f"stream-batch-{batch_id}")

    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


def _stream_sink_sql() -> str:
    """SQL twin of the foreachBatch sink: extraction + linking + coalesce
    rewrite (no canon stage in the incremental path) + distinct, then the
    sink columns of _kg_sql's `mat` CTE (kgqueries.SINK_SQL), over the
    staged 40-conv corpus both engines read."""
    from . import synth
    from .kgqueries import SINK_SQL, _kg_sql

    trip = """(SELECT DISTINCT COALESCE(subj_link, subj_raw) AS subj, pred,
                COALESCE(obj_link, obj_raw) AS obj, conv_id, turn_idx, rule_id
         FROM linked)"""
    return _kg_sql(SINK_SQL.format(src=trip), corpus_dir=synth.stage_corpus(40))


@register("stream_sink_incremental", sql=_stream_sink_sql())
def stream_sink_incremental(spark, sf):
    """End-to-end streaming triples: stream the staged corpus in,
    ingest+extract+link per micro-batch, publish. Draining the full
    backlog must equal the batch extraction+linking semantics exactly —
    sink layout (part_key) included — pinned by the SQL value oracle over
    the same staged parquet."""
    import shutil

    from . import io_tables, synth

    d = synth.stage_corpus(40)
    src = tempfile.mkdtemp(prefix="stream_in_")
    shutil.copy(f"{d}/transcripts.parquet", f"{src}/part0.parquet")
    edf = spark.read.parquet(f"{d}/entity_dict.parquet")
    sink = tempfile.mkdtemp(prefix="stream_sink_")
    ck = tempfile.mkdtemp(prefix="stream_ck_")
    incremental_triples(spark, src, edf, sink, ck)
    return io_tables.read_stage(spark, sink)
