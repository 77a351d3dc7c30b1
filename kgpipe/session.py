"""SparkSession factory.

All entry points (tests, bench, driver harness) build sessions here so the
scale-relevant configs are applied uniformly:

- AQE on (coalesce + skew-join splitting) — required by BASELINE.json:6
  ("AQE skew-join splitting").
- shuffle.partitions proportional to cores so the local[8]-vs-local[32]
  scaling comparison (SURVEY.md §6.1) is fair.
- Arrow enabled, batch size measured not guessed: 50k-row batches (~15 MB
  at transcript text widths) amortize per-batch overhead 1.3-1.8x over the
  old conservative 4096 without worker memory pressure (BENCH/
  profile_8v32.md).

Driver memory (8g) and the Arrow batch size are defaults; callers override
them, or any other setting, through `extra_conf`. Block and parquet codecs
stay at Spark's own defaults (lz4, snappy), so spark-submit `--conf` values
for them take effect (the measured lz4-vs-zstd trade: DEPLOY.md §5).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgpipe",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # 2x cores: enough fan-out for map-side combine without tiny-task
        # overhead at sandbox scale; on a real cluster this is set per-job.
        shuffle_partitions = 2 * cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true). The tempting
        # alternative — size-based coalescing (parallelismFirst=false) —
        # was measured BOTH ways: it cuts tiny-stage scheduling overhead
        # in the canon DAG (fused 4M pipeline 13.4s -> 9.5s on local[32])
        # but halves 16M-turn throughput (103s vs 50s) because byte size
        # is a bad proxy for CPU-bound extraction work and AQE under-
        # parallelizes the big stages. Parallelism wins at scale.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 50000 (was 4096): measured on the 16M-turn corpus (BENCH/
        # profile_8v32.md) — bigger Arrow batches amortize the per-batch
        # serialization + Python dispatch and cut the extraction stage wall
        # 1.3-1.8x at every parallelism level (full pipeline local[8] 120k
        # -> 216k triples/s), while 50k rows x ~300B text is ~15 MB per
        # batch — nowhere near worker memory pressure. The 2->8 scaling
        # gate stays green under the new default: 0.845 checkpointed /
        # 0.834 fused-flat (BENCH/BASELINE.md §1; the scaled-resource
        # fused pair measures 0.772 and is disclosed there).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
