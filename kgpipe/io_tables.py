"""Table-format shim: Iceberg-shaped interface over partitioned Parquet.

Production target is Iceberg (`df.writeTo("cat.db.triples").append()`,
partitioned by bucket(subj) — BASELINE.json: "partitioned Iceberg triple
tables"); the sandbox has no Iceberg runtime and no network for jars
(SURVEY.md §0.5), so this module exposes the minimal surface the pipeline
needs — append / read / manifest — over parquet paths + a JSON manifest.
Iceberg is not wired: every function here reads and writes parquet paths,
and an Iceberg port would replace their bodies behind the same signatures
(DEPLOY.md §1).

The manifest carries the stage fingerprint and per-partition row counts that
power exact resume (BASELINE.json: "checkpoints per-partition triple counts,
lineage ids, and extraction metrics to enable exact resume").

Append contract (the triple sink; pipeline.publish is its one writer): the
delta's lineage ids are anti-joined against the sink whenever it holds
data files (has_data), manifest or not, so a publish whose job committed
but whose manifest was never written is not duplicated by its re-run. The
manifest then counts every file in the sink: the cumulative table.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST.json"


def write_stage(
    df: DataFrame,
    path: str,
    stage: str,
    fingerprint: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> dict:
    """Materialize a stage checkpoint + manifest. Returns the manifest.

    mode="append" is the idempotent-publish path (final triple sink): the
    delta is appended and the manifest reflects the cumulative table."""
    t0 = time.time()
    # an append opens only the footers of files the sink's manifest does not
    # count (its own, and any of a publish that crashed before its manifest)
    known = (read_manifest(path) or {}).get("file_rows", {}) if mode == "append" else {}
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    # per-partition row counts straight from parquet footers (driver-side
    # metadata read — no second Spark scan of the stage output). Keys are
    # the hive partition dirs when partitioned, else the file names.
    # Footer reads are I/O-latency bound and independent — do them in a
    # thread pool so a wide sink (100s of buckets) doesn't serialize.
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    files = [os.path.relpath(os.path.join(root, f), path)
             for root, _dirs, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    new = [f for f in files if f not in known]
    with ThreadPoolExecutor(max_workers=16) as ex:
        rows = ex.map(lambda f: pq.ParquetFile(os.path.join(path, f)).metadata.num_rows, new)
        opened = dict(zip(new, rows))
    file_rows = {f: known[f] if f in known else opened[f] for f in files}
    partition_counts: dict[str, int] = {}
    for f, n in file_rows.items():
        key = os.path.dirname(f) or f
        partition_counts[key] = partition_counts.get(key, 0) + n
    manifest = {
        "stage": stage,
        "fingerprint": fingerprint,
        "rows": int(sum(partition_counts.values())),
        "partition_counts": partition_counts,
        "file_rows": file_rows,
        "wall_ms": int((time.time() - t0) * 1000),
        "format": "parquet-shim",  # prod: "iceberg" (manifest comes free)
        # schema travels with the checkpoint: a zero-row stage writes no
        # parquet data files, so read-back must not depend on inference
        "schema": df.schema.jsonValue(),
    }
    # write-then-rename: a crash mid-dump leaves the previous manifest
    # whole, never a truncated one. The temp name keeps the leading "_",
    # so Spark's parquet reader skips a leftover one (the footer walk
    # above reads *.parquet only).
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return manifest


def read_stage(spark: SparkSession, path: str) -> DataFrame:
    """Read a stage checkpoint back with the schema its manifest carries."""
    m = read_manifest(path)
    if m is None or "schema" not in m:
        return spark.read.parquet(path)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(m["schema"])
    if not has_data(path):
        # zero-row checkpoint: no data files to scan at all
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def has_data(path: str) -> bool:
    """Whether any parquet data file sits under path (a missing path holds
    none)."""
    return any(f.endswith(".parquet") for _r, _d, fs in os.walk(path) for f in fs)


def completed_manifest(path: str, fingerprint: str) -> dict | None:
    """The manifest of a stage that is resumable-from: it exists, parses
    and its fingerprint (config hash + upstream fingerprint chain) matches."""
    try:
        m = read_manifest(path)
    except (OSError, json.JSONDecodeError):
        return None
    return m if m is not None and m.get("fingerprint") == fingerprint else None


def read_manifest(path: str) -> dict | None:
    mpath = os.path.join(path, MANIFEST)
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        return json.load(f)
