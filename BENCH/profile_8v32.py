"""Stage-isolated profiling of the 8->32 scaling pair.

BENCH/scaling_8v32_fused.md reports 0.605 efficiency for the full pipeline
at 16M turns and BASELINE.md attributes it to single-box saturation of the
mapInPandas extraction stages. That attribution was narrative; this script
tests it by timing ISOLATED jobs at taskset-pinned local[8] and local[32]
on the same corpus:

  scan_jvm    scan -> normalize -> anchor prefilter -> count
              (whole-stage codegen only; no Python workers, no shuffle)
  extract_py  scan_jvm + the mapInPandas triple extraction
              (adds 1 Python worker per task; the suspect stage)
  shuffle_agg scan -> repartition(conv_id) -> per-conv window dedup -> count
              (the Stage A shuffle shape; JVM shuffle path, no Python)
  extract_py_smallbatch / _bigbatch
              extract_py with arrow.maxRecordsPerBatch 2048 / 50000
              (mitigation probe: is the gap feeder/batch-shaped?)

Per (level, job): one warm-up pass then `--trials` measured passes, best-of
reported. Protocol matches run_scaling.py's scaled mode: fresh pinned JVM
per level, heap min(3*cores,48)g, tmpfs scratch, shuffle partitions 2x
cores. Writes BENCH/profile_8v32.md.

Usage: python BENCH/profile_8v32.py [--turns 16000000] [--trials 1]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import os as _os
from kgpipe import extract, schemas
from kgpipe import pipeline as _pipeline_mod
from kgpipe.session import get_spark
from pyspark.sql import functions as F
from pyspark.sql.window import Window

cores = {cores}
corpus = {corpus!r}
trials = {trials}
only = {only!r}  # job-name filter; empty = all
shm = f"/dev/shm/kgprof_{{cores}}"
_os.makedirs(shm, exist_ok=True)
spark = get_spark(
    "profile",
    master=f"local[{{cores}}]",
    shuffle_partitions=2 * cores,
    extra_conf={{"spark.local.dir": shm, "spark.driver.memory": {driver_mem!r}}},
)
spark.sparkContext.setLogLevel("ERROR")
t = spark.read.schema(schemas.TRANSCRIPTS).parquet(corpus + "/transcripts.parquet")
# publish probes emit ~1 row/turn — footer-metadata count (no scan) sizes
# their task count exactly the way the real pipeline does
n_rows = t.count()


def scan_jvm():
    d = t.withColumn("text_norm", extract.normalize_text_col(F.col("text")))
    d = d.filter(extract.anchor_prefilter(F.col("text_norm")))
    return d.count()


def extract_py():
    return extract.stage_extract(t).count()


def _publish_df():
    # Stage E's input shape without Stage B: cheap projection at ~1
    # row/turn, bucket-key repartition -> hash-aggregate distinct ->
    # sha256 lineage id, exactly the pipeline's publish plan.
    return (
        t.select(
            F.concat(F.lit("e:"), F.col("conv_id")).alias("subj"),
            F.lit("mentions").alias("pred"),
            F.substring(F.col("text"), 1, 40).alias("obj"),
            F.col("conv_id"),
            F.col("turn_idx"),
        )
        .withColumn("part_key", F.pmod(F.xxhash64("subj"), F.lit(128)).cast("int"))
        # mirror the real publish stage's task sizing (pipeline.
        # publish_task_count: sink buckets x Zipf salt factor — the
        # bucket-aligned arm that won the round-4 A/B) so this isolation
        # probe keeps reproducing the pipeline's actual Stage-E plan
        .repartition(_pipeline_mod.publish_task_count(n_rows, 128, cores), "part_key")
        .distinct()
        .withColumn(
            "lineage_id",
            F.sha2(F.concat_ws("\x1f", "subj", "pred", "obj", "conv_id", "turn_idx"), 256),
        )
    )


def publish_shape():
    # Stage E in isolation, full: ... -> partitioned parquet write.
    import tempfile, shutil
    out_dir = tempfile.mkdtemp(prefix="pubshape_", dir=shm)
    _publish_df().write.partitionBy("part_key").mode("overwrite").parquet(out_dir)
    n = spark.read.parquet(out_dir).count()
    shutil.rmtree(out_dir, ignore_errors=True)
    return n


def publish_nosink():
    # Stage E minus the sink: count() after distinct+sha256. The gap to
    # publish_shape is the write (per-task part_key sort + parquet encode
    # + commit); if THIS probe scales but publish_shape doesn't, the
    # non-scaling resource is in the write path, not shuffle/agg/hash CPU.
    return _publish_df().count()


def publish_nopart():
    # Full write but WITHOUT partitionBy: same bytes, no dynamic-partition
    # sort and a flat single-dir commit. Gap to publish_shape isolates the
    # hive-layout machinery (128-dir fan-out + driver commit protocol).
    import tempfile, shutil
    out_dir = tempfile.mkdtemp(prefix="pubflat_", dir=shm)
    _publish_df().write.mode("overwrite").parquet(out_dir)
    n = spark.read.parquet(out_dir).count()
    shutil.rmtree(out_dir, ignore_errors=True)
    return n


def shuffle_agg():
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    d = (
        t.repartition("conv_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return d.count()


JOBS = [
    ("scan_jvm", scan_jvm, {{}}),
    ("extract_py", extract_py, {{}}),
    ("shuffle_agg", shuffle_agg, {{}}),
    ("publish_shape", publish_shape, {{}}),
    ("publish_nosink", publish_nosink, {{}}),
    ("publish_nopart", publish_nopart, {{}}),
    ("extract_py_smallbatch", extract_py,
     {{"spark.sql.execution.arrow.maxRecordsPerBatch": "2048"}}),
    ("extract_py_bigbatch", extract_py,
     {{"spark.sql.execution.arrow.maxRecordsPerBatch": "50000"}}),
]

out = {{}}
for name, fn, conf in JOBS:
    if only and name not in only:
        continue
    saved = {{k: spark.conf.get(k, None) for k in conf}}
    for k, v in conf.items():
        spark.conf.set(k, v)
    walls, rows = [], None
    for trial in range(trials + 1):
        t0 = time.time()
        rows = fn()
        walls.append(time.time() - t0)
    for k, v in saved.items():
        if v is not None:
            spark.conf.set(k, v)
    out[name] = {{"wall_s": round(min(walls[1:]), 2), "rows": rows,
                 "all_walls": [round(w, 2) for w in walls]}}
print("RESULT " + json.dumps({{"cores": cores, "jobs": out}}))
"""


def run_level(cores: int, corpus: str, trials: int, only: list) -> dict:
    code = CHILD.format(
        repo=REPO, cores=cores, corpus=corpus, trials=trials, only=only,
        driver_mem=f"{min(3 * cores, 48)}g",
    )
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from local[{cores}]:\n{out.stderr[-3000:]}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=16_000_000)
    ap.add_argument("--trials", type=int, default=1)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--n4", type=int, default=32)
    ap.add_argument(
        "--jobs", default="",
        help="comma-separated job-name filter (default: all jobs)",
    )
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from bench import corpus_parquet

    n_convs = max(200, args.turns // 70)
    corpus = corpus_parquet(n_convs)

    only = [j for j in args.jobs.split(",") if j] if args.jobs else []
    lo = run_level(args.n, corpus, args.trials, only)
    hi = run_level(args.n4, corpus, args.trials, only)

    ratio = args.n4 / args.n
    lines = [
        f"# Stage-isolated profile of the {args.n}->{args.n4} pair "
        f"(~{n_convs * 70:,} turns, trials={args.trials}, "
        "protocol = run_scaling.py scaled mode)",
        "",
        "| job | local[%d] s | local[%d] s | speedup | efficiency |"
        % (args.n, args.n4),
        "| --- | --- | --- | --- | --- |",
    ]
    effs = {}
    for name in lo["jobs"]:
        a, b = lo["jobs"][name]["wall_s"], hi["jobs"][name]["wall_s"]
        sp = a / b if b else float("inf")
        effs[name] = round(sp / ratio, 3)
        lines.append(
            f"| {name} | {a} | {b} | {sp:.2f}x | {effs[name]} |"
        )
    summary = {
        "corpus_turns_approx": n_convs * 70,
        f"local{args.n}": lo,
        f"local{args.n4}": hi,
        "efficiency": effs,
    }
    print(json.dumps(summary))
    lines += ["", "Raw walls (first = discarded warm-up):"]
    for lev, r in ((args.n, lo), (args.n4, hi)):
        for name, j in r["jobs"].items():
            lines.append(f"- local[{lev}] {name}: {j['all_walls']} rows={j['rows']}")
    out_name = f"profile_{args.n}v{args.n4}_{args.turns / 1_000_000:g}M.md" \
        if (args.n, args.n4, args.turns) != (8, 32, 16_000_000) \
        else "profile_8v32.md"
    if only:
        # a --jobs-filtered run must never clobber the full-suite evidence
        # file (same hazard the size/persist suffixes in run_scaling.py
        # guard against)
        out_name = out_name[:-3] + "_partial.md"
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        f.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
