"""Scaling-efficiency harness (BASELINE.json north_rule: >=0.8 throughput
scaling efficiency between N and 4N executors).

Sandbox protocol (SURVEY.md §6.1): no multi-node cluster exists here, so
the two cluster sizes are two taskset-pinned parallelism levels (default
local[2] vs local[8] — the regime where cores, not the box's shared
memory bus, are the binding constraint; see BENCH/profile_8v32.md) on the
SAME seeded corpus, each in a fresh JVM subprocess with shuffle
partitions pinned to 2x cores. Each level runs one warm-up pass
(JIT/codegen) then `trials` measured passes; best-of is reported (the
machine is shared, so min is the least-noise estimator). MEASUREMENT
HYGIENE: results are only valid if nothing else runs on the box — a
concurrent pytest/crosscheck session (unpinned, local[32]) steals the
pinned cores and inflates the small level's walls arbitrarily.

Writes BENCH/BASELINE.md and prints a JSON summary.

Usage: python BENCH/run_scaling.py [--turns 1000000] [--trials 2]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time, tempfile
sys.path.insert(0, {repo!r})
from kgpipe import pipeline, schemas
from kgpipe.session import get_spark

cores = {cores}
corpus = {corpus!r}
warm_corpus = {warm_corpus!r}  # trial 0 (discarded) runs here; same code paths
scaled = {scaled!r} == "scaled"  # tmpfs scratch only in full scaled mode
# resource-scaled mode: shuffle + stage sinks on tmpfs (a real N-node
# cluster has N nodes' worth of local disk; one shared root disk caps the
# larger level's I/O exactly where a real cluster would scale it).
# flat mode: default local dir — both levels share the same disk budget.
import os as _os
import tempfile as _tf
extra = {{"spark.driver.memory": {driver_mem!r}}}
if scaled:
    shm = f"/dev/shm/kgscale_{{cores}}"
    _os.makedirs(shm, exist_ok=True)
    extra["spark.local.dir"] = shm
else:
    shm = _tf.gettempdir()
spark = get_spark(
    "scaling",
    master=f"local[{{cores}}]",
    shuffle_partitions=2 * cores,
    extra_conf=extra,
)
spark.sparkContext.setLogLevel("ERROR")

walls = []
stage_ms = None
for trial in range({trials} + 1):  # trial 0 = warm-up
    src = warm_corpus if trial == 0 else corpus
    t = spark.read.schema(schemas.TRANSCRIPTS).parquet(src + "/transcripts.parquet")
    e = spark.read.schema(schemas.ENTITY_DICT).parquet(src + "/entity_dict.parquet")
    t0 = time.time()
    cfg = pipeline.PipelineConfig(
        work_dir=tempfile.mkdtemp(prefix=f"scale{{cores}}_{{trial}}_", dir=shm),
        input_fingerprint=f"scale{{trial}}",
        checkpoints={checkpoints},
    )
    p = pipeline.Pipeline(cfg)
    n = p.run(spark, t, e)["rows"]
    walls.append(time.time() - t0)
    stage_ms = {{m["stage"]: m["total_ms"] for m in p.metrics}}
    spark.catalog.clearCache()
    import shutil
    shutil.rmtree(cfg.work_dir, ignore_errors=True)
best = min(walls[1:])
codec = spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4")
print("RESULT " + json.dumps({{"cores": cores, "wall_s": round(best, 2),
                               "all_walls": [round(w, 2) for w in walls],
                               "triples": n, "stage_ms": stage_ms,
                               "triples_per_sec": round(n / best, 1),
                               "io_codec": codec}}))
"""


def driver_memory(cores: int, resources: str) -> str:
    """spark.driver.memory of one level's child session."""
    if resources == "scaled":
        # aggregate memory scales with executor count on a real cluster: an
        # N-core level gets N executors' worth of heap, 4N gets 4x. A flat
        # heap would make the larger level GC 4x harder on the same garbage
        # rate — an artifact no real 4N cluster has.
        # capped: heap + tmpfs shuffle files + OS must fit the box's RAM — an
        # uncapped 3g x 32 = 96g heap thrashed the 125G host
        return f"{min(3 * cores, 48)}g"
    # flat-resource mode (primary fused evidence since round 2): both
    # levels get the identical heap and share the default local dir, so
    # the efficiency number cannot be an artifact of the per-level
    # resource scaling above
    return "8g"


def run_level(
    cores: int, corpus: str, trials: int, checkpoints: bool, resources: str,
    warm_corpus: str | None = None,
) -> dict:
    code = CHILD.format(
        repo=REPO,
        cores=cores,
        corpus=corpus,
        warm_corpus=warm_corpus or corpus,
        trials=trials,
        checkpoints=checkpoints,
        scaled=resources,
        driver_mem=driver_memory(cores, resources),
    )
    # pin the process tree to exactly `cores` CPUs: a local[N] JVM otherwise
    # borrows idle cores for Python workers/GC/shuffle threads, which a real
    # N-core executor does not have — unpinned, the small level's throughput
    # is inflated and the N->4N comparison is unfair
    env = dict(os.environ)
    # kgpipe must be importable in the child's PYTHON WORKERS, not just its
    # driver (the CHILD template's sys.path.insert only covers the driver):
    # workers resolve imports via PYTHONPATH, which previously worked only
    # because every invocation happened to cwd at the repo root.
    env["PYTHONPATH"] = REPO + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=7200,
        env=env,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from local[{cores}]:\n{out.stderr[-2000:]}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=10_000_000)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument(
        "--mode",
        choices=["fused", "ckpt"],
        default="fused",
        help="fused = in-memory stage boundaries (throughput config); "
        "ckpt = parquet checkpoints every stage (resumable config)",
    )
    ap.add_argument("--n", type=int, default=2, help="small level cores (N)")
    ap.add_argument("--n4", type=int, default=8, help="large level cores (4N)")
    ap.add_argument(
        "--resources",
        choices=["scaled", "flat"],
        default="scaled",
        help="scaled = heap and scratch disk scale with core count; "
        "flat = identical heap + shared disk at both levels (primary "
        "fused evidence)",
    )
    ap.add_argument(
        "--warm-turns",
        type=int,
        default=None,
        help="warm the JVM (discarded trial 0) on a smaller corpus of this "
        "many turns instead of the full one — same code paths, so JIT/"
        "codegen/Python workers still warm, but a 64M-turn level does not "
        "pay a full discarded pass (~1h at local[2])",
    )
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from bench import corpus_parquet

    n_convs = max(200, args.turns // 70)
    corpus = corpus_parquet(n_convs)
    warm = (
        corpus_parquet(max(200, args.warm_turns // 70))
        if args.warm_turns
        else None
    )

    ck = args.mode == "ckpt"
    r8 = run_level(args.n, corpus, args.trials, ck, args.resources, warm)
    r32 = run_level(args.n4, corpus, args.trials, ck, args.resources, warm)
    eff = (r32["triples_per_sec"] / r8["triples_per_sec"]) / (args.n4 / args.n)
    warm_note = (
        f" on a {args.warm_turns:,}-turn corpus, same code paths"
        if args.warm_turns
        else ""
    )
    summary = {
        "corpus_turns_approx": n_convs * 70,
        "resources": args.resources,
        f"local{args.n}": r8,
        f"local{args.n4}": r32,
        f"scaling_efficiency_{args.n}_to_{args.n4}": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(summary))

    md = f"""# BENCH/BASELINE — measured numbers (sandbox scaling protocol)

Per BASELINE.json the rule is >=0.8 throughput scaling efficiency between N
and 4N executors. No real cluster exists in this sandbox, so the evidence is
the same full Stage A..E pipeline ({args.mode} mode, {args.resources}
resources) on the SAME seeded synthetic corpus (~{n_convs * 70:,} turns) at
two parallelism levels in fresh JVMs, `spark.sql.shuffle.partitions` = 2x
cores, steady-state (warm-up pass excluded, best of {args.trials} measured
trials):

| level | wall (s) | triples/sec |
| --- | --- | --- |
| local[{args.n}]  (N)  | {r8['wall_s']} | {r8['triples_per_sec']:,} |
| local[{args.n4}] (4N) | {r32['wall_s']} | {r32['triples_per_sec']:,} |

**Scaling efficiency = (thr_{args.n4} / thr_{args.n}) / {args.n4 // args.n} = {eff:.3f}**
(target >= 0.8: {"PASS" if eff >= 0.8 else "FAIL"}).

All trial walls: local[{args.n}] {r8['all_walls']}, local[{args.n4}] {r32['all_walls']}
(first value = discarded warm-up{warm_note}).
"""
    suffix = {"scaled": "", "flat": "_flat"}[args.resources]
    # non-default IO codec (the child session's effective
    # spark.io.compression.codec, e.g. set with PYSPARK_SUBMIT_ARGS="--conf
    # spark.io.compression.codec=zstd pyspark-shell") in the name + md: a
    # codec A/B run must not clobber the default-config evidence file.
    # (Round 4 briefly flipped the default to zstd, then reverted after the
    # 1v4 gate pair regressed 0.804 -> 0.722 under it; the _zstd-suffixed
    # files are that A/B's evidence.)
    codec = r8["io_codec"]
    if codec != "lz4":
        suffix += f"_{codec}"
        md += (
            f"\nShuffle IO codec: spark.io.compression.codec={codec} "
            f"(default lz4; see DEPLOY.md §5).\n"
        )
    # corpus size in the name so a 64M-turn run cannot clobber the 16M
    # evidence file (pre-round-3 files carry no size suffix = 16M or as
    # stated inside)
    size = f"_{args.turns / 1_000_000:g}M"
    out_md = os.path.join(
        REPO, "BENCH", f"scaling_{args.n}v{args.n4}_{args.mode}{suffix}{size}.md"
    )
    with open(out_md, "w") as f:
        f.write(md)
    # the md table loses the per-stage wall breakdown (stage_ms in each
    # level's RESULT line) that scaling attribution needs — persist the
    # full summary as a sidecar so the evidence survives the scrollback
    with open(out_md[:-3] + ".json", "w") as f:
        json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
