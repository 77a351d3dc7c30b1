"""Scaling-efficiency harness (BASELINE.json north_rule: >=0.8 throughput
scaling efficiency between N and 4N executors).

Sandbox protocol (SURVEY.md §6.1): no multi-node cluster exists here, so
the two cluster sizes are two taskset-pinned parallelism levels (default
local[2] vs local[8] — the regime where cores, not the box's shared
memory bus, are the binding constraint; see BENCH/profile_8v32.md) on the
SAME seeded corpus (`synth.stage_corpus`), each in a fresh JVM subprocess.
The subprocess is this script again, `--child` first and the parent's
options after it; it gets SPARK_GRAFT_CPUS=cores, from which `get_spark`
derives local[cores] and 2x cores shuffle partitions. Both levels run on
the session defaults (8g driver heap, default local dir: the "flat"
resource protocol), so the efficiency number cannot be an artifact of
per-level resources. Each level runs one warm-up pass (JIT/codegen) then
`trials` measured passes through `bench.run_kg_pipeline`; best-of is
reported (the machine is shared, so min is the least-noise estimator).
MEASUREMENT HYGIENE: results are only valid if nothing else runs on the
box — a concurrent pytest session steals the pinned cores and inflates
the small level's walls arbitrarily.

Writes BENCH/scaling_{n}v{n4}_{mode}_flat_{turns}M.{md,json} (the .json
sidecar keeps each level's per-stage walls) and prints a JSON summary.

Usage: python BENCH/run_scaling.py [--turns 10000000] [--trials 2]
           [--mode fused|ckpt] [--n 2] [--n4 8] [--warm-turns N]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import run_kg_pipeline  # noqa: E402
from kgpipe import session, synth  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=10_000_000)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument(
        "--mode",
        choices=["fused", "ckpt"],
        default="fused",
        help="fused = in-memory stage boundaries (throughput config); "
        "ckpt = parquet checkpoints of B and D (resumable config)",
    )
    ap.add_argument("--n", type=int, default=2, help="small level cores (N)")
    ap.add_argument("--n4", type=int, default=8, help="large level cores (4N)")
    ap.add_argument(
        "--warm-turns",
        type=int,
        default=None,
        help="warm the JVM (discarded trial 0) on a smaller corpus of this "
        "many turns instead of the full one — same code paths, so JIT/"
        "codegen/Python workers still warm, but a 64M-turn level does not "
        "pay a full discarded pass (~1h at local[2])",
    )
    return ap.parse_args(argv)


def corpora(args: argparse.Namespace) -> tuple[str, str]:
    """The measured corpus and the warm-up corpus (the same one unless
    --warm-turns is given); staged once, then found at their
    content-keyed paths."""
    corpus = synth.stage_corpus(synth.scale_for_turns(args.turns))
    if not args.warm_turns:
        return corpus, corpus
    return corpus, synth.stage_corpus(synth.scale_for_turns(args.warm_turns))


def child(args: argparse.Namespace) -> None:
    """One level in this process: a warm-up run, then `trials` measured
    runs; prints the level's RESULT line."""
    corpus, warm = corpora(args)
    spark = session.get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")
    runs = [
        run_kg_pipeline(
            spark, warm if trial == 0 else corpus, f"scale{trial}", args.mode == "ckpt"
        )
        for trial in range(args.trials + 1)
    ]
    wall, n, stage_ms = min(runs[1:], key=lambda r: r[0])
    codec = spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4")
    print("RESULT " + json.dumps({
        "cores": spark.sparkContext.defaultParallelism,
        "wall_s": round(wall, 2),
        "all_walls": [round(r[0], 2) for r in runs],
        "triples": n,
        "stage_ms": stage_ms,
        "triples_per_sec": round(n / wall, 1),
        "io_codec": codec,
    }))


def run_level(cores: int, argv: list[str]) -> dict:
    """Run `child` in a fresh JVM on `cores` CPUs and return its RESULT."""
    # pin the process tree to exactly `cores` CPUs: a local[N] JVM otherwise
    # borrows idle cores for Python workers/GC/shuffle threads, which a real
    # N-core executor does not have — unpinned, the small level's throughput
    # is inflated and the N->4N comparison is unfair
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    # kgpipe must be importable in the child's PYTHON WORKERS, not just its
    # driver (the sys.path.insert above only covers the driver): workers
    # resolve imports via PYTHONPATH, which would otherwise work only when
    # the invocation happens to cwd at the repo root.
    env["PYTHONPATH"] = REPO + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable,
         os.path.abspath(__file__), "--child", *argv],
        capture_output=True,
        text=True,
        timeout=7200,
        env=env,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from local[{cores}]:\n{out.stderr[-2000:]}")


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["--child"]:
        child(parse_args(argv[1:]))
        return 0
    args = parse_args(argv)
    corpora(args)  # stage here, not inside a pinned level
    r_n = run_level(args.n, argv)
    r_4n = run_level(args.n4, argv)
    eff = (r_4n["triples_per_sec"] / r_n["triples_per_sec"]) / (args.n4 / args.n)
    turns = synth.scale_for_turns(args.turns) * 70
    warm_note = (
        f" on a {args.warm_turns:,}-turn corpus, same code paths"
        if args.warm_turns
        else ""
    )
    summary = {
        "corpus_turns_approx": turns,
        "resources": "flat",
        f"local{args.n}": r_n,
        f"local{args.n4}": r_4n,
        f"scaling_efficiency_{args.n}_to_{args.n4}": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(summary))

    md = f"""# BENCH/BASELINE — measured numbers (sandbox scaling protocol)

Per BASELINE.json the rule is >=0.8 throughput scaling efficiency between N
and 4N executors. No real cluster exists in this sandbox, so the evidence is
the same full Stage A..E pipeline ({args.mode} mode, flat resources: the
session's 8g driver heap and default local dir at both levels) on the SAME
seeded synthetic corpus (~{turns:,} turns) at two parallelism levels in fresh
JVMs, `spark.sql.shuffle.partitions` = 2x cores, steady-state (warm-up pass
excluded, best of {args.trials} measured trials):

| level | wall (s) | triples/sec |
| --- | --- | --- |
| local[{args.n}]  (N)  | {r_n['wall_s']} | {r_n['triples_per_sec']:,} |
| local[{args.n4}] (4N) | {r_4n['wall_s']} | {r_4n['triples_per_sec']:,} |

**Scaling efficiency = (thr_{args.n4} / thr_{args.n}) / {args.n4 // args.n} = {eff:.3f}**
(target >= 0.8: {"PASS" if eff >= 0.8 else "FAIL"}).

All trial walls: local[{args.n}] {r_n['all_walls']}, local[{args.n4}] {r_4n['all_walls']}
(first value = discarded warm-up{warm_note}). Per-stage walls of the best
trial: `stage_ms` in the .json sidecar.
"""
    # "_flat" names the resource protocol; files without it (e.g.
    # scaling_1v4_ckpt_16M.md) are evidence of the retired scaled protocol
    # (3g heap per core, tmpfs scratch) and are never overwritten.
    suffix = "_flat"
    # non-default IO codec (the child session's effective
    # spark.io.compression.codec, e.g. set with PYSPARK_SUBMIT_ARGS="--conf
    # spark.io.compression.codec=zstd pyspark-shell") in the name + md: a
    # codec A/B run must not clobber the default-config evidence file.
    # (Round 4 briefly flipped the default to zstd, then reverted after the
    # 1v4 gate pair regressed 0.804 -> 0.722 under it; the _zstd-suffixed
    # files are that A/B's evidence.)
    codec = r_n["io_codec"]
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
