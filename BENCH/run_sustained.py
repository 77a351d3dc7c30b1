"""Sustained-throughput harness (BENCH/BASELINE.md §4).

One local[32] JVM per corpus size, fused pipeline (no checkpoint parquet
between stages), flat 8g driver heap unless overridden — i.e. the SAME
config at every size, so the curve isolates how the engine absorbs more
data, not how we re-tuned for it. Trial 0 is the warm-up (JIT/codegen/GC
growth) and is DISCARDED; the RESULT line reports best-of-the-remaining
trials, same estimator as run_scaling.py (min = least-noise on a shared
box). All walls including the warm-up are printed for honesty. Prints
per-stage wall attribution (pipeline.Pipeline.metrics) so a throughput
bend between sizes can be blamed on a stage, not guessed at.

MEASUREMENT HYGIENE: same rule as run_scaling.py — nothing else may run
on the box (no pytest, no crosscheck, no second bench) or the walls are
garbage.

Usage: python BENCH/run_sustained.py --turns 64000000 [--trials 2] [--heap 8g]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--turns", type=int, default=16_000_000,
    )
    ap.add_argument(
        "--trials", type=int, default=2,
        help="total passes; the first is a discarded warm-up, so trials=2 "
        "yields ONE measured wall",
    )
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--heap", default="8g", help="driver/executor heap (flat across sizes)")
    ap.add_argument(
        "--shuffle", type=int, default=None,
        help="override spark.sql.shuffle.partitions (default 2x cores)",
    )
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from bench import corpus_parquet
    from kgpipe import pipeline, schemas
    from kgpipe.session import get_spark

    n_convs = max(200, args.turns // 70)
    corpus = corpus_parquet(n_convs)

    spark = get_spark(
        "sustained",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.shuffle or 2 * args.cores,
        extra_conf={"spark.driver.memory": args.heap},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = spark.read.schema(schemas.TRANSCRIPTS).parquet(
        corpus + "/transcripts.parquet"
    )
    e = spark.read.schema(schemas.ENTITY_DICT).parquet(
        corpus + "/entity_dict.parquet"
    )

    walls, stage_ms, n = [], None, 0
    for trial in range(args.trials):
        t0 = time.time()
        cfg = pipeline.PipelineConfig(
            work_dir=tempfile.mkdtemp(prefix=f"sustained_{trial}_"),
            input_fingerprint=f"sustained{trial}",
            checkpoints=False,
        )
        p = pipeline.Pipeline(cfg)
        n = p.run(spark, t, e)["rows"]
        wall = time.time() - t0
        walls.append(round(wall, 2))
        stage_ms = {m["stage"]: m["total_ms"] for m in p.metrics}
        print(f"trial {trial}: wall={wall:.1f}s triples={n} stages={stage_ms}")
        spark.catalog.clearCache()
        shutil.rmtree(cfg.work_dir, ignore_errors=True)
    # trial 0 = warm-up, discarded; best-of-steady matches run_scaling.py
    # and the published §4 protocol
    best = min(walls[1:]) if len(walls) > 1 else walls[0]
    print(
        "RESULT "
        + json.dumps(
            {
                "turns_approx": n_convs * 70,
                "cores": args.cores,
                "heap": args.heap,
                "shuffle_partitions": args.shuffle or 2 * args.cores,
                "wall_s": round(best, 2),
                "all_walls": walls,
                "warmup_discarded": len(walls) > 1,
                "triples": n,
                "stage_ms": stage_ms,
                "triples_per_sec": round(n / best, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
