"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Measurement protocol (SURVEY.md §6): steady-state only — the session is
warmed (JVM JIT + codegen + Python workers) by a small-sf pass of every
timed query before the clock starts; Spark cold start (~10-60 s) is
excluded. The KG pipeline is additionally reported as triples/sec on a
~1M-turn seeded synthetic corpus (BASELINE.json metric).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "agg_hash",
    "join_broadcast",
    "join_shuffle_hash",
    "join_range_asof",
    "win_topk_cand",
    "math_funcs",
    "agg_salted_twophase",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_exact",
    "ann_bruteforce_topk",
    "ann_bruteforce_blas_topk",
    "text_quality_score",
    "text_token_count",
    "text_lang_id",
]

WARM_SF = "/root/testdata/sf0.001"
BENCH_TURNS = 1_000_000


def force(df) -> None:
    """Materialize fully without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def run_kg_pipeline(
    spark, corpus_dir: str, tag: str, checkpoints: bool = True
) -> tuple[float, int, dict[str, int]]:
    """One timed Stage A..E run on a staged corpus, in a work dir of its
    own that it removes afterwards. The cache is cleared first: identical
    logical plans would otherwise hit the previous run's persisted stage.
    Returns the wall, the published rows and each stage's total_ms."""
    from kgpipe import pipeline, schemas

    spark.catalog.clearCache()
    t = spark.read.schema(schemas.TRANSCRIPTS).parquet(f"{corpus_dir}/transcripts.parquet")
    e = spark.read.schema(schemas.ENTITY_DICT).parquet(f"{corpus_dir}/entity_dict.parquet")
    work = tempfile.mkdtemp(prefix=f"bench_{tag}_")
    try:
        t0 = time.time()
        p = pipeline.Pipeline(
            pipeline.PipelineConfig(
                work_dir=work, input_fingerprint=tag, checkpoints=checkpoints
            )
        )
        n = p.run(spark, t, e)["rows"]
        wall = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return wall, n, {m["stage"]: m["total_ms"] for m in p.metrics}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from kgpipe import synth
    from kgpipe.session import get_spark

    spark = get_spark("kgpipe-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    import __spark_entry__ as E

    qs = E.queries()

    # ---- warm-up: JIT/codegen/Python workers (excluded from timing) ----
    for name in HEADLINE:
        force(qs[name](spark, WARM_SF))
    run_kg_pipeline(spark, synth.stage_corpus(800), "warm")

    # ---- timed section -------------------------------------------------
    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        force(qs[name](spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)

    n_convs = synth.scale_for_turns(BENCH_TURNS)
    corpus_dir = synth.stage_corpus(n_convs)

    def best_of(tag: str, checkpoints: bool, n: int = 2) -> tuple[float, int]:
        # the host shows 2-3x run-to-run noise; min is the least-noise
        # estimator
        runs = [
            run_kg_pipeline(spark, corpus_dir, f"{tag}{i}", checkpoints)
            for i in range(n)
        ]
        wall, rows, _ = min(runs, key=lambda r: r[0])
        return wall, rows

    kg_wall, n_triples = best_of("bench", checkpoints=True)
    timings["kg_pipeline_e2e"] = round(kg_wall, 3)
    # fused mode: in-memory stage boundaries (no resume) — the throughput
    # config; reported separately so both modes are visible per-round
    fused_wall, _ = best_of("fused", checkpoints=False)
    timings["kg_pipeline_fused"] = round(fused_wall, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir,
                "cpus": cpus,
                "kg_corpus_turns_approx": n_convs * 70,
                "kg_triples": n_triples,
                "kg_triples_per_sec": round(n_triples / kg_wall, 1),
                "kg_triples_per_sec_fused": round(n_triples / fused_wall, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
