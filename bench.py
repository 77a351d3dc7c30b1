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


def corpus_parquet(n_convs: int) -> str:
    """Generate (once, cached on disk) the seeded bench corpus."""
    from kgpipe import synth

    d = os.path.join(tempfile.gettempdir(), f"kgbench_corpus_{n_convs}")
    if not os.path.exists(os.path.join(d, "transcripts.parquet")):
        os.makedirs(d, exist_ok=True)
        c = synth.generate(n_convs=n_convs)
        # bounded row groups: the row group is Spark's atomic input split —
        # pandas' default (~1M rows/group) caps scan parallelism at ~11
        # tasks for a 10M-row corpus
        c.transcripts.to_parquet(
            f"{d}/transcripts.parquet", index=False, row_group_size=131072
        )
        c.entity_dict.to_parquet(f"{d}/entity_dict.parquet", index=False)
    return d


def run_kg_pipeline(
    spark, corpus_dir: str, tag: str, checkpoints: bool = True
) -> tuple[float, int]:
    from kgpipe import pipeline, schemas

    t = spark.read.schema(schemas.TRANSCRIPTS).parquet(f"{corpus_dir}/transcripts.parquet")
    e = spark.read.schema(schemas.ENTITY_DICT).parquet(f"{corpus_dir}/entity_dict.parquet")
    t0 = time.time()
    cfg = pipeline.PipelineConfig(
        work_dir=tempfile.mkdtemp(prefix=f"bench_{tag}_"),
        input_fingerprint=tag,
        checkpoints=checkpoints,
    )
    n = pipeline.Pipeline(cfg).run(spark, t, e)["rows"]
    return time.time() - t0, n


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)

    from kgpipe.session import get_spark

    spark = get_spark("kgpipe-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs = E.queries()

    # ---- warm-up: JIT/codegen/Python workers (excluded from timing) ----
    for name in HEADLINE:
        force(qs[name](spark, WARM_SF))
    warm_corpus = corpus_parquet(800)
    run_kg_pipeline(spark, warm_corpus, "warm")

    # ---- timed section -------------------------------------------------
    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        force(qs[name](spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)

    n_convs = max(200, BENCH_TURNS // 70)
    corpus_dir = corpus_parquet(n_convs)

    def best_of(tag: str, checkpoints: bool, n: int = 2) -> tuple[float, int]:
        # best-of-n with cache cleared between runs (identical logical
        # plans would otherwise hit run 1's persisted stage); the host
        # shows 2-3x run-to-run noise and min is the least-noise estimator
        best, rows = None, 0
        for i in range(n):
            spark.catalog.clearCache()
            w, rows = run_kg_pipeline(
                spark, corpus_dir, f"{tag}{i}", checkpoints=checkpoints
            )
            best = w if best is None else min(best, w)
        return best, rows

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
