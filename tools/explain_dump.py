"""Dump annotated physical plans for representative queries -> PLANS.md.

The scale claims in README/DEPLOY must be visible in the executed plans:
pushed filters, pruned read schemas, broadcast joins, single-shuffle
stages, whole-stage codegen, TakeOrderedAndProject for top-k. This tool
captures `.explain("formatted")` output per query and checks the expected
physical markers, so plan regressions show up in review diffs.

Usage: python tools/explain_dump.py > PLANS.md
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"

# query -> (markers that MUST appear, one-line rationale); a marker
# "Nx name" must appear exactly N times in the final plan, "Nx name in Node"
# exactly N times over its Node operators, "!name" not at all
EXPECTATIONS: dict[str, tuple[list[str], str]] = {
    "scan_parquet": (
        ["PushedFilters: [", "*(1)"],
        "filter + projection reach the parquet reader; `*(n)` = the stage "
        "is whole-stage-codegen compiled",
    ),
    "join_broadcast": (
        ["BroadcastHashJoin"],
        "dimension side explicitly broadcast — no shuffle of the fact table",
    ),
    "join_salted_skew": (
        ["BroadcastHashJoin", "xxhash64"],
        "salt = pmod(xxhash64(key), K) fans hot keys; dim exploded over salts",
    ),
    "limit_topk_global": (
        ["TakeOrderedAndProject"],
        "global top-k without a global sort",
    ),
    "agg_hash": (
        ["HashAggregate", "partial_"],
        "partial (map-side) + final aggregate — combine before shuffle",
    ),
    "agg_salted_twophase": (
        ["HashAggregate"],
        "two explicit phases: (key,salt) pre-agg then key merge",
    ),
    "win_topk_cand": (
        ["WindowGroupLimit", "Window"],
        "per-group top-k: Spark pushes a PARTIAL group-limit below the "
        "shuffle, so only ~k rows per group per task shuffle at all",
    ),
    "dedup_exact": (
        ["HashAggregate", "*(1)"],
        "hash groupBy on normalized text key — exact dedup in one shuffle, "
        "codegen-compiled",
    ),
    "udf_triple_extract": (
        ["MapInArrow", "!MapInPandas", "Filter", "1x regexp_replace in Filter"],
        "one JVM anchor regex BEFORE the single mapInArrow pass (rows that "
        "cannot match any rule never reach the kernel), naming the inlined "
        "normalization once, as the Filter evaluates every reference to it; "
        "the kernel is pure pyarrow.compute/RE2 — no Arrow->pandas conversion "
        "(BENCH/BASELINE.md §3c: 4.04x over the mapInPandas path)",
    ),
    "ann_bruteforce_blas_topk": (
        ["MapInPandas", "Window"],
        "per-batch BLAS top-k in Python, global merge via window — the "
        "shuffle carries batches*queries*k rows, not the corpus",
    ),
    "canon_rewrite": (
        ["2x BroadcastHashJoin", "ReusedExchange", "!SortMergeJoin", "!ShuffledHashJoin"],
        "canon.rewrite over stage_canon's label table: each triple side "
        "(subj, obj) is resolved by one join against one broadcast of the "
        "alias map ∪ the labels (the second side's a reused exchange), so "
        "the triples never shuffle against them",
    ),
    "join_theta_selfjoin_lsh": (
        ["HashJoin", "!NestedLoopJoin", "!CartesianProduct"],
        "similar-name theta self-join: candidates only from the LSH band "
        "equi-join, each scored by one array_intersect over xxhash64 "
        "shingle arrays in the verify join's condition",
    ),
    "dedup_minhash": (
        ["HashJoin", "!NestedLoopJoin", "!CartesianProduct"],
        "document near-dup pairs through the same LSH core: candidates "
        "only from the band equi-join, each scored by one array_intersect "
        "over the locally checkpointed word-shingle sets",
    ),
    "join_range_asof": (
        ["RangeFrame", "!Join"],
        "interval count as a RANGE window over unix_micros(ts): one shuffle "
        "+ one sort, ZERO joins — the r1 self-join generated "
        "O(per-user-rows^2) candidates before the interval filter",
    ),
    "dedup_embedding_cosine": (
        ["FlatMapGroupsInPandas", "!BroadcastNestedLoopJoin", "!CartesianProduct"],
        "blocked-BLAS exhaustive similarity self-join: triangle block-pair "
        "groups + one matmul per group — no nested-loop join anywhere",
    ),
    "ann_lsh_topk": (
        ["MapInPandas", "BroadcastHashJoin", "!BroadcastNestedLoopJoin", "!InMemoryRelation"],
        "multi-table sign-LSH: bucket keys from one Arrow batch pass over "
        "the corpus (read once, nothing cached) and one over the query "
        "rows, candidates via (tbl, bucket) equi-join — never a corpus "
        "scan per query",
    ),
}


def _cc_loop_plan(spark):
    """cc_iterate's parent-pointer loop on a diameter-16 chain — the plan
    test (tests/test_plans.py::test_cc_iterative_plan_stays_constant) pins
    that this plan has the SAME line count as the diameter-2 case; this
    dump shows what that O(1) plan is: a lineage-truncated checkpoint scan
    of the final pointer table, no nested hook/jump join DAG."""
    from kgpipe import canon

    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(16)]
    return canon.connected_components(spark.createDataFrame(edges, "a string, b string"))


def _entity_dict(spark):
    """The registry corpus' dictionary, read as the CLI reads it."""
    from kgpipe import kgqueries, schemas, synth

    corpus = synth.stage_corpus(kgqueries.ORACLE_CONVS)
    return spark.read.schema(schemas.ENTITY_DICT).parquet(f"{corpus}/entity_dict.parquet")


def _stage_e_plan(spark):
    """Stage E as a checkpointed run plans it, before the sink anti-join:
    the B and D checkpoints of the registry's shared run read back, the
    dictionary read as the CLI reads it, then rewrite and
    publish_triples."""
    import os

    from kgpipe import canon, io_tables, kgqueries, link, pipeline

    work = kgqueries._ckpt_run(spark, SF)
    raw, labels = (io_tables.read_stage(spark, os.path.join(work, s))
                   for s in ("B_extract", "D_canon"))
    links = link.stage_link(_entity_dict(spark))
    return pipeline.publish_triples(canon.rewrite(raw, links, labels), 1, 8)


def node_lines(plan: str, node: str) -> str:
    """The lines of a plan string whose operator, after the tree prefix
    and any codegen stage id `*(n)`, is `node`."""
    return "\n".join(
        ln for ln in plan.splitlines() if re.match(rf"[\s:+-]*(\*\(\d+\) )?{node} ", ln)
    )


class _Captured(Exception):
    pass


def _fused_loop_plan(spark):
    """Stage E of a fused run over the registry corpus with Stage D forced
    onto LSH + the iterative loop (no all-pairs path), captured inside
    publish while B's output is still persisted: the triples as
    Pipeline.run hands them to publish, then publish_triples."""
    import tempfile

    from kgpipe import canon, kgqueries, pipeline

    d = kgqueries.corpus_dfs(spark, SF)

    def capture(triples, *args):
        out = pipeline.publish_triples(triples, 1, 8)
        out.collect()
        raise _Captured(out)

    saved = canon.DRIVER_ALLPAIRS_MAX_SURFACES, pipeline.publish
    canon.DRIVER_ALLPAIRS_MAX_SURFACES, pipeline.publish = 0, capture
    # fused: the run writes nothing before publish, and the plan reads no file
    # of its work dir
    with tempfile.TemporaryDirectory(prefix="plans_") as wd:
        cfg = pipeline.PipelineConfig(wd, input_fingerprint="plans", checkpoints=False)
        try:
            pipeline.Pipeline(cfg).run(spark, d["transcripts"], _entity_dict(spark))
        except _Captured as got:
            return got.args[0]
        finally:
            canon.DRIVER_ALLPAIRS_MAX_SURFACES, pipeline.publish = saved
    raise RuntimeError("Pipeline.run did not reach publish")


def _curate_gate_plan(spark):
    """corpus_curation's lang+quality gate: per-row projections inline on
    ONE parquet scan (asserted: single scan node, zero Exchange, codegen
    span) — the join-back formulation would scan three times and shuffle
    twice for the same rows."""
    from kgpipe import curate

    return curate.gate(spark, SF)


# name -> (builder, markers, why): plans whose interesting shape needs a
# constructed input (a long chain, a forced path, a sub-stage isolated)
# instead of the registry entry at sf0.001
SPECIAL: dict = {
    "cc_iterate (diameter-16 chain)": (
        _cc_loop_plan,
        ["!Join", "Scan ExistingRDD"],
        "per-round localCheckpoint truncates lineage: the pointer table's "
        "executed plan is a constant-size checkpoint scan no matter how "
        "many hook-and-jump rounds ran",
    ),
    "Stage E (rewrite + publish over the B and D checkpoints)": (
        _stage_e_plan,
        ["2x BroadcastHashJoin", "ReusedExchange", "!SortMergeJoin", "!HashAggregate"],
        "both triple sides probe one broadcast (the second a reused "
        "exchange) of the alias map ∪ the label checkpoint; the triples "
        "cross one shuffle, the part_key repartition, and no dedup",
    ),
    "Stage E, fused, loop labels": (
        _fused_loop_plan,
        ["2x BroadcastHashJoin", "!SortMergeJoin", "!HashAggregate"],
        "the loop's label checkpoint holds at most DRIVER_CC_MAX_EDGES "
        "rows, so rewrite broadcasts it with the alias map as it does the "
        "all-pairs table: Spark plans the two broadcast joins up front "
        "(initial plan included) instead of shuffling the triples on "
        "subj_raw/obj_raw for a sort-merge join",
    ),
    "corpus_curation gate (lang+quality)": (
        _curate_gate_plan,
        ["Scan parquet", "!Exchange", "*(1)"],
        "single-scan inline gate — no join-back, no shuffle before dedup",
    ),
}


def main() -> int:
    import __spark_entry__ as E
    from kgpipe.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    print("# PLANS — annotated physical plans (auto-generated)")
    print()
    print("`python tools/explain_dump.py`; each section lists the physical")
    print("markers the design requires and the executed plan that proves")
    print("them, at sf0.001. A missing marker prints **MISSING** — treat as")
    print("a regression.")
    failures = []
    todo = [(n, qs[n], m, w) for n, (m, w) in EXPECTATIONS.items()] + [
        (n, b, m, w) for n, (b, m, w) in SPECIAL.items()
    ]
    for name, build, markers, why in todo:
        df = build(spark, SF) if name in EXPECTATIONS else build(spark)
        # execute first via the DataFrame's OWN query execution (collect —
        # a write wraps the plan in a separate execution and the original
        # AQE plan never finalizes): join strategy picks and codegen spans
        # only appear in the final plan
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"\n## {name}\n")
        print(f"_{why}_\n")
        final = plan.split("== Initial Plan ==")[0]
        for m in markers:
            times, x, needle = m.partition("x ")
            if m.startswith("!"):
                ok = m[1:] not in plan
                label = "absent" if ok else "**PRESENT (must be absent)**"
            elif x and times.isdigit():
                needle, _, node = needle.partition(" in ")
                got = (node_lines(final, node) if node else final).count(needle)
                ok = got == int(times)
                label = "present" if ok else f"**{got} in the final plan**"
            else:
                ok = m in plan
                label = "present" if ok else "**MISSING**"
            if not ok:
                failures.append((name, m))
            print(f"- `{m}`: {label}")
        print("\n```")
        # first 60 lines of the plan keep the file reviewable
        print("\n".join(plan.splitlines()[:60]))
        print("```")
    print()
    if failures:
        print(f"**{len(failures)} marker(s) missing: {failures}**")
        return 1
    print("**All expected physical markers present.**")
    return 0


if __name__ == "__main__":
    sys.exit(main())
