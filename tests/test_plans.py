"""Physical-plan assertions: the optimizations we claim must be visible in
.explain — pushed filters, column pruning, broadcast joins, single-shuffle
final stage, no row-at-a-time Python anywhere (SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_parquet_pushdown_and_pruning(spark):
    plan = plan_of(E.queries()["scan_parquet"](spark, SF))
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>"
        in plan
    )


def test_link_join_is_broadcast(spark, entity_dict_df):
    """Stage D probes Stage C's alias map once per distinct surface: the
    one join of unlinked_surfaces (and so of stage_canon's plan over B's
    output) is a broadcast join above the distinct, never one per triple
    side below it."""
    from kgpipe import canon, link

    raw = spark.createDataFrame(
        [("ada lovelace", "c0#1"), ("zed", "ada lovelace")], "subj_raw string, obj_raw string"
    ).select(
        "subj_raw", F.lit("p").alias("pred"), "obj_raw", F.lit("R1").alias("rule_id"),
        F.lit("surface").alias("subj_kind"), F.lit("node").alias("obj_kind"),
    )
    unlinked = canon.unlinked_surfaces(raw, link.stage_link(entity_dict_df))
    lines = plan_of(unlinked).splitlines()  # the initial plan: one tree
    assert [r["surface"] for r in unlinked.collect()] == ["zed"]
    joins = [i for i, ln in enumerate(lines) if "Join" in ln]
    assert len(joins) == 1 and "BroadcastHashJoin" in lines[joins[0]], lines
    distinct = min(i for i, ln in enumerate(lines) if "HashAggregate" in ln)
    assert joins[0] < distinct, lines  # the join reads the aggregate's output


def test_join_broadcast_query_plan(spark):
    assert "BroadcastHashJoin" in plan_of(E.queries()["join_broadcast"](spark, SF))


def test_topk_no_global_sort(spark):
    assert "TakeOrderedAndProject" in plan_of(E.queries()["limit_topk_global"](spark, SF))


def test_stage_e_is_single_shuffle(spark):
    """Stage E's publish, planned from its own code
    (pipeline.publish_triples), unsalted and salted: exactly ONE Exchange
    — the (part_key[, _salt]) repartition — and no HashAggregate and no
    Sort: (conv_id, turn_idx, rule_id, pred) is a key of the triples
    (test_rules.py::test_extract_emits_one_row_per_key,
    test_properties.py::test_triple_key_is_unique_after_rewrite), so
    there is nothing to dedup."""
    from kgpipe import pipeline

    canoned = spark.createDataFrame(
        [("s", "p", "o", "c", 0, "R1")],
        "subj string, pred string, obj string, conv_id string, turn_idx int, rule_id string",
    )
    for salt in (1, 4):
        plan = plan_of(pipeline.publish_triples(canoned, salt, 64 * salt))
        assert plan.count("Exchange") == 1, plan
        assert "HashAggregate" not in plan
        assert "Sort" not in plan


def test_stage_extract_filter_normalizes_once(spark):
    """Catalyst inlines text_norm into Stage B's anchor prefilter, and a
    Filter evaluates every reference to an expression: the Filter of the
    executed plan names the normalization (its regexp_replace) exactly
    once, where a `contains` per rule anchor named it once per rule. The
    turns are read from parquet, as a run reads them (over an in-memory
    local relation the optimizer folds the filter away)."""
    from kgpipe import extract, schemas, synth
    from tools.explain_dump import node_lines

    d = synth.stage_corpus(120)  # the conftest fixture corpus, as parquet
    turns = spark.read.schema(schemas.TRANSCRIPTS).parquet(f"{d}/transcripts.parquet")
    df = extract.stage_extract(turns)
    df.collect()
    filters = node_lines(plan_of(df), "Filter")
    assert len(filters.splitlines()) == 1, plan_of(df)
    assert filters.count("regexp_replace") == 1, filters


class _Captured(Exception):
    pass


def test_stage_e_links_and_rewrites_over_checkpoints_in_one_shuffle(
    spark, corpus, transcripts_df, tmp_path, monkeypatch
):
    """Stage E as a checkpointed Pipeline.run plans it over the B and D
    checkpoints, before the anti-join: rewrite, then publish_triples.
    The dictionary is a parquet scan, as the CLI reads it.

    With session defaults both triple sides join one broadcast of the
    alias map ∪ the driver-path labels: in the executed plan two
    BroadcastHashJoins, the second broadcast reused, and the triples cross
    one shuffle, the publish repartition; the only other Exchange is the
    dictionary's alias dedup window inside the broadcast. With
    auto-broadcast off the label table's row count (at most
    DRIVER_CC_MAX_EDGES) still gives both broadcasts; a label checkpoint
    above it is left to size-based planning, here two SortMergeJoins."""
    from kgpipe import canon, io_tables, pipeline, schemas

    corpus.entity_dict.to_parquet(tmp_path / "dict.parquet", index=False)
    entity_dict = spark.read.schema(schemas.ENTITY_DICT).parquet(str(tmp_path / "dict.parquet"))
    cfg = pipeline.PipelineConfig(work_dir=str(tmp_path / "work"), input_fingerprint="plan")

    def stage_e(resume: bool):
        def capture(triples, *args):
            raise _Captured(triples)

        with monkeypatch.context() as m:
            m.setattr(pipeline, "publish", capture)
            with pytest.raises(_Captured) as got:
                pipeline.Pipeline(cfg).run(spark, transcripts_df, entity_dict, resume)
        return pipeline.publish_triples(got.value.args[0], 1, 8)

    out = stage_e(resume=False)
    out.collect()
    plan = plan_of(out).split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("ReusedExchange") == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    shuffles = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    triple_shuffles = [ln for ln in shuffles if "alias_norm" not in ln]
    assert len(triple_shuffles) == 1 and "part_key" in triple_shuffles[0], plan
    assert len(shuffles) == 2, plan  # one alias dedup

    rows = io_tables.read_manifest(str(tmp_path / "work" / "D_canon"))["rows"]
    assert 0 < rows <= canon.DRIVER_CC_MAX_EDGES  # the fixture's labels
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bounded = plan_of(stage_e(resume=True))
        monkeypatch.setattr(canon, "DRIVER_CC_MAX_EDGES", rows - 1)
        unbounded = plan_of(stage_e(resume=True))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert bounded.count("BroadcastHashJoin") == 2, bounded
    assert "BroadcastHashJoin" not in unbounded, unbounded
    assert unbounded.count("SortMergeJoin") == 2, unbounded


@pytest.mark.parametrize("blocking", ["candidate_pairs", "doc_minhash_pairs"])
def test_lsh_candidates_never_nested_loop(spark, blocking):
    """Both MinHash-LSH callers get their candidates from the band
    EQUI-join in canon.lsh_pairs (SURVEY.md §2(c)): the executed plan has
    hash or sort-merge joins and never a nested loop or a cartesian
    product."""
    from kgpipe import canon, dedup
    from kgpipe.qreg import load

    if blocking == "candidate_pairs":
        names = ["grace hopper", "grace hoppe", "alan turing", "alan turin", "zed"]
        df = canon.candidate_pairs(
            spark.createDataFrame([(n,) for n in names], "surface string")
        )
    else:
        df = dedup.doc_minhash_pairs(load(spark, SF, "documents"), dedup.DOC_JACCARD)
    df.collect()
    plan = plan_of(df)
    assert "SortMergeJoin" in plan or "HashJoin" in plan, plan
    assert "NestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_stage_a_clean_input_is_shuffle_free(spark, transcripts_df):
    """Stage A adaptive dedup, CLEAN path (the fixture corpus has no
    duplicate (conv_id, turn_idx)): the detection job finds nothing, so the
    extraction-path plan has ZERO Exchange and ZERO Window — the old
    full-width repartition+window (~300 B/turn across the shuffle) is gone
    and the turn-order window is pruned when turn_rank is not consumed."""
    from kgpipe import pipeline

    a = pipeline.stage_ingest(transcripts_df)
    plan = plan_of(a.select("conv_id", "turn_idx", "role", "text"))
    assert plan.count("Exchange") == 0
    assert plan.count("Window [") == 0
    # when turn_rank IS consumed, the turn-order window (and its shuffle)
    # come back — that path's consumers pay for what they use
    plan_rank = plan_of(a.select("conv_id", "turn_idx", "turn_rank"))
    assert plan_rank.count("Window [") == 1


def test_stage_a_forced_full_path_single_shuffle(spark, transcripts_df, monkeypatch):
    """Dirty input over the broadcast cap (forced with a zero cap) → the
    full-shuffle plan: exactly ONE Exchange (the conv_id repartition; the
    dedup window rides it) and no broadcast split."""
    from kgpipe import pipeline

    monkeypatch.setattr(pipeline, "DEDUP_BCAST_MAX", 0)
    # duplicate every conversation's first turn (a filter, not a limit: a
    # limit would add its own single-partition Exchange to the plan)
    dups = transcripts_df.filter(F.col("turn_idx") == 0).withColumn(
        "ts", F.expr("ts + interval 1 hour")
    )
    a = pipeline.stage_ingest(transcripts_df.unionByName(dups))
    plan = plan_of(a.select("conv_id", "turn_idx", "role", "text"))
    assert plan.count("Exchange") == 1
    assert "BroadcastHashJoin" not in plan
    assert plan.count("Window [") == 1  # dedup only; turn-order pruned
    plan_rank = plan_of(a.select("conv_id", "turn_idx", "turn_rank"))
    assert plan_rank.count("Window [") == 2


def test_stage_a_dirty_input_broadcast_repair(spark, transcripts_df):
    """Stage A adaptive dedup, REPAIR path: with a handful of duplicated
    turns the clean slice crosses NO shuffle (broadcast anti join against
    the flagged hashes); only the dirty slice is windowed, so the only
    hash-partitioning Exchange in the plan is the one under the tiny dirty
    subtree."""
    from kgpipe import pipeline

    dups = transcripts_df.limit(3).withColumn("ts", F.expr("ts + interval 1 hour"))
    dirty_input = transcripts_df.unionByName(dups)
    a = pipeline.stage_ingest(dirty_input)
    plan = plan_of(a.select("conv_id", "turn_idx", "role", "text"))
    assert "BroadcastHashJoin" in plan  # flagged-hash split, both sides
    assert plan.count("Exchange hashpartitioning") == 1  # dirty window only
    assert plan.count("Window [") == 1


def test_extraction_stage_no_shuffle_after_ordering(spark, transcripts_df):
    """Stage B is narrow: between the conv_id repartition and raw triples
    there must be no further Exchange (ordering windows + extraction are
    all pipelined in one stage)."""
    from kgpipe import extract, pipeline  # noqa: F401

    a = transcripts_df.repartition(8, "conv_id")
    a = extract.with_turn_order(a)
    raw = extract.stage_extract(a)
    assert plan_of(raw).count("Exchange") == 1  # only the explicit repartition


def test_extraction_kernel_is_map_in_arrow(spark, transcripts_df):
    """The extraction hot path is mapInArrow (pure-Arrow RE2 kernel,
    kgpipe/rules.py extract_triples_arrow) — NOT mapInPandas. Pinned so the
    auto-generated PLANS.md can't silently drift from the shipping plan
    node again (r4 verdict 'what's wrong #3'): the physical node must be
    MapInArrow/ArrowEvalPython-free of a pandas conversion, i.e. the plan
    names MapInArrow and never MapInPandas."""
    from kgpipe import extract

    a = extract.with_turn_order(transcripts_df.repartition(4, "conv_id"))
    raw = extract.stage_extract(a)
    plan = plan_of(raw)
    assert "MapInArrow" in plan, plan
    assert "MapInPandas" not in plan, plan


def test_no_row_udfs_in_engine():
    """Engine-wide ban (BASELINE.json: zero per-row Python on the hot
    path): no row-at-a-time F.udf / RDD usage anywhere in kgpipe."""
    import pathlib

    src_dir = pathlib.Path(__file__).resolve().parents[1] / "kgpipe"
    offenders = [
        p.name
        for p in src_dir.glob("*.py")
        if "F.udf(" in p.read_text() or ".rdd." in p.read_text()
    ]
    assert not offenders, offenders


def test_cc_iterative_plan_stays_constant(spark):
    """cc_iterate at scale: localCheckpoint truncates lineage every round,
    so the executed plan of the label frame is the SAME small checkpoint
    scan regardless of how many pointer rounds ran — without it, each
    round would nest the previous round's join/agg DAG and the plan (and
    Catalyst analysis time) would grow with the round count."""
    from kgpipe import canon

    def chain(n):
        edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
        return spark.createDataFrame(edges, "a string, b string")

    # diameter 2 -> 2 rounds; diameter 16 -> 4 (each counts the last,
    # unchanged one)
    short = canon.connected_components(chain(2))
    long = canon.connected_components(chain(16))
    assert set(r["component"] for r in long.collect()) == {"n000"}
    p_short, p_long = plan_of(short), plan_of(long)
    assert len(p_long.splitlines()) == len(p_short.splitlines())
    # and the result really is a lineage-truncated scan, not the join DAG
    assert "Join" not in p_long and "Scan ExistingRDD" in p_long


def test_canon_rewrite_broadcasts_labels_by_row_count(spark, entity_dict_df, monkeypatch):
    """rewrite's two joins broadcast the alias map ∪ stage_canon's label
    table iff the labels hold at most DRIVER_CC_MAX_EDGES rows, whichever
    path built them: the all-pairs driver table and the LSH + loop
    checkpoint each give 2 BroadcastHashJoins, and 2 SortMergeJoins once
    the bound is below their row count. Auto-broadcast is off, so only
    rewrite's own decision can produce a BroadcastHashJoin."""
    from kgpipe import canon, link

    names = ["grace hopperr", "grace hoppe", "alan turingg", "alan turin", "zed"]
    raw = spark.createDataFrame(
        [(n, "p", names[(i + 1) % len(names)]) for i, n in enumerate(names)],
        "subj_raw string, pred string, obj_raw string",
    ).select(
        "subj_raw", "pred", "obj_raw",
        F.lit("surface").alias("subj_kind"), F.lit("surface").alias("obj_kind"),
        F.lit("c0").alias("conv_id"), F.lit(0).alias("turn_idx"),
        F.lit("R3").alias("rule_id"),
    )
    links = link.stage_link(entity_dict_df)
    allpairs = canon.stage_canon(raw, links)
    monkeypatch.setattr(canon, "DRIVER_ALLPAIRS_MAX_SURFACES", 0)
    loop = canon.stage_canon(raw, links)
    # the loop's labels scan its last pointer checkpoint (node, component, _chg)
    assert "_chg" not in plan_of(allpairs) and "_chg" in plan_of(loop)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    outs = []
    try:
        for labels in (allpairs, loop):
            rows = labels.count()
            assert 0 < rows <= canon.DRIVER_CC_MAX_EDGES
            out = canon.rewrite(raw, links, labels)
            bounded = plan_of(out)
            with monkeypatch.context() as m:
                m.setattr(canon, "DRIVER_CC_MAX_EDGES", rows - 1)
                unbounded = plan_of(canon.rewrite(raw, links, labels))
            assert bounded.count("BroadcastHashJoin") == 2, bounded
            assert "SortMergeJoin" not in bounded, bounded
            assert "BroadcastHashJoin" not in unbounded, unbounded
            assert unbounded.count("SortMergeJoin") == 2, unbounded
            outs.append(sorted(map(tuple, out.select("subj", "obj").collect())))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert outs[0] == outs[1]  # both producers agree on the rewrite


def test_registry_canon_rewrite_reuses_its_broadcast(spark):
    """The registry's Stage E (canon_rewrite over corpus_dfs' dictionary)
    broadcasts the alias map ∪ labels once: the second side's broadcast is
    a ReusedExchange, so the alias dedup window shuffles once. Over a
    cached dictionary Spark matches neither and builds both twice."""
    df = E.queries()["canon_rewrite"](spark, SF)
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 2, final
    assert final.count("ReusedExchange") == 1, final
    assert final.count("Exchange hashpartitioning(alias_norm") == 1, final


def test_fused_stage_e_broadcasts_loop_labels(spark, corpus, transcripts_df, tmp_path, monkeypatch):
    """Stage E of a fused run with Stage D forced onto LSH + the loop,
    captured inside publish while B's output is still persisted: the
    loop's label checkpoint is broadcast with the alias map like any label
    table of at most DRIVER_CC_MAX_EDGES rows. So the initial plan (what
    Spark plans from its size estimates, before AQE re-plans) and the
    final plan both hold 2 BroadcastHashJoins and no SortMergeJoin, and
    the triples cross one shuffle, the publish repartition on part_key."""
    from kgpipe import canon, pipeline, schemas

    monkeypatch.setattr(canon, "DRIVER_ALLPAIRS_MAX_SURFACES", 0)
    corpus.entity_dict.to_parquet(tmp_path / "dict.parquet", index=False)
    entity_dict = spark.read.schema(schemas.ENTITY_DICT).parquet(str(tmp_path / "dict.parquet"))
    cfg = pipeline.PipelineConfig(
        work_dir=str(tmp_path / "work"), input_fingerprint="fused-loop", checkpoints=False
    )

    def capture(triples, *args):
        out = pipeline.publish_triples(triples, 1, 8)
        out.collect()
        raise _Captured(plan_of(out))

    monkeypatch.setattr(pipeline, "publish", capture)
    with pytest.raises(_Captured) as got:
        pipeline.Pipeline(cfg).run(spark, transcripts_df, entity_dict)
    final, initial = got.value.args[0].split("== Initial Plan ==")
    assert "_chg" in final, final  # the labels scan the loop's pointer checkpoint
    assert final.count("ReusedExchange") == 1, final
    for plan in (final, initial):
        assert plan.count("BroadcastHashJoin") == 2, plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
        shuffles = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
        triple_shuffles = [ln for ln in shuffles if "alias_norm" not in ln]
        assert len(triple_shuffles) == 1 and "part_key" in triple_shuffles[0], plan


def test_only_session_reads_env():
    """Deployment settings are read in one place (session.get_spark);
    every other engine module takes its inputs as arguments or constants,
    so no call site can switch a code path from the environment. No
    engine module or benchmark harness (bench.py, BENCH/) names a
    KGPIPE-prefixed variable at all: session settings go through
    get_spark's extra_conf or spark-submit --conf, and a harness's inputs
    are its flags or constants."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    paths = [*root.glob("kgpipe/*.py"), root / "bench.py", *root.glob("BENCH/*.py")]
    sources = {p: p.read_text() for p in paths}
    prefix = "KGPIPE" + "_"  # split so a repo-wide grep for it stays empty
    offenders = [
        str(p.relative_to(root))
        for p, text in sources.items()
        if (p.parent.name == "kgpipe" and p.name != "session.py" and "os.environ" in text)
        or prefix in text
    ]
    assert not offenders, offenders


def test_corpus_curation_gate_is_single_scan(spark):
    """The curation gate (lang-ID + quality filters) must ride ONE parquet
    scan as inline projections: no Exchange, no second scan, one
    whole-stage-codegen span. The alternative formulation — running the
    lang and quality queries separately and joining their outputs back —
    costs three scans and two doc_id shuffles at 100 TB for the same
    rows."""
    from kgpipe import curate

    plan = plan_of(curate.gate(spark, SF))
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan
    assert "*(1)" in plan  # the gate is codegen-compiled


def test_lsh_threshold_names_one_intersect(spark):
    """Stage D (candidate_pairs) and document dedup (the dedup_minhash
    entry) test J >= t = p / q as inter * (p + q) >= p * (|A| + |B|): the
    join condition or Filter that applies the threshold in the final plan
    computes array_intersect once per candidate. A filter on a projected
    jaccard column gets pushed into the join condition with the intersect
    repeated per reference (no common-subexpression elimination there)."""
    from kgpipe import canon

    names = ["grace hopper", "grace hoppe", "alan turing", "alan turin", "zed"]
    for df in (
        canon.candidate_pairs(spark.createDataFrame([(n,) for n in names], "surface string")),
        E.queries()["dedup_minhash"](spark, SF),
    ):
        df.collect()
        final = plan_of(df).split("== Initial Plan ==")[0]
        tests = [
            line for line in final.splitlines()
            if "array_intersect" in line and ("Join" in line or "Filter" in line)
        ]
        assert len(tests) == 1, final
        assert tests[0].count("array_intersect") == 1, tests[0]
