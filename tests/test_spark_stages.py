"""Per-stage Spark tests: extraction parity, linking, LSH+CC clustering."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgpipe import canon, extract, link, oracle, rules


def _triple_set(pdf: pd.DataFrame, cols=("subj_raw", "pred", "obj_raw")) -> set:
    return set(map(tuple, pdf[list(cols)].drop_duplicates().itertuples(index=False)))


def test_stage_extract_matches_oracle(spark, corpus, transcripts_df):
    got = extract.stage_extract(transcripts_df).toPandas()
    t = corpus.transcripts.copy()
    t["text_norm"] = rules.normalize_series(t["text"])
    want = rules.extract_triples_batch(t[["conv_id", "turn_idx", "role", "text_norm"]])
    assert _triple_set(got) == _triple_set(want)
    # full-row parity including provenance
    cols = ("conv_id", "turn_idx", "subj_raw", "pred", "obj_raw", "rule_id")
    assert _triple_set(got, cols) == _triple_set(want, cols)


def test_mentions_detected(spark, transcripts_df, entity_dict_df):
    t = transcripts_df.withColumn(
        "text_norm", extract.normalize_text_col(F.col("text"))
    )
    m = extract.detect_mentions(t, entity_dict_df)
    sample = (
        m.filter(F.col("text").contains("works with"))
        .select(F.size("mentions").alias("n"))
        .agg(F.min("n"))
        .collect()[0][0]
    )
    # every R1 turn embeds >= 2 dictionary aliases (b and c slots)
    assert sample >= 2


def _triples(spark, rows: list[tuple[str, str, str, str]]):
    """Stage B-shaped frame from (subj_raw, subj_kind, obj_raw, obj_kind)."""
    return spark.createDataFrame(
        rows, "subj_raw string, subj_kind string, obj_raw string, obj_kind string"
    ).select(
        "subj_raw", F.lit("p").alias("pred"), "obj_raw", "subj_kind", "obj_kind",
        F.lit("c0").alias("conv_id"), F.lit(0).alias("turn_idx"),
        F.lit("R1").alias("rule_id"),
    )


def test_link_exact_alias(spark, corpus, entity_dict_df):
    """Stage C's alias map holds the oracle's alias -> entity pairs, and
    rewrite links a surface through it but never a node-kind value."""
    lm = oracle.link_map(corpus.entity_dict)
    surfaces = list(lm.items())[:50]
    links = link.stage_link(entity_dict_df)
    out = links.toPandas().set_index("node")["target"]
    assert out.index.is_unique
    for s, eid in surfaces:
        assert out[s] == eid
    raw = _triples(spark, [(s, "surface", s, "node") for s, _ in surfaces])
    got = canon.rewrite(raw, links, canon.driver_labels(spark, {})).collect()
    assert sorted((r["subj"], r["obj"]) for r in got) == sorted(
        (eid, s) for s, eid in surfaces
    )


def test_link_keeps_lowest_entity_per_alias(spark):
    """Two entities share a normalized alias, the higher id listed first:
    the pandas oracle and Stage C both link it to the lower id."""
    from kgpipe import schemas

    ed = pd.DataFrame(
        {
            "entity_id": ["E000009", "E000002"],
            "canonical": ["Grace Hopper", "Grace Hopper"],
            "aliases": [["Grace  Hopper"], ["grace hopper", "amazing grace"]],
            "etype": ["person", "person"],
            "prior": [0.5, 0.5],
        }
    )
    assert oracle.link_map(ed) == {"grace hopper": "E000002", "amazing grace": "E000002"}
    links = link.stage_link(spark.createDataFrame(ed, schema=schemas.ENTITY_DICT))
    assert dict(map(tuple, links.collect())) == oracle.link_map(ed)


def test_rewrite_cannot_fan_out_or_touch_node_values(
    spark, transcripts_df, entity_dict_df
):
    """The (node, target) table rewrite joins each side against is unique
    on its key on the fixture (alias norms and label nodes are disjoint),
    so the rewrite keeps one row per triple; and a node-kind value equal
    to an alias norm or a label node passes through unchanged."""
    from kgpipe import pipeline

    raw = extract.stage_extract(pipeline.stage_ingest(transcripts_df)).persist()
    links = link.stage_link(entity_dict_df)
    labels = canon.stage_canon(raw, links).collect()
    assert labels  # the fixture has similar unlinked surfaces
    keys = links.select("node").unionByName(
        spark.createDataFrame([(r["node"],) for r in labels], "node string")
    )
    assert keys.count() == keys.distinct().count()
    label_tbl = canon.driver_labels(spark, {r["node"]: r["component"] for r in labels})
    assert canon.rewrite(raw, links, label_tbl).count() == raw.count()
    raw.unpersist()

    alias, eid = links.first()
    node = next(r for r in labels if r["node"] != r["component"])
    probe = _triples(spark, [
        (alias, "node", node["node"], "node"),
        (alias, "surface", node["node"], "surface"),
    ])
    got = {
        r["subj"]: r["obj"] for r in canon.rewrite(probe, links, label_tbl).collect()
    }
    assert got == {alias: node["node"], eid: node["component"]}


def test_link_score_topk_deterministic(spark, entity_dict_df):
    surf = spark.createDataFrame([("ada lovelace",), ("ada lovelac",)], "surface string")
    out = link.score_candidates(surf, entity_dict_df).toPandas()
    exact = out[out.surface == "ada lovelace"].iloc[0]
    assert exact.entity_id == "E000000" and exact.link_score >= 1.0
    typo = out[out.surface == "ada lovelac"].iloc[0]
    assert typo.entity_id == "E000000"  # 1-edit still wins via levenshtein


def test_candidate_pairs_and_cc_match_oracle(spark, corpus):
    nodes = list(corpus.expected_components.node)
    sdf = spark.createDataFrame([(n,) for n in nodes], "surface string")
    edges = canon.candidate_pairs(sdf)
    cc = canon.connected_components(edges).toPandas()
    rep = dict(zip(cc.node, cc.component))
    want = dict(zip(corpus.expected_components.node, corpus.expected_components.component))
    got = {n: rep.get(n, n) for n in nodes}
    assert got == want


def test_cc_random_graph_vs_unionfind(spark):
    """The parent-pointer loop labels a random 80-node graph, edges in
    either orientation (a > b in 37 of 60), exactly like the driver
    union-find."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 80
    nodes = [f"n{i:03d}" for i in range(n)]
    edges = [
        (nodes[int(a)], nodes[int(b)])
        for a, b in rng.integers(0, n, size=(60, 2))
        if a != b
    ]
    edf = spark.createDataFrame(edges, "a string, b string")
    cc = canon.connected_components(edf).toPandas()
    assert dict(zip(cc.node, cc.component)) == rules.component_labels(edges)


def test_cc_loop_raises_when_not_converged(spark):
    """A 60-node path needs about 5 pointer rounds; capped at 2 the loop
    must fail loudly instead of returning the half-merged pointers (split
    components)."""
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(59)]
    edf = spark.createDataFrame(edges, "a string, b string")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        canon.connected_components(edf, max_iter=2)


def _shape(name: str) -> list[tuple[str, str]]:
    """Edge lists of the loop-path shape tests, over zero-padded ids."""
    import random

    ids = lambda n: [f"n{i:04d}" for i in range(n)]  # noqa: E731
    if name == "path":
        v = ids(1001)
        return list(zip(v, v[1:]))
    if name == "shuffled_path":
        v = ids(1001)
        random.Random(5).shuffle(v)
        return list(zip(v, v[1:]))
    if name == "star":
        v = ids(501)
        return [(v[250], x) for x in v if x != v[250]]
    if name == "comb":  # a 20-node spine, a 49-node tooth hanging off each
        v = ids(1000)
        spine = v[::50]
        teeth = [(v[i], v[i + 1]) for i in range(1000) if (i + 1) % 50]
        return list(zip(spine, spine[1:])) + teeth
    if name == "interleaved_chains":  # even ids and odd ids, two components
        v = ids(1000)
        return list(zip(v[0::2], v[2::2])) + list(zip(v[1::2], v[3::2]))
    raise ValueError(name)


@pytest.mark.parametrize(
    "shape", ["path", "shuffled_path", "star", "comb", "interleaved_chains"]
)
def test_cc_loop_rounds_grow_with_log_nodes(spark, monkeypatch, shape):
    """The loop labels long paths, stars, combs and interleaved chains
    like the driver union-find, in at most 2*log2(nodes) rounds: one hop
    per round would need about 1,000 rounds for the path. Rounds are
    counted as the benchmark's tracing counts them: DataFrame.count calls
    after the first (the symmetrized edge count)."""
    import math

    edges = _shape(shape)
    edf = spark.createDataFrame(edges, "a string, b string")
    counts = []
    df_cls = type(edf)
    orig = df_cls.count

    def count(df):
        counts.append(1)
        return orig(df)

    monkeypatch.setattr(df_cls, "count", count)
    got = {r["node"]: r["component"] for r in canon.connected_components(edf).collect()}
    monkeypatch.undo()
    assert got == rules.component_labels(edges)
    n_nodes = len(got)
    assert len(counts) - 1 <= 2 * math.log2(n_nodes), (len(counts) - 1, n_nodes)


@pytest.mark.parametrize("broadcast_labels", [False, True])
def test_cc_runs_its_edge_dag_once(spark, monkeypatch, broadcast_labels):
    """connected_components executes its (lazy) edge frame once: every edge
    row passes a Python UDF that counts it, and the count equals the edge
    count. Symmetrizing as a union of two projections would run the edge
    DAG — on Stage D's path, the whole LSH chain — once per branch. The
    labels then go through rewrite, broadcast or left to Spark's planning;
    either way its row count and its joins read the loop's checkpoint, not
    the edges."""
    if not broadcast_labels:
        monkeypatch.setattr(canon, "DRIVER_CC_MAX_EDGES", 0)
    seen = spark.sparkContext.accumulator(0)

    def tap(a):
        seen.add(1)
        return a

    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(12)]
    edf = spark.createDataFrame(edges, "a string, b string").select(
        F.udf(tap, "string")("a").alias("a"), "b"
    )
    cc = canon.connected_components(edf)
    assert seen.value == len(edges)
    assert {r["component"] for r in cc.collect()} == {"n000"}
    raw = spark.createDataFrame(
        [("n005", "surface", "knows", "n011", "surface", "c0", 0, "r0")],
        "subj_raw string, subj_kind string, pred string, obj_raw string, obj_kind string,"
        " conv_id string, turn_idx int, rule_id string",
    )
    links = spark.createDataFrame([], "node string, target string")
    out = canon.rewrite(raw, links, cc).collect()
    assert [(r["subj"], r["obj"]) for r in out] == [("n000", "n000")]
    assert seen.value == len(edges)


def _cached_plans(spark) -> int:
    """Entries in the session's CacheManager (persisted, not yet
    unpersisted plans); read by reflection, as Spark exposes only isEmpty."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_stage_canon_leaves_nothing_cached(spark, monkeypatch):
    """Stage D on its LSH + iterative-loop path releases every frame it
    persists (the unlinked surfaces, the symmetrized edges) once their
    consumers are collected or checkpointed."""
    monkeypatch.setattr(canon, "DRIVER_ALLPAIRS_MAX_SURFACES", 0)
    names = ["grace hopperr", "grace hoppe", "alan turingg", "alan turin", "zed"]
    raw = _triples(spark, [
        (n, "surface", names[(i + 1) % len(names)], "surface") for i, n in enumerate(names)
    ])
    links = spark.createDataFrame([], "node string, target string")
    before = _cached_plans(spark)
    labels = canon.stage_canon(raw, links)
    assert _cached_plans(spark) == before
    subj = {r["subj"] for r in canon.rewrite(raw, links, labels).collect()}
    assert subj == {"alan turin", "grace hoppe", "zed"}


def test_fused_run_leaves_nothing_cached(spark, transcripts_df, entity_dict_df, tmp_path):
    """A fused Pipeline.run persists B's output, the one frame D and E
    both read, and releases it after the publish: the CacheManager holds
    as many entries after the run as before it."""
    from kgpipe import pipeline

    cfg = pipeline.PipelineConfig(
        work_dir=str(tmp_path), input_fingerprint="fused", checkpoints=False
    )
    before = _cached_plans(spark)
    assert pipeline.Pipeline(cfg).run(spark, transcripts_df, entity_dict_df)["rows"] > 0
    assert _cached_plans(spark) == before


@pytest.mark.parametrize(
    "blocking", ["candidate_pairs", "doc_minhash_pairs", "corpus_curation", "ann_lsh_topk"]
)
def test_lsh_blocking_leaves_nothing_cached(spark, blocking):
    """No LSH caller (the two MinHash blocking functions, the curation
    query that clusters through doc_minhash_pairs, and the sign-LSH top-k
    query) leaves a CacheManager entry behind after its result is
    collected: nothing could unpersist it afterwards."""
    from kgpipe import ann, curate, dedup
    from tools.explain_dump import SF

    names = ["grace hopper", "grace hoppe", "alan turing", "alan turin", "zed"]
    before = _cached_plans(spark)
    if blocking == "candidate_pairs":
        df = canon.candidate_pairs(spark.createDataFrame([(n,) for n in names], "surface string"))
    elif blocking == "corpus_curation":
        df = curate.curate(spark, SF)
    elif blocking == "ann_lsh_topk":
        df = ann.ann_lsh_topk(spark, SF)
    else:
        docs = spark.createDataFrame(
            [(i, f"{n} wrote the first compiler for the machine") for i, n in enumerate(names)],
            "doc_id long, text string",
        )
        df = dedup.doc_minhash_pairs(docs, dedup.DOC_JACCARD)
    assert df.collect()
    assert _cached_plans(spark) == before


def test_jaccard_threshold_is_exact_at_the_boundary(spark):
    """jaccard_at_least keeps a pair whose Jaccard equals t, also at a t
    that is no binary fraction: in doubles, 6 * 0.2 > 1 * 1.2."""
    pairs = spark.createDataFrame([(1, 6), (1, 7), (2, 6)], "inter int, n int")
    kept = pairs.filter(canon.jaccard_at_least(0.2)).collect()  # J = 1/5, 1/6, 1/2
    assert sorted((r.inter, r.n) for r in kept) == [(1, 6), (2, 6)]
