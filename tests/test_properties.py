"""Property-based tests (SURVEY.md §5.2.5): random corpora -> oracle
equality, LSH recall on planted duplicates, clustering vs union-find."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from kgpipe import oracle, rules, synth


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=5, max_value=120), st.integers(min_value=0, max_value=2**20))
def test_oracle_matches_fixture_for_any_seed(n_convs, seed_offset):
    c = synth.generate(n_convs=n_convs, seed=synth.SEED + seed_offset)
    out = oracle.run_pipeline(c.transcripts, c.entity_dict)
    p, r = oracle.precision_recall(out, c.expected_triples)
    assert p == 1.0 and r == 1.0


@settings(max_examples=20, deadline=None)
@given(st.data())
def test_extraction_never_emits_from_distractors(data):
    distractor = data.draw(st.sampled_from(synth._DISTRACT))
    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"],
            "turn_idx": [0],
            "role": [data.draw(st.sampled_from(["user", "assistant", "tool"]))],
            "text_norm": [rules.normalize_surface(distractor)],
        }
    )
    assert len(rules.extract_triples_batch(pdf)) == 0


@settings(max_examples=15, deadline=None)
@given(
    st.text(alphabet="abcdefgh ", min_size=12, max_size=40),
    st.integers(min_value=1, max_value=10),
)
def test_one_char_deletion_stays_similar(base, pos):
    """Planted-duplicate construction property: a single interior deletion
    keeps char-shingle Jaccard above the clustering threshold for strings
    of realistic name length."""
    base = "x" + base.strip() + "y"  # avoid empty/whitespace-only
    if len(base) < 14:
        return
    i = pos % (len(base) - 2) + 1
    variant = base[:i] + base[i + 1 :]
    j = rules.jaccard(rules.char_shingles(base), rules.char_shingles(variant))
    assert j >= 0.45  # threshold 0.5 with slack documented in rules.py


def _planted_names() -> list[str]:
    """60 names, each with a 1-deletion variant."""
    rng = np.random.default_rng(7)
    names = []
    for i in range(60):
        base = f"{'abcdefghijklmnopqrst'[i % 20]}person{i:03d} surname{i:03d}"
        names.append(base)
        k = int(rng.integers(1, len(base) - 1))
        names.append(base[:k] + base[k + 1 :])  # 1-deletion variant
    return names


def test_lsh_recall_on_planted_duplicates(spark):
    """Every oracle-found pair above threshold must be recovered by the
    MinHash-LSH blocking path (recall gate; 16x2 banding P~0.99 at s=0.5)."""
    from kgpipe import canon

    names = _planted_names()
    comp = oracle.cluster_surfaces(names)
    want_pairs = {
        (a, b)
        for a in names
        for b in names
        if a < b
        and rules.jaccard(rules.char_shingles(a), rules.char_shingles(b))
        >= rules.JACCARD_THRESHOLD
    }
    sdf = spark.createDataFrame([(n,) for n in set(names)], "surface string")
    got = canon.candidate_pairs(sdf).toPandas()
    got_pairs = set(zip(got.a, got.b))
    missed = want_pairs - got_pairs
    assert len(missed) <= max(1, int(0.02 * len(want_pairs))), missed


@pytest.mark.parametrize("names", ["planted", "chain_family"])
def test_lsh_edge_jaccard_is_exact(spark, names):
    """candidate_pairs scores its candidates over xxhash64 shingle arrays;
    every edge it returns carries the exact string-shingle Jaccard of its
    two names, bit for bit, and passes the threshold."""
    from kgpipe import canon
    from perfbench.workloads import chain_families

    if names == "planted":
        surfaces = sorted(set(_planted_names()))
    else:
        surfaces = chain_families(1, np.random.default_rng(1))[0]
    sdf = spark.createDataFrame([(n,) for n in surfaces], "surface string")
    got = canon.candidate_pairs(sdf).collect()
    assert got
    for a, b, jac in got:
        want = rules.jaccard(rules.char_shingles(a), rules.char_shingles(b))
        assert jac == want, (a, b)
        assert jac >= rules.JACCARD_THRESHOLD


def test_lsh_threshold_is_inclusive(spark):
    """3 * inter == |A| + |B| is J == 0.5 exactly: kept. A pair one shared
    shingle short of it (J = 19/41) is a band candidate that the threshold
    drops."""
    from kgpipe import canon

    base = "abcdefghijklmnopqrstuvwxyz012345"  # 32 distinct chars, 30 shingles
    at = base[:22] + "QRSTUVWXYZ"  # shares base's first 20 shingles
    below = base[:21] + "ABCDEFGHIJK"  # shares 19
    sdf = spark.createDataFrame([(n,) for n in (base, at, below)], "surface string")
    edges = {frozenset((a, b)): j for a, b, j in canon.candidate_pairs(sdf).collect()}
    assert edges == {frozenset((base, at)): 0.5}
    sig = canon.minhash_signatures(sdf).withColumnRenamed("surface", "id")
    sh = sdf.select(F.col("surface").alias("id"), canon.shingles_col("surface").alias("sh"))
    scored = {frozenset((a, b)): (i, n) for a, b, i, n in canon.lsh_pairs(sh, sig).collect()}
    assert scored[frozenset((base, below))] == (19, 60)


def test_xxhash64_is_injective_on_char_shingles(spark):
    """The hashed verify sets are exact for Stage D's alphabet: xxhash64
    maps all 37^3 = 50,653 3-shingles over [a-z0-9 ] to distinct values."""
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
    shingles = [x + y + z for x in alphabet for y in alphabet for z in alphabet]
    df = spark.createDataFrame([(s,) for s in shingles], "s string")
    n = df.select(F.countDistinct(F.xxhash64("s"))).collect()[0][0]
    assert n == len(shingles) == 50_653


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdef", min_size=1, max_size=3),
            st.text(alphabet="abcdef", min_size=1, max_size=3),
        ),
        max_size=40,
    )
)
def test_component_labels_match_bfs(edges):
    """The union-find shared by the oracle and Stage D against an
    independent labelling: BFS over the undirected graph, each component
    labelled by its smallest name."""
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict[str, str] = {}
    for start in adj:
        if start in want:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            frontier = [m for n in frontier for m in adj[n] if m not in comp]
            comp.update(frontier)
        want.update(dict.fromkeys(comp, min(comp)))
    assert rules.component_labels(edges) == want


_NAMES = st.sampled_from(
    ["ada lovelace", "Alan  LOVELACE", "g. lovelace", "zed quux", "zed qux"]
)


@st.composite
def _sentence(draw) -> str:
    a, b, c = draw(_NAMES), draw(_NAMES), draw(_NAMES)
    return draw(st.sampled_from([
        f"{a} works with {b} on {c}.",
        f"{a} is a member of {b}.",
        f"{a} created {b}.",
        f"mentioned that {a} leads {b}.",
        f"called {draw(st.sampled_from(['search_web', 'run_sql']))}(q1) -> ok",
    ]))


@st.composite
def _turn_text(draw) -> str:
    """One to three sentences, the first one repeated: every turn repeats
    an anchor."""
    s = draw(st.lists(_sentence(), min_size=1, max_size=3))
    return " ".join(s + s[:1])


@settings(max_examples=6, deadline=None)
@given(st.data())
def test_triple_key_is_unique_after_rewrite(spark, entity_dict_df, data):
    """(conv_id, turn_idx, rule_id, pred) is a key of what Stage E
    publishes: turns with repeated anchors, some re-sent under the same
    (conv_id, turn_idx) with a later ts and other text, go through
    stage_ingest -> stage_extract -> canon.rewrite and no key repeats, on
    Stage A's clean, broadcast-repair and full-shuffle plans."""
    from datetime import datetime, timedelta
    from unittest import mock

    from kgpipe import canon, extract, link, pipeline, schemas

    n = data.draw(st.integers(min_value=1, max_value=12))
    t0 = datetime(2026, 1, 1)
    r1 = "ada lovelace works with zed quux on zed qux."
    clean = [("c0", 0, "user", f"{r1} {r1}", None, t0)] + [
        (f"c{i % 3}", i // 3, data.draw(st.sampled_from(["user", "assistant", "tool"])),
         data.draw(_turn_text()), None, t0 + timedelta(seconds=i))
        for i in range(1, n)
    ]
    resent = [
        row[:3] + (data.draw(_turn_text()), None, row[5] + timedelta(hours=1))
        for row in data.draw(st.lists(st.sampled_from(clean), min_size=1, max_size=4))
    ]
    links = link.stage_link(entity_dict_df)

    def keys(rows) -> list[tuple]:
        df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
        raw = extract.stage_extract(pipeline.stage_ingest(df)).persist()
        out = canon.rewrite(raw, links, canon.stage_canon(raw, links)).collect()
        raw.unpersist()
        return [(r.conv_id, r.turn_idx, r.rule_id, r.pred) for r in out]

    want = keys(clean)
    assert want and len(want) == len(set(want))
    assert sorted(keys(clean + resent)) == sorted(want)
    with mock.patch.object(pipeline, "DEDUP_BCAST_MAX", 0):
        assert sorted(keys(clean + resent)) == sorted(want)
