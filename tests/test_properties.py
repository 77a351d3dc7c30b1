"""Property-based tests (SURVEY.md §5.2.5): random corpora -> oracle
equality, LSH recall on planted duplicates, clustering vs union-find."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

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


def test_lsh_recall_on_planted_duplicates(spark):
    """Every oracle-found pair above threshold must be recovered by the
    MinHash-LSH blocking path (recall gate; 16x2 banding P~0.99 at s=0.5)."""
    from kgpipe import canon

    rng = np.random.default_rng(7)
    names = []
    for i in range(60):
        base = f"{'abcdefghijklmnopqrst'[i % 20]}person{i:03d} surname{i:03d}"
        names.append(base)
        k = int(rng.integers(1, len(base) - 1))
        names.append(base[:k] + base[k + 1 :])  # 1-deletion variant
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
