"""Rule-set and normalization unit tests (no Spark except parity check)."""

from __future__ import annotations

import pandas as pd
import pytest

from kgpipe import rules


def test_normalize_surface():
    assert rules.normalize_surface("  Ada   LOVELACE\t") == "ada lovelace"
    assert rules.normalize_surface("a\n b") == "a b"


def test_extract_r1_two_triples():
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": [0],
            "role": ["user"],
            "text_norm": ["ada lovelace works with alan turing on graph theory."],
        }
    )
    out = rules.extract_triples_batch(pdf)
    got = set(map(tuple, out[["subj_raw", "pred", "obj_raw"]].itertuples(index=False)))
    assert got == {
        ("ada lovelace", "works_with", "alan turing"),
        ("ada lovelace", "works_on", "graph theory"),
    }


def test_extract_dotted_subject():
    # abbreviation aliases contain periods; subject capture must not stop at them
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": [3],
            "role": ["assistant"],
            "text_norm": ["g. hopper created adaptive indexing."],
        }
    )
    out = rules.extract_triples_batch(pdf)
    assert list(out.subj_raw) == ["g. hopper"] and list(out.obj_raw) == ["adaptive indexing"]


def test_extract_tool_rule_role_gated():
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1"],
            "turn_idx": [5, 6],
            "role": ["tool", "user"],
            "text_norm": ["called search_web(q12) -> ok"] * 2,
        }
    )
    out = rules.extract_triples_batch(pdf)
    assert len(out) == 1
    assert out.iloc[0].subj_raw == "c1#5"
    assert out.iloc[0].subj_kind == "node"
    assert out.iloc[0].pred == "used_tool"
    assert out.iloc[0].obj_raw == "search_web"


def test_near_miss_no_match():
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": [0],
            "role": ["user"],
            "text_norm": ["ada lovelace might collaborate with alan turing someday"],
        }
    )
    assert len(rules.extract_triples_batch(pdf)) == 0


def test_mention_matcher_longest_first_and_boundaries():
    pat, type_of = rules.build_mention_matcher(
        ["ada lovelace", "ada", "search_web"], ["person", "person", "tool"]
    )
    m = rules.detect_mentions_batch(
        pd.Series(["ask ada lovelace about search_webx"]), pat, type_of
    )[0]
    # longest alias wins; partial token 'search_webx' must NOT match
    assert [x["surface"] for x in m] == ["ada lovelace"]
    assert m[0]["mtype"] == "person"


def test_jaccard_shingles():
    a = rules.char_shingles("rob larkspur")
    b = rules.char_shingles("rob larspur")
    assert rules.jaccard(a, b) >= rules.JACCARD_THRESHOLD
    c = rules.char_shingles("dennis thornebury")
    assert rules.jaccard(a, c) < rules.JACCARD_THRESHOLD


@pytest.mark.usefixtures("spark")
def test_spark_normalization_parity(spark):
    """extract.normalize_text_col must equal rules.normalize_series exactly."""
    import pandas as pd

    from kgpipe.extract import normalize_text_col
    from pyspark.sql import functions as F

    samples = pd.DataFrame(
        {
            "text": [
                "  Ada   LOVELACE ",
                "tabs\tand\nnewlines  mixed",
                "UPPER lower MiXeD",
                "trailing space ",
                " dots. and-hyphens o'neill",
                "",
                "   ",
                "unicode café  naïve",
            ]
        }
    )
    sdf = spark.createDataFrame(samples)
    got = [r[0] for r in sdf.select(normalize_text_col(F.col("text"))).collect()]
    want = list(rules.normalize_series(samples["text"]))
    assert got == want


def test_anchor_is_literal_substring_invariant():
    """Pushdown soundness: every text a rule's pattern matches must contain
    the rule's anchor — checked on the full synthetic corpus."""
    from kgpipe import synth

    c = synth.generate(n_convs=60)
    t = c.transcripts
    t_norm = rules.normalize_series(t["text"])
    for rule in rules.RULES:
        hits = t_norm.str.contains(rules._COMPILED[rule.rule_id], regex=True)
        anchored = t_norm.str.contains(rule.anchor, regex=False)
        assert (hits & ~anchored).sum() == 0, rule.rule_id


def test_prefilter_preserves_triple_set(spark, transcripts_df, corpus):
    """Extraction with the JVM anchor prefilter == extraction over every
    turn (pure pushdown, zero semantic effect)."""
    from kgpipe import extract

    got = extract.stage_extract(transcripts_df).toPandas()
    t = corpus.transcripts.copy()
    t["text_norm"] = rules.normalize_series(t["text"])
    want = rules.extract_triples_batch(t[["conv_id", "turn_idx", "role", "text_norm"]])
    cols = ["conv_id", "turn_idx", "subj_raw", "pred", "obj_raw", "rule_id"]
    assert set(map(tuple, got[cols].itertuples(index=False))) == set(
        map(tuple, want[cols].itertuples(index=False))
    )


def test_anchor_regex_is_the_or_of_the_anchors(spark):
    """Stage B's one anchor regex, evaluated by Spark's `rlike` over the
    normalized text, keeps exactly the turns that contain some rule's
    anchor: anchors at the start and the end of a text, split by runs of
    whitespace, and next to regex metacharacters."""
    from pyspark.sql import functions as F

    from kgpipe import extract

    anchors = [r.anchor for r in rules.RULES]
    texts = [
        *anchors,
        *(a.strip() for a in anchors),
        *(f"x{a}y" for a in anchors),
        *(f"{a}tail" for a in anchors),
        *(f"head{a}" for a in anchors),
        *(f"({a})" for a in anchors),
        "ada works with bob on kgpipe.",
        "ada   works \t\n with  bob",
        "  called   search(",
        "ada worksXwith bob",
        "ada works.with bob",
        "ada is a member  \n\r of acme.",
        "called\tsearch",
        "called",
        "we mentioned that",
        "mentioned that\n",
        "a created b",
        "created b",
        "re-created+ b",
        "a.created.b",
        "x | called y",
        "x|called y",
        "x (works with) y",
        "\\Q works with \\E",
        "x $ created ^ y",
        "[is a member of]",
        "ada .* bob",
        "ada works_with bob",
        "CALLED foo",
        "Ada Works With Bob",
        "",
        "   ",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        extract.normalize_text_col(F.col("text")).alias("text_norm")
    )
    got = df.select("text_norm", F.col("text_norm").rlike(extract.ANCHOR_RE)).collect()
    assert len(got) == len(texts)
    for norm, kept in got:
        assert kept == any(a in norm for a in anchors), norm


def test_arrow_kernel_matches_pandas_kernel(corpus):
    """The mapInArrow hot-path kernel (RE2 via pyarrow.compute) and the
    pandas oracle kernel (Python re) emit the IDENTICAL triple multiset on
    the full fixture corpus — the two-engine lockstep that lets the golden
    fixture gate the distributed machinery, not regex-engine drift."""
    import pyarrow as pa

    from kgpipe import rules

    pdf = corpus.transcripts.copy()
    pdf["text_norm"] = rules.normalize_series(pdf["text"])
    pdf = pdf[["conv_id", "turn_idx", "role", "text_norm"]]
    want = rules.extract_triples_batch(pdf)

    got_t = rules.extract_triples_arrow(
        pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    )
    got = got_t.to_pandas()
    got["turn_idx"] = got["turn_idx"].astype("int32")

    cols = list(want.columns)
    assert sorted(map(tuple, want[cols].itertuples(index=False))) == sorted(
        map(tuple, got[cols].itertuples(index=False))
    )


def test_arrow_kernel_empty_batch():
    import pyarrow as pa

    from kgpipe import rules

    empty = pa.RecordBatch.from_pydict(
        {"conv_id": pa.array([], pa.string()),
         "turn_idx": pa.array([], pa.int32()),
         "role": pa.array([], pa.string()),
         "text_norm": pa.array([], pa.string())}
    )
    assert rules.extract_triples_arrow(empty) is None
    no_hit = pa.RecordBatch.from_pydict(
        {"conv_id": pa.array(["c1"]), "turn_idx": pa.array([0], pa.int32()),
         "role": pa.array(["user"]), "text_norm": pa.array(["plain chatter"])}
    )
    assert rules.extract_triples_arrow(no_hit) is None


def test_rule_emits_carry_distinct_preds():
    """A rule emits at most one row per pred per match, so with one match
    per rule per turn, (conv_id, turn_idx, rule_id, pred) is a key."""
    for rule in rules.RULES:
        preds = [pred for _, pred, _ in rule.emits]
        assert len(preds) == len(set(preds)), rule.rule_id


def test_extract_emits_one_row_per_key():
    """extract_regex keeps a turn's first match of each rule, so turns that
    repeat an anchor still emit one row per (conv_id, turn_idx, rule_id,
    pred) — the key that lets Stage E publish without a dedup."""
    import pyarrow as pa

    turns = [
        ("user", "ada works with alan on graphs. bob works with eve on logic."),
        ("assistant", "ada works with alan on graphs. ada works with alan on graphs."),
        ("tool", "called a(1) -> ok; called b(2) -> ok"),
        ("user", "mentioned that ada leads acme. mentioned that bob leads initech."),
        ("assistant", "ada created x. ada created y. ada is a member of a. ada is a member of b."),
    ]
    batch = pa.RecordBatch.from_pydict({
        "conv_id": pa.array(["c1"] * len(turns)),
        "turn_idx": pa.array(range(len(turns)), pa.int32()),
        "role": pa.array([r for r, _ in turns]),
        "text_norm": pa.array([t for _, t in turns]),
    })
    out = rules.extract_triples_arrow(batch).to_pandas()
    assert set(out.rule_id) == {r.rule_id for r in rules.RULES}
    keys = list(out[["conv_id", "turn_idx", "rule_id", "pred"]].itertuples(index=False))
    assert len(keys) == len(set(keys)), out
    assert list(out[out.rule_id == "R5"].obj_raw) == ["a"]
