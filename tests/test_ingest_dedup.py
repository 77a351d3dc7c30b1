"""Adaptive Stage-A dedup: all three plans (clean / broadcast-repair /
full-shuffle fallback) must emit the IDENTICAL turn set, with the same
deterministic keep-row (min ts, then role) as the pre-round-4 window plan.
SURVEY.md §3.2 Stage A; sizing memoir in kgpipe/pipeline.py."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgpipe import pipeline

OUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _valid(df):
    """Stage A's validation filter."""
    return df.filter(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull() & F.col("text").isNotNull()
    )


def _turns(df) -> pd.DataFrame:
    return (
        df.select(*OUT_COLS)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


@pytest.fixture()
def dirty_df(spark, transcripts_df):
    """Fixture corpus + duplicated turns: same (conv_id, turn_idx), LATER ts
    and different text — the window must keep the original row — plus one
    duplicate with an EARLIER ts that must win over the original."""
    later = (
        transcripts_df.limit(5)
        .withColumn("ts", F.expr("ts + interval 2 hours"))
        .withColumn("text", F.concat(F.lit("dup-late "), F.col("text")))
    )
    earlier = (
        transcripts_df.orderBy("conv_id", "turn_idx").limit(1)
        .withColumn("ts", F.expr("ts - interval 2 hours"))
        .withColumn("text", F.concat(F.lit("dup-early "), F.col("text")))
    )
    return transcripts_df.unionByName(later).unionByName(earlier)


def test_clean_path_equals_full_path(spark, transcripts_df):
    """Clean input (no duplicated key) takes the shuffle-free path and
    emits exactly the validated input rows — nothing dropped, nothing
    added."""
    got = _turns(pipeline.stage_ingest(transcripts_df))
    want = _turns(_valid(transcripts_df))
    pd.testing.assert_frame_equal(got, want)


def test_repair_path_equals_full_path(spark, dirty_df, monkeypatch):
    """Broadcast-split repair and the full repartition+window plan (forced
    by a zero broadcast cap) keep the same row per duplicated key."""
    got = _turns(pipeline.stage_ingest(dirty_df))
    monkeypatch.setattr(pipeline, "DEDUP_BCAST_MAX", 0)
    want = _turns(pipeline.stage_ingest(dirty_df))
    pd.testing.assert_frame_equal(got, want)


def test_repair_keeps_min_ts_row(spark, dirty_df, transcripts_df):
    """Value-level pin, independent of the full path: every duplicated key
    collapses to one row; late dups lose, the early dup wins."""
    out = _turns(pipeline.stage_ingest(dirty_df))
    base = _turns(_valid(transcripts_df))
    assert len(out) == len(base)  # one row per (conv_id, turn_idx)
    assert not out.duplicated(["conv_id", "turn_idx"]).any()
    assert (out["text"].str.startswith("dup-late")).sum() == 0
    assert (out["text"].str.startswith("dup-early")).sum() == 1


def test_overflow_falls_back_to_full_shuffle(spark, dirty_df, monkeypatch):
    """> DEDUP_BCAST_MAX flagged hashes → the broadcast split is refused and
    the full repartition+window plan runs; it keeps the min (ts, role) row
    of every key, checked against a pandas reference."""
    monkeypatch.setattr(pipeline, "DEDUP_BCAST_MAX", 0)
    out = pipeline.stage_ingest(dirty_df)
    assert "BroadcastHashJoin" not in out._jdf.queryExecution().executedPlan().toString()
    want = (
        _valid(dirty_df)
        .toPandas()
        .sort_values(["ts", "role"], kind="mergesort")
        .drop_duplicates(["conv_id", "turn_idx"])
    )
    pd.testing.assert_frame_equal(
        _turns(out),
        want[OUT_COLS].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
    )


def test_pipeline_e2e_with_dirty_input(spark, dirty_df, transcripts_df, entity_dict_df, tmp_path):
    """Full Stage A..E over the dirty corpus emits the same triple set as
    over the clean corpus: the late dups' triples never appear (their turns
    lost the dedup), and the early dup only perturbs its own turn."""
    out_dirty = pipeline.run_simple(
        spark, dirty_df, entity_dict_df, str(tmp_path / "d"), input_fingerprint="dirty"
    ).toPandas()
    assert (out_dirty["obj"].astype(str).str.contains("dup-late")).sum() == 0
    assert (out_dirty["subj"].astype(str).str.contains("dup-late")).sum() == 0
