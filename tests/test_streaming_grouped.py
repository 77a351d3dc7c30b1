"""Streaming incremental sink + grouped-map surfaces."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgpipe import io_tables, rules, schemas, streaming, synth


@pytest.fixture(scope="module")
def small_corpus():
    return synth.generate(n_convs=30)


def test_incremental_stream_matches_batch_extraction(spark, small_corpus, tmp_path):
    c = small_corpus
    src = tmp_path / "in"
    src.mkdir()
    c.transcripts.to_parquet(src / "p0.parquet", index=False)
    edf = spark.createDataFrame(c.entity_dict, schema=schemas.ENTITY_DICT)
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    streaming.incremental_triples(spark, str(src), edf, sink, ck)
    got = spark.read.parquet(sink).toPandas()
    assert io_tables.read_manifest(sink)["rows"] == len(got)

    t = c.transcripts.copy()
    t["text_norm"] = rules.normalize_series(t["text"])
    want = rules.extract_triples_batch(t[["conv_id", "turn_idx", "role", "text_norm"]])
    assert len(got) == len(
        want.drop_duplicates(["conv_id", "turn_idx", "subj_raw", "pred", "obj_raw", "rule_id"])
    )

    # idempotence: re-delivering the same file via a FRESH stream checkpoint
    # must append zero rows (lineage_id anti-join)
    streaming.incremental_triples(spark, str(src), edf, sink, str(tmp_path / "ck2"))
    again = spark.read.parquet(sink)
    assert again.count() == len(got) == io_tables.read_manifest(sink)["rows"]
    # late NEW data flows through incrementally
    extra = c.transcripts.copy()
    extra["conv_id"] = extra["conv_id"] + "x"
    extra.to_parquet(src / "p1.parquet", index=False)
    streaming.incremental_triples(spark, str(src), edf, sink, ck)
    assert spark.read.parquet(sink).count() == 2 * len(got)
    assert io_tables.read_manifest(sink)["rows"] == 2 * len(got)


def test_stream_sink_equals_batch_stages_on_dirty_input(spark, small_corpus, tmp_path):
    """A micro-batch runs the batch pipeline's Stages A, B, C and E: on
    input with a re-sent (conv_id, turn_idx) carrying a later ts and other
    text, the stream sink holds exactly what batch Stage A (which keeps
    the earliest copy) + B + C + publish_triples give, with part_key."""
    from kgpipe import canon, extract, link, pipeline

    t = small_corpus.transcripts
    tool = t[t["role"] == "tool"]
    orig, donor = tool.iloc[0], tool.iloc[1]
    dup = donor.copy()
    dup[["conv_id", "turn_idx"]] = orig[["conv_id", "turn_idx"]]
    dup["ts"] = orig["ts"] + pd.Timedelta(hours=1)
    dirty = pd.concat([t, dup.to_frame().T.astype(t.dtypes)], ignore_index=True)
    src = tmp_path / "in"
    src.mkdir()
    dirty.to_parquet(src / "p0.parquet", index=False)
    edf = spark.createDataFrame(small_corpus.entity_dict, schema=schemas.ENTITY_DICT)
    sink = str(tmp_path / "sink")
    streaming.incremental_triples(spark, str(src), edf, sink, str(tmp_path / "ck"))

    tdf = spark.read.parquet(str(src / "p0.parquet"))
    raw = extract.stage_extract(pipeline.stage_ingest(tdf))
    batch = pipeline.publish_triples(
        canon.rewrite(raw, link.stage_link(edf), canon.driver_labels(spark, {})), 1, 8
    )
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id", "lineage_id", "part_key"]
    got = io_tables.read_stage(spark, sink).select(cols).collect()
    want = batch.select(cols).collect()
    assert len(got) == len(set(got)) == io_tables.read_manifest(sink)["rows"]
    assert set(got) == set(want)


def test_windowed_rates_drop_late_rows(spark, tmp_path):
    # watermark semantics: rows later than 2h behind max ts are dropped
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:00", "2024-01-01 20:00:00", "2024-01-01 10:30:00"]
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 1],
            "event_type": ["click"] * 3,
            "value": [1.0, 1.0, 1.0],
            "props": ["{}"] * 3,
        }
    )
    d = tmp_path / "ev"
    d.mkdir()
    rows.to_parquet(d / "e.parquet", index=False)
    s = (
        spark.readStream.schema(spark.read.parquet(str(d / "e.parquet")).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming.run_available_now(
        streaming.windowed_rates(s), "latewin", "complete"
    )
    # all three rows are in the same input file -> same batch -> none dropped;
    # this asserts the aggregation shape (1h windows, per-type counts)
    pdf = out.toPandas().sort_values("win_start")
    assert list(pdf["n"]) == [2, 1]


def test_conv_stats_grouped_map(spark, small_corpus):
    from kgpipe.grouped import CONV_STATS, conv_stats

    tdf = spark.createDataFrame(small_corpus.transcripts, schema=schemas.TRANSCRIPTS)
    got = tdf.groupBy("conv_id").applyInPandas(conv_stats, CONV_STATS).toPandas()
    t = small_corpus.transcripts
    want_turns = t.groupby("conv_id").size()
    got = got.set_index("conv_id")
    assert (got["n_turns"] == want_turns).all()
    # per-conv gap is constant 7s by construction (FIXTURES.md)
    assert (got["mean_gap_s"].dropna().round(3) == 7.0).all()
