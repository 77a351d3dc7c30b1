"""End-to-end pipeline gates: P/R vs golden fixture, invariants, resume."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import pathlib
import subprocess
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgpipe import canon, extract, io_tables, oracle, pipeline, rules, schemas

ROOT = pathlib.Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def final_triples(spark, transcripts_df, entity_dict_df, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipe"))
    out = pipeline.run_simple(
        spark, transcripts_df, entity_dict_df, wd, input_fingerprint="fix120"
    )
    return out.toPandas()


def test_pr_gate(final_triples, corpus):
    p, r = oracle.precision_recall(final_triples, corpus.expected_triples)
    assert p >= 0.95 and r >= 0.95  # BASELINE.json gate
    assert p == 1.0 and r == 1.0  # and in fact exact on the fixture


def test_spark_matches_pandas_oracle(final_triples, corpus):
    """The sink as a multiset: no row published twice, and its rows are
    the oracle's."""
    want = oracle.run_pipeline(corpus.transcripts, corpus.entity_dict)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id"]
    rows = list(final_triples[cols].itertuples(index=False, name=None))
    assert len(rows) == len(set(rows))
    assert set(rows) == set(want[cols].itertuples(index=False, name=None))


def test_text_equality_invariant(spark, corpus, transcripts_df):
    """Per-turn text equality under stable ordering (BASELINE.json input_hint):
    `text` survives Stage A + Arrow round-trip byte-for-byte."""
    a = extract.with_turn_order(transcripts_df.repartition(8, "conv_id"))
    got = (
        a.select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        corpus.transcripts[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_order_permutation_invariance(spark, corpus, entity_dict_df, tmp_path, final_triples):
    """Shuffling input row order leaves the emitted triple SET identical."""
    shuffled = corpus.transcripts.sample(frac=1.0, random_state=999).reset_index(drop=True)
    sdf = spark.createDataFrame(shuffled, schema=schemas.TRANSCRIPTS)
    out = pipeline.run_simple(
        spark, sdf, entity_dict_df, str(tmp_path / "perm"), input_fingerprint="perm"
    ).toPandas()
    cols = ["subj", "pred", "obj"]
    assert set(map(tuple, out[cols].itertuples(index=False))) == set(
        map(tuple, final_triples[cols].itertuples(index=False))
    )


def test_resume_idempotent(
    spark, transcripts_df, entity_dict_df, tmp_path, final_triples, monkeypatch
):
    """Crash in Stage D, resume: final triples + lineage ids identical to
    an uninterrupted run; a full re-run publishes zero new rows. The run
    ends at the sink commit: it leaves only the stage checkpoints and the
    metrics file behind, and reads the sink back only for the re-publish
    anti-join. Stage A runs only when B is built: a resume that skips B
    does not scan the input."""
    wd = str(tmp_path / "resume")
    cfg = pipeline.PipelineConfig(work_dir=wd, input_fingerprint="fix120")

    def crash(raw, links):
        raise RuntimeError("simulated crash in Stage D")

    with monkeypatch.context() as m:
        m.setattr(canon, "stage_canon", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            pipeline.Pipeline(cfg).run(spark, transcripts_df, entity_dict_df)
    assert io_tables.read_manifest(os.path.join(wd, "B_extract")) is not None
    for stage in ("D_canon", "E_triples"):
        assert io_tables.read_manifest(os.path.join(wd, stage)) is None

    read_stage = io_tables.read_stage
    sink_reads = []

    def counting_read(spark_, path):
        if os.path.basename(path) == "E_triples":
            sink_reads.append(path)
        return read_stage(spark_, path)

    stage_ingest = pipeline.stage_ingest
    ingest_calls = []

    def counting_ingest(transcripts):
        ingest_calls.append(transcripts)
        return stage_ingest(transcripts)

    monkeypatch.setattr(io_tables, "read_stage", counting_read)
    monkeypatch.setattr(pipeline, "stage_ingest", counting_ingest)
    p2 = pipeline.Pipeline(cfg)
    sink = p2.run(spark, transcripts_df, entity_dict_df, resume=True)
    assert len(sink_reads) == 0  # first publish: nothing to anti-join
    assert len(ingest_calls) == 0  # B's manifest matches: no Stage A
    stages = {m["stage"]: m for m in p2.metrics}
    assert stages["B_extract"]["skipped"] and not stages["D_canon"]["skipped"]
    assert sorted(os.listdir(wd)) == [
        "B_extract", "D_canon", "E_triples", "stage_metrics.json",
    ]
    got = read_stage(spark, os.path.join(wd, "E_triples")).toPandas()
    assert sink["rows"] == len(got)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id", "lineage_id"]
    assert set(map(tuple, got[cols].itertuples(index=False))) == set(
        map(tuple, final_triples[cols].itertuples(index=False))
    )

    # idempotent re-publish: a full re-run appends zero new rows — the
    # cumulative sink is byte-identical to the single-run result
    p3 = pipeline.Pipeline(cfg)
    assert p3.run(spark, transcripts_df, entity_dict_df)["rows"] == len(final_triples)
    assert len(sink_reads) == 1  # the anti-join's read of the published ids
    assert len(ingest_calls) == 1
    again = read_stage(spark, os.path.join(wd, "E_triples")).toPandas()
    assert len(again) == len(final_triples)
    assert set(map(tuple, again[cols].itertuples(index=False))) == set(
        map(tuple, final_triples[cols].itertuples(index=False))
    )


def _run_crashing_in_publish(spark, cfg, transcripts, entity_dict, monkeypatch):
    def crash(*args):
        raise RuntimeError("simulated crash in Stage E")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "publish", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            pipeline.Pipeline(cfg).run(spark, transcripts, entity_dict)


def _key_set(df: pd.DataFrame) -> set:
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id", "lineage_id"]
    return set(map(tuple, df[cols].itertuples(index=False)))


def test_resume_after_crash_in_publish(
    spark, transcripts_df, entity_dict_df, tmp_path, final_triples, monkeypatch
):
    """The checkpoints hold what B and D decide: a run that crashes in
    Stage E leaves B's triples and D's label table (node, component) and
    nothing else. The resumed run skips both, publishes the exact set,
    lineage ids included, and leaves B_extract, D_canon, E_triples and the
    metrics file."""
    from pyspark.sql.types import StructType

    wd = str(tmp_path / "crash_e")
    cfg = pipeline.PipelineConfig(work_dir=wd, input_fingerprint="fix120")
    _run_crashing_in_publish(spark, cfg, transcripts_df, entity_dict_df, monkeypatch)
    assert sorted(os.listdir(wd)) == ["B_extract", "D_canon"]
    labels = io_tables.read_manifest(os.path.join(wd, "D_canon"))
    assert labels["rows"] > 0
    assert (
        StructType.fromJson(labels["schema"]).simpleString()
        == "struct<node:string,component:string>"
    )

    p = pipeline.Pipeline(cfg)
    sink = p.run(spark, transcripts_df, entity_dict_df, resume=True)
    assert [(m["stage"], m["skipped"]) for m in p.metrics] == [
        ("B_extract", True), ("D_canon", True), ("E_triples", False),
    ]
    assert sorted(os.listdir(wd)) == [
        "B_extract", "D_canon", "E_triples", "stage_metrics.json",
    ]
    got = io_tables.read_stage(spark, os.path.join(wd, "E_triples")).toPandas()
    assert sink["rows"] == len(got) == len(final_triples)
    assert _key_set(got) == _key_set(final_triples)


def test_zero_row_label_table_resumes(spark, corpus, entity_dict_df, tmp_path, monkeypatch):
    """The fixture's first three conversations leave two unlinked surfaces
    with no similar partner, so D's label table has no rows (Spark writes
    it as one schema-only parquet file). A run that crashes in E resumes
    from it and publishes what a clean run does."""
    t = corpus.transcripts
    convs = sorted(t["conv_id"].unique())[:3]
    tdf = spark.createDataFrame(t[t["conv_id"].isin(convs)], schema=schemas.TRANSCRIPTS)
    wd = str(tmp_path / "zero")
    cfg = pipeline.PipelineConfig(work_dir=wd, input_fingerprint="zero")
    _run_crashing_in_publish(spark, cfg, tdf, entity_dict_df, monkeypatch)
    d = os.path.join(wd, "D_canon")
    assert io_tables.read_manifest(d)["rows"] == 0
    assert io_tables.read_stage(spark, d).columns == ["node", "component"]

    p = pipeline.Pipeline(cfg)
    p.run(spark, tdf, entity_dict_df, resume=True)
    assert [m["skipped"] for m in p.metrics] == [True, True, False]
    got = io_tables.read_stage(spark, os.path.join(wd, "E_triples")).toPandas()
    clean = pipeline.run_simple(
        spark, tdf, entity_dict_df, str(tmp_path / "zero_clean"), input_fingerprint="zero"
    ).toPandas()
    assert len(got) == len(clean) > 0
    assert _key_set(got) == _key_set(clean)


def test_resume_recomputes_d_after_dictionary_change(
    spark, corpus, transcripts_df, entity_dict_df, tmp_path, final_triples, monkeypatch
):
    """E re-reads the dictionary, so its content is part of D's (and so
    E's) fingerprint: a run that crashed after D, resumed with one
    entity's aliases changed, rebuilds D (B, which does not read the
    dictionary, is skipped) and publishes exactly what a clean run with
    the new dictionary publishes."""
    ed = corpus.entity_dict.copy()
    eid = next(e for e in ed["entity_id"] if e in set(final_triples["subj"]))
    ed["aliases"] = [
        ["an alias no turn mentions"] if e == eid else list(a)
        for e, a in zip(ed["entity_id"], ed["aliases"])
    ]
    new_dict = spark.createDataFrame(ed, schema=schemas.ENTITY_DICT)
    assert pipeline.dict_fingerprint(new_dict) != pipeline.dict_fingerprint(entity_dict_df)

    wd = str(tmp_path / "dict")
    cfg = pipeline.PipelineConfig(work_dir=wd, input_fingerprint="fix120")
    _run_crashing_in_publish(spark, cfg, transcripts_df, entity_dict_df, monkeypatch)
    p = pipeline.Pipeline(cfg)
    p.run(spark, transcripts_df, new_dict, resume=True)
    stages = {m["stage"]: m for m in p.metrics}
    assert stages["B_extract"]["skipped"] and not stages["D_canon"]["skipped"]
    got = io_tables.read_stage(spark, os.path.join(wd, "E_triples")).toPandas()
    clean = pipeline.run_simple(
        spark, transcripts_df, new_dict, str(tmp_path / "dict_clean"),
        input_fingerprint="fix120",
    ).toPandas()
    assert eid not in set(clean["subj"])  # the change reaches the output
    assert len(got) == len(clean)
    assert _key_set(got) == _key_set(clean)


def test_publish_without_manifest_does_not_duplicate(
    spark, transcripts_df, entity_dict_df, tmp_path, final_triples
):
    """A first publish whose Spark job committed but whose manifest was
    never written (a crash between the two): the re-run anti-joins against
    the data files the sink holds, manifest or not, and ends in the exact
    triple set with no duplicate row."""
    wd = str(tmp_path / "nomanifest")
    cfg = pipeline.PipelineConfig(
        work_dir=wd, input_fingerprint="fix120", checkpoints=False
    )
    pipeline.Pipeline(cfg).run(spark, transcripts_df, entity_dict_df)
    os.remove(os.path.join(wd, "E_triples", io_tables.MANIFEST))
    sink = pipeline.Pipeline(cfg).run(spark, transcripts_df, entity_dict_df)
    got = io_tables.read_stage(spark, os.path.join(wd, "E_triples")).toPandas()
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id", "lineage_id"]
    rows = list(map(tuple, got[cols].itertuples(index=False)))
    assert sink["rows"] == len(rows) == len(set(rows)) == len(final_triples)
    assert set(rows) == set(map(tuple, final_triples[cols].itertuples(index=False)))


def test_lineage_deterministic(final_triples):
    """lineage_id is a pure function of the triple row — recompute in pandas.
    128-bit truncated sha256 hex (see pipeline.lineage_col's byte-diet
    memoir): collision-safe at 10^12 triples, half the bytes of the full
    digest on the one incompressible column of the sink."""
    import hashlib

    row = final_triples.iloc[0]
    blob = "\x1f".join(
        [row.subj, row.pred, row.obj, row.conv_id, str(row.turn_idx), row.rule_id]
    )
    assert hashlib.sha256(blob.encode()).hexdigest()[:32] == row.lineage_id
    assert len(row.lineage_id) == 32


def test_partition_key_bounds(final_triples):
    assert final_triples.part_key.between(0, pipeline.N_TRIPLE_PARTS - 1).all()


def test_parallelism_invariance(spark, transcripts_df, entity_dict_df, tmp_path, final_triples):
    """North-rule invariant: the emitted triple set (including lineage ids
    and sink part keys) is IDENTICAL at any parallelism level — re-run the
    full pipeline with spark.sql.shuffle.partitions dropped from the
    session default to 3 and compare against the module fixture's run."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        out = pipeline.run_simple(
            spark,
            transcripts_df.repartition(3),
            entity_dict_df,
            str(tmp_path / "par3"),
            input_fingerprint="par3",
        ).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "rule_id", "lineage_id", "part_key"]
    a = set(map(tuple, out[cols].itertuples(index=False)))
    b = set(map(tuple, final_triples[cols].itertuples(index=False)))
    assert a == b


def test_salted_publish_matches_unsalted(
    spark, transcripts_df, entity_dict_df, tmp_path, final_triples, monkeypatch
):
    """Hot-bucket salting (the large-corpus default, forced here on the
    fixture): identical triple set + lineage + part_key. That the salted
    publish stays a single shuffle is pinned in
    tests/test_plans.py::test_stage_e_is_single_shuffle."""
    monkeypatch.setattr(pipeline, "publish_salt_factor", lambda rows: 4)
    out = pipeline.run_simple(
        spark, transcripts_df, entity_dict_df, str(tmp_path / "salted"),
        input_fingerprint="salt4",
    )
    cols = [
        "subj", "pred", "obj", "conv_id", "turn_idx", "rule_id",
        "lineage_id", "part_key",
    ]
    got = out.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    want = final_triples[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert "_salt" not in out.columns


@pytest.mark.parametrize("stage_d", ["driver", "forced_loop"])
def test_fused_sink_matches_checkpointed(
    spark, transcripts_df, entity_dict_df, tmp_path, final_triples, monkeypatch, stage_d
):
    """A fused run publishes the checkpointed run's sink row for row —
    lineage ids and part_key included — with Stage D on its all-pairs
    driver path and forced onto LSH + the iterative loop; rewrite
    broadcasts either label table."""
    if stage_d == "forced_loop":
        monkeypatch.setattr(canon, "DRIVER_ALLPAIRS_MAX_SURFACES", 0)
    wd = str(tmp_path / stage_d)
    cfg = pipeline.PipelineConfig(work_dir=wd, input_fingerprint=stage_d, checkpoints=False)
    pipeline.Pipeline(cfg).run(spark, transcripts_df, entity_dict_df)
    cols = [
        "subj", "pred", "obj", "conv_id", "turn_idx", "rule_id",
        "lineage_id", "part_key",
    ]
    got = io_tables.read_stage(spark, os.path.join(wd, "E_triples")).toPandas()
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = final_triples[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_torn_manifest_write_keeps_previous_manifest(spark, tmp_path, monkeypatch):
    """A crash while a stage's manifest is being dumped (here: the second
    append to a sink) must leave the previous manifest readable — never a
    truncated file that read_manifest would choke on at the next run's
    publish anti-join."""
    path = str(tmp_path / "sink")
    df = spark.createDataFrame([("s", 1)], "subj string, n int")
    first = io_tables.write_stage(df, path, "E_triples", "fp1", mode="append")

    def torn_dump(obj, f, **kwargs):
        f.write(json.dumps(obj)[:20])
        raise OSError("disk full")

    monkeypatch.setattr(io_tables.json, "dump", torn_dump)
    with pytest.raises(OSError):
        io_tables.write_stage(df, path, "E_triples", "fp2", mode="append")
    monkeypatch.undo()
    assert io_tables.read_manifest(path) == first


def test_append_opens_only_the_delta_footers(spark, tmp_path, monkeypatch):
    """An append into a multi-file sink reads the row counts of the files
    the manifest lists from the manifest, and opens the footer of the one
    file it wrote; the counts match a write that opens every footer."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "sink")
    base = spark.range(0, 40, numPartitions=4).select(
        F.col("id").cast("string").alias("subj"), (F.col("id") % 4).alias("part_key")
    )
    first = io_tables.write_stage(base, path, "E_triples", "fp1", ["part_key"], "append")
    assert len(glob.glob(f"{path}/*/*.parquet")) > 4
    opened = []

    class Counting(pq.ParquetFile):
        def __init__(self, source, *args, **kwargs):
            opened.append(source)
            super().__init__(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Counting)
    delta = spark.createDataFrame([("x", 2)], "subj string, part_key long").coalesce(1)
    got = io_tables.write_stage(delta, path, "E_triples", "fp2", ["part_key"], "append")
    assert len(opened) == 1 and "part_key=2" in opened[0], opened
    assert got["rows"] == 41 and got["partition_counts"]["part_key=2"] == 11
    # overwrite reuses nothing: it opens every footer it leaves
    again = io_tables.write_stage(base, path, "E_triples", "fp3", ["part_key"])
    assert len(opened) == 1 + len(glob.glob(f"{path}/*/*.parquet"))
    assert again["partition_counts"] == first["partition_counts"]


def test_publish_salt_sizing():
    """Salt factor: data-volume-sized with floor 1 (unsalted small-corpus
    plan byte-identical to round 3) and the documented cap."""
    f = pipeline.publish_salt_factor
    assert f(None) == 1
    assert f(1_000_000) == 1
    assert f(pipeline.PUBLISH_SALT_ROWS) == 1
    assert f(pipeline.PUBLISH_SALT_ROWS + 1) == 2
    assert f(18_000_000) == 4   # 18M estimated triples (~24M turns)
    assert f(74_000_000) == 15  # 74M estimated triples (~97M turns)
    assert f(10**12) == pipeline.PUBLISH_MAX_SALT
    assert pipeline.publish_task_count(18_000_000, 8) == 512
    assert pipeline.publish_task_count(None, 8) == 128


@pytest.mark.parametrize(
    "name, changed",
    [
        ("RULES", lambda r: r[:-1]),
        ("SHINGLE_K", lambda k: k + 1),
        ("MINHASH_HASHES", lambda n: n * 2),
        ("JACCARD_THRESHOLD", lambda t: t + 0.1),
    ],
)
def test_config_hash_covers_rules_and_stage_d_constants(monkeypatch, name, changed):
    """A checkpoint built under other extraction rules or other Stage D
    constants is not resumed: each one is part of config_hash, read at
    call time."""
    cfg = pipeline.PipelineConfig(work_dir="w", input_fingerprint="fp")
    before = cfg.config_hash()
    monkeypatch.setattr(rules, name, changed(getattr(rules, name)))
    assert cfg.config_hash() != before
    monkeypatch.undo()
    assert cfg.config_hash() == before


def test_ingest_partition_sizing():
    """Stage-A partition count: data-sized above the session shuffle
    default, floor keeps <=16M-turn plans identical to round 3."""
    f = pipeline.ingest_partitions
    assert f(None, 16) == 16
    assert f(1_000_000, 16) == 16
    assert f(16_000_000, 16) == 16      # 16M/local[8]: unchanged
    assert f(16_000_000, 4) == 16       # 16M/local[2]: bounded task size
    assert f(64_000_000, 16) == 64
    assert f(64_000_000, 4) == 64       # same count at BOTH cluster sizes
    assert f(10**12, 64) == pipeline.INGEST_MAX_PARTS


def _load_harness(name: str):
    spec = importlib.util.spec_from_file_location(
        f"harness_{name}", ROOT / "BENCH" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_harnesses_import_and_scaling_level_runs(spark, monkeypatch, capsys):
    """The BENCH/ harnesses run only by hand, so nothing else notices when
    they drift from the code they drive. Import each, and run one
    run_scaling level per mode for real: run_level's subprocess is faked
    to run the child argv it built in this process, through main, with
    get_spark returning the test session (so its confs are not
    rewritten), on synth.stage_corpus(60)."""
    from kgpipe import session, synth

    _load_harness("membw_probe")
    _load_harness("oracle_baseline")
    run_scaling = _load_harness("run_scaling")
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    calls = []

    def fake_run(argv, env, **kwargs):
        calls.append((argv, env))
        capsys.readouterr()
        assert run_scaling.main(argv[argv.index("--child"):]) == 0
        return subprocess.CompletedProcess(argv, 0, capsys.readouterr().out, "")

    monkeypatch.setattr(run_scaling.subprocess, "run", fake_run)

    def work_dirs() -> set[str]:
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "bench_*")))

    before = work_dirs()
    turns = 60 * 70
    assert synth.scale_for_turns(turns) == 60
    results = {
        mode: run_scaling.run_level(
            1, ["--turns", str(turns), "--trials", "1", "--mode", mode]
        )
        for mode in ("ckpt", "fused")
    }
    assert len(calls) == 2
    for argv, env in calls:
        assert argv[:3] == ["taskset", "-c", "0-0"]
        assert env["SPARK_GRAFT_CPUS"] == "1"
    assert results["ckpt"]["triples"] == results["fused"]["triples"] > 0
    for r in results.values():
        assert set(r["stage_ms"]) == {"B_extract", "D_canon", "E_triples"}
        assert len(r["all_walls"]) == 2  # warm-up + 1 trial
    assert work_dirs() == before


@pytest.mark.parametrize("entry", ["cli", "submit_run"])
def test_run_entry_points_publish_then_resume(spark, tmp_path, capsys, entry):
    """`python -m kgpipe.cli run` and its spark-submit script print the
    sink manifest's row count, and a --resume rerun skips every stage."""
    from kgpipe import cli, synth
    from tools import submit_run

    d = synth.stage_corpus(120)  # the conftest fixture corpus, as parquet
    work = str(tmp_path / "run")
    argv = [
        "run", "--input", f"{d}/transcripts.parquet",
        "--dict", f"{d}/entity_dict.parquet", "--work", work,
    ]

    def run(args: list[str]) -> dict:
        capsys.readouterr()
        if entry == "cli":
            assert cli.main(args, spark) == 0
        else:
            assert submit_run.main(args) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = run(argv)
    assert first["triples"] == io_tables.read_manifest(f"{work}/E_triples")["rows"] > 0
    assert not any(s["skipped"] for s in first["stages"])
    again = run(argv + ["--resume"])
    assert [s["stage"] for s in again["stages"]] == [
        "B_extract", "D_canon", "E_triples"
    ]
    assert all(s["skipped"] for s in again["stages"])
    assert again["triples"] == first["triples"]


def test_resume_rebuilds_b_after_input_rewritten_in_place(spark, corpus, tmp_path, capsys):
    """`cli run` fingerprints --input by its files, their sizes and their
    parquet-footer row counts, not by the path string: an input rewritten
    at the same path rebuilds B on --resume and publishes the new turns'
    triples."""
    from kgpipe import cli

    t = corpus.transcripts
    convs = sorted(t["conv_id"].unique())
    inp, dict_path = tmp_path / "transcripts.parquet", tmp_path / "dict.parquet"
    corpus.entity_dict.to_parquet(dict_path, index=False)
    argv = [
        "run", "--input", str(inp), "--dict", str(dict_path),
        "--work", str(tmp_path / "work"), "--resume",
    ]

    def run(conv_ids: list[str]) -> dict:
        t[t["conv_id"].isin(conv_ids)].to_parquet(inp, index=False)
        capsys.readouterr()
        assert cli.main(argv, spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = run(convs[:4])
    again = run(convs[4:8])
    assert [s["skipped"] for s in again["stages"]] == [False, False, False]
    assert again["triples"] > first["triples"] > 0
