"""Self-test of the benchmark at tiny scale (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that
  1. the output check rejects a sink with one triple dropped and one
     duplicated (and accepts the intact sink);
  2. the full-size canon_chains input has more symmetrized LSH edges than
     canon.DRIVER_CC_MAX_EDGES, so Stage D takes the iterative CC path, and
     converges in fewer rounds than the loop's cap;
  3. the append_ckpt delta carries the intended re-sent and duplicated rows;
  4. for every workload, a second seed yields the same metric names and
     passes the output check, untraced and traced.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from kgpipe import canon, rules  # noqa: E402


def write_sink(path: str, rows: pd.DataFrame) -> None:
    os.makedirs(path)
    rows = rows.assign(lineage_id=[f"l{i:08d}" for i in range(len(rows))])
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        json.dump({"rows": len(rows)}, f)


def test_check_rejects_drop_and_duplicate(tmp: str) -> None:
    inputs = workloads.make("canon_chains", 1, os.path.join(tmp, "in"), "tiny")
    exp = inputs.run.expected
    want = np.unique(check.row_hashes(exp))
    write_sink(os.path.join(tmp, "good"), exp)
    assert check.check_sink(os.path.join(tmp, "good"), want) == []
    bad = pd.concat([exp.iloc[1:], exp.iloc[[5]]], ignore_index=True)  # same row count
    write_sink(os.path.join(tmp, "bad"), bad)
    problems = check.check_sink(os.path.join(tmp, "bad"), want)
    assert any("duplicate" in p for p in problems), problems
    assert any("1 missing" in p for p in problems), problems


def test_canon_chains_take_iterative_cc(tmp: str) -> None:
    fams = workloads.chain_families(
        workloads.SCALES["full"]["chain_families"], np.random.default_rng(0))
    edges, eccentricity = 0, 0
    for names in fams:
        sh = [rules.char_shingles(n) for n in names]
        adj = {i: [] for i in range(len(names))}
        for i in range(len(names)):
            for j in range(i + 1, min(i + workloads.MAX_LINK_STEPS, len(names))):
                if rules.jaccard(sh[i], sh[j]) >= rules.JACCARD_THRESHOLD:
                    adj[i].append(j)
                    adj[j].append(i)
                    edges += 1
        assert min(names) == names[0]
        dist, frontier = {0: 0}, [0]  # BFS from the representative
        while frontier:
            nxt = []
            for i in frontier:
                for j in adj[i]:
                    if j not in dist:
                        dist[j] = dist[i] + 1
                        nxt.append(j)
            frontier = nxt
        assert len(dist) == len(names), "a family is not connected"
        eccentricity = max(eccentricity, max(dist.values()))
    surfaces = sum(len(f) for f in fams)
    cap = inspect.signature(canon.connected_components).parameters["max_iter"].default
    assert surfaces > canon.DRIVER_ALLPAIRS_MAX_SURFACES, surfaces
    assert 2 * edges > canon.DRIVER_CC_MAX_EDGES, edges
    # one round per hop from the representative, plus the round that sees
    # no change
    assert 10 <= eccentricity + 1 < cap, eccentricity


def test_append_delta_counts(tmp: str) -> None:
    inputs = workloads.make("append_ckpt", 3, os.path.join(tmp, "in"), "tiny")
    info = inputs.run.info
    delta = pq.read_table(inputs.run.transcripts).to_pandas()
    base = pq.read_table(inputs.base.transcripts).to_pandas()
    keys = ["conv_id", "turn_idx"]
    resent = delta.merge(base[keys], on=keys)
    assert len(resent) == info["resent_turns"] == int(info["new_turns"] * workloads.RESEND_SHARE)
    counts = delta.groupby(keys).size()
    assert (counts > 1).sum() == info["dup_rows"] == max(
        1, int(info["new_turns"] * workloads.DUP_SHARE))
    assert len(delta) == info["new_turns"] + info["resent_turns"] + info["dup_rows"]
    assert info["resent_triples"] > 0


def bench(workload: str, seed: int, trace: int, tmp: str) -> dict:
    """Run the benchmark at tiny scale in a scratch checkout; last line."""
    out = subprocess.run(
        [sys.executable, os.path.join(tmp, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=tmp, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_second_seed_same_metrics(tmp: str) -> None:
    co = os.path.join(tmp, "checkout")
    for d in ("kgpipe", "perfbench"):
        shutil.copytree(os.path.join(ROOT, d), os.path.join(co, d),
                        ignore=shutil.ignore_patterns("__pycache__"))
    for workload in run.WORKLOADS:
        names = None
        for seed in (1, 2):
            r = bench(workload, seed, 0, co)
            assert r["correct"] and r["failed"] == 0, r
            assert names is None or set(r["metrics"]) == names
            names = set(r["metrics"])
        assert names == set(run.E2E_UNITS)
        r = bench(workload, 2, 1, co)
        assert r["correct"], r
        import tracing

        assert set(r["metrics"]) == set(tracing.metric_names()), workload


def main() -> int:
    tests = [test_check_rejects_drop_and_duplicate, test_canon_chains_take_iterative_cc,
             test_append_delta_counts, test_second_seed_same_metrics]
    failed = 0
    for t in tests:
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="selftest_", dir=os.path.join(ROOT, ".perfbench_work"))
        try:
            t(tmp)
            print(f"ok   {t.__name__}")
        except AssertionError as exc:
            failed += 1
            print(f"FAIL {t.__name__}: {exc}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
