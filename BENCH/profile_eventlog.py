"""Event-log-instrumented pipeline run: decisive attribution for the 64M
scaling shortfall (round-4 follow-up to profile_stageE_64M.py).

Every prior 64M probe moved a RESOURCE knob (heap, scratch, persist level,
ckpt/fused) and the pair walls never moved — local[2] pinned at 800-850 s,
local[8] at 298-312 s (scaling_2v8_*_64M.md). The remaining hypotheses
differ in WHERE the 4N level's lost time goes, which only task-level
metrics can separate:

  (a) executor work inflation  -> sum(executorRunTime) grows at 4N
      (memory-bandwidth / spill / GC contention inside tasks);
  (b) GC                       -> jvmGCTime fraction grows at 4N;
  (c) serial driver time       -> wall not covered by any running stage
      (job-boundary planning, AQE re-planning, commit, Python driver code);
  (d) task-count starvation    -> stages with fewer tasks than cores
      (e.g. shuffle.partitions=2*cores at 64M = huge partitions, AQE
      coalescing below the core count, single-task tail).

This runs the SAME fused/ckpt pipeline as run_scaling.py (same pinning,
same flat 8g heap, same corpus builder) with spark.eventLog on, then
parses the log into per-stage (span, tasks, executorRunTime, cpuTime,
gcTime, spill, shuffle bytes) plus the wall/stage-union/driver-gap split.

Usage: python BENCH/profile_eventlog.py --turns 64000000 --cores 2 8
Writes BENCH/evtlog_{turns}M_{cores}.json + a joint markdown summary.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time, tempfile, shutil
sys.path.insert(0, {repo!r})
from kgpipe import pipeline, schemas
from kgpipe.session import get_spark

cores = {cores}
evt_dir = {evt_dir!r}
import os as _os
_os.makedirs(evt_dir, exist_ok=True)
spark = get_spark(
    "evtprofile",
    master=f"local[{{cores}}]",
    shuffle_partitions=2 * cores,
    extra_conf={{
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file:" + evt_dir,
        "spark.eventLog.compress": "false",
        "spark.driver.memory": "8g",  # flat protocol (primary evidence)
    }},
)
spark.sparkContext.setLogLevel("ERROR")

walls = []
for trial, src in enumerate([{warm_corpus!r}, {corpus!r}]):
    t = spark.read.schema(schemas.TRANSCRIPTS).parquet(src + "/transcripts.parquet")
    e = spark.read.schema(schemas.ENTITY_DICT).parquet(src + "/entity_dict.parquet")
    t0 = time.time()
    cfg = pipeline.PipelineConfig(
        work_dir=tempfile.mkdtemp(prefix=f"evt{{cores}}_{{trial}}_"),
        input_fingerprint=f"evt{{trial}}",
        checkpoints={checkpoints},
    )
    p = pipeline.Pipeline(cfg)
    n = p.run(spark, t, e)["rows"]
    walls.append(time.time() - t0)
    stage_ms = {{m["stage"]: m["total_ms"] for m in p.metrics}}
    if trial == 0:
        # warm-up: mark the boundary so the parser can drop its jobs
        print("WARMUP_END " + str(time.time() * 1000))
    spark.catalog.clearCache()
    shutil.rmtree(cfg.work_dir, ignore_errors=True)
print("RESULT " + json.dumps({{"cores": cores, "wall_s": round(walls[1], 2),
                               "warm_wall_s": round(walls[0], 2),
                               "triples": n, "stage_ms": stage_ms}}))
spark.stop()
"""


def run_level(cores: int, corpus: str, warm: str, checkpoints: bool) -> dict:
    evt_dir = f"/tmp/kgevt_{cores}_{os.getpid()}"
    code = CHILD.format(
        repo=REPO, cores=cores, corpus=corpus, warm_corpus=warm,
        checkpoints=checkpoints, evt_dir=evt_dir,
    )
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
        capture_output=True, text=True, timeout=7200,
    )
    res, warm_end = None, 0.0
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            res = json.loads(line[len("RESULT "):])
        elif line.startswith("WARMUP_END "):
            warm_end = float(line.split()[1])
    if res is None:
        raise RuntimeError(f"no RESULT local[{cores}]:\n{out.stderr[-3000:]}")
    logs = sorted(glob.glob(os.path.join(evt_dir, "*")), key=os.path.getmtime)
    log = logs[-1]
    if os.path.isdir(log):  # Spark 4 rolling event log: events_* files inside
        log = sorted(glob.glob(os.path.join(log, "events_*")))
    else:
        log = [log]
    res["analysis"] = parse_eventlog(log, after_ms=warm_end)
    return res


def parse_eventlog(paths: list[str], after_ms: float = 0.0) -> dict:
    """Aggregate task metrics per stage, measured pass only (> after_ms)."""
    stages: dict[tuple, dict] = {}
    spans: list[tuple[float, float]] = []
    t_min, t_max = float("inf"), 0.0

    def _lines():
        for p in paths:
            with open(p) as f:
                yield from f

    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time", 0)
                comp = si.get("Completion Time", 0)
                if comp <= after_ms:
                    continue
                key = (si["Stage ID"], si.get("Attempt ID", 0))
                st = stages.setdefault(key, _zero())
                st["name"] = si["Stage Name"]
                st["span_s"] = (comp - sub) / 1e3
                st["n_tasks"] = si["Number of Tasks"]
                spans.append((sub, comp))
                t_min, t_max = min(t_min, sub), max(t_max, comp)
            elif et == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                if ti.get("Finish Time", 0) <= after_ms:
                    continue
                tm = ev.get("Task Metrics")
                if not tm:
                    continue
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                st = stages.setdefault(key, _zero())
                st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                st["deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
                st["rser_s"] += tm.get("Result Serialization Time", 0) / 1e3
                st["spill_mem"] += tm.get("Memory Bytes Spilled", 0)
                st["spill_disk"] += tm.get("Disk Bytes Spilled", 0)
                srm = tm.get("Shuffle Read Metrics", {})
                st["shuf_read"] += srm.get("Remote Bytes Read", 0) + srm.get(
                    "Local Bytes Read", 0)
                st["shuf_fetch_wait_s"] += srm.get("Fetch Wait Time", 0) / 1e3
                swm = tm.get("Shuffle Write Metrics", {})
                st["shuf_write"] += swm.get("Shuffle Bytes Written", 0)
                st["shuf_write_s"] += swm.get("Shuffle Write Time", 0) / 1e9
                im = tm.get("Input Metrics", {})
                st["input"] += im.get("Bytes Read", 0)
                om = tm.get("Output Metrics", {})
                st["output"] += om.get("Bytes Written", 0)
                st["done_tasks"] = st.get("done_tasks", 0) + 1

    # wall not covered by any running stage = driver/serial time
    spans.sort()
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_s is None:
            cur_s, cur_e = s, e
        elif s <= cur_e:
            cur_e = max(cur_e, e)
        else:
            covered += cur_e - cur_s
            cur_s, cur_e = s, e
    if cur_s is not None:
        covered += cur_e - cur_s
    wall = (t_max - t_min) / 1e3 if spans else 0.0

    tot = _zero()
    for st in stages.values():
        for k, v in st.items():
            if isinstance(v, (int, float)) and k in tot:
                tot[k] += v
    top = sorted(stages.values(), key=lambda s: -s.get("span_s", 0))[:18]
    return {
        "wall_span_s": round(wall, 1),
        "stage_covered_s": round(covered / 1e3, 1),
        "driver_gap_s": round(wall - covered / 1e3, 1),
        "n_stages": len(stages),
        "totals": {k: (round(v, 1) if isinstance(v, float) else v)
                   for k, v in tot.items() if k != "name"},
        "top_stages": [
            {k: (round(v, 2) if isinstance(v, float) else v)
             for k, v in s.items()} for s in top
        ],
    }


def _zero() -> dict:
    return dict(name="", span_s=0.0, n_tasks=0, run_s=0.0, cpu_s=0.0,
                gc_s=0.0, deser_s=0.0, rser_s=0.0, spill_mem=0, spill_disk=0,
                shuf_read=0, shuf_write=0, shuf_write_s=0.0,
                shuf_fetch_wait_s=0.0, input=0, output=0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=64_000_000)
    ap.add_argument("--cores", type=int, nargs="+", default=[2, 8])
    ap.add_argument("--mode", choices=["fused", "ckpt"], default="fused")
    ap.add_argument("--warm-turns", type=int, default=1_000_000)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from bench import corpus_parquet

    corpus = corpus_parquet(max(200, args.turns // 70))
    warm = corpus_parquet(max(200, args.warm_turns // 70))
    results = {}
    for c in args.cores:
        r = run_level(c, corpus, warm, args.mode == "ckpt")
        results[f"local{c}"] = r
        print(json.dumps({f"local{c}": {k: v for k, v in r.items()
                                        if k != "analysis"}}))
        print(json.dumps(r["analysis"], indent=1))
    out = os.path.join(
        REPO, "BENCH",
        f"evtlog_{args.turns // 1_000_000}M_{args.mode}_"
        f"{'_'.join(map(str, args.cores))}.json",
    )
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print("WROTE", out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
