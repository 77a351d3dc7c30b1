"""Per-layer tracing from outside the program.

`Tracer.install()` replaces the pipeline's layer entry points with wrappers
through module attributes (the pipeline calls every one of them through its
module, so nothing under kgpipe/ changes). Each wrapper opens a span and
sets a Spark job group naming that span; `fold()` later reads Spark's event
log and charges every job, stage and task to the span whose group it ran
under.

Layers and the calls they wrap:
  ingest           pipeline.stage_ingest
  extract          extract.stage_extract
  link             link.stage_link
  canon            canon.stage_canon
  canon.lsh        canon.candidate_pairs
  canon.cc         canon.connected_components
  publish          io_tables.write_stage for stage E_triples
  io_tables.write  io_tables.write_stage for every other stage
  io_tables.read   io_tables.read_stage
  session          session.get_spark (timed by the caller)
  rules            rules.extract_triples_arrow, timed without Spark

Stages B-D are lazy: their Spark work runs when a checkpoint write forces
it. So a layer's counters cover its own spans plus the checkpoint writes of
the stage it built (B_extract -> extract, C_link -> link, D_canon -> canon);
those writes are io_tables.write spans as well. Likewise candidate_pairs
returns a lazy edge list that connected_components' first count executes;
that count is a canon.lsh span inside canon.cc. Counters of a span include
its child spans; `self_s` alone excludes them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

SPARK_LAYERS = (
    "ingest",
    "extract",
    "link",
    "canon",
    "canon.lsh",
    "canon.cc",
    "publish",
    "io_tables.write",
    "io_tables.read",
)
COUNTERS = (
    "wall_s",
    "self_s",
    "driver_s",
    "jobs",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "task_wait_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "rows_out",
)
EXTRA = (
    "extract.py_sent_mb",
    "extract.py_returned_mb",
    "extract.yield",
    "rules.kernel_s",
    "canon.unlinked",
    "canon.lsh.edges",
    "canon.cc.rounds",
    "ingest.flagged_keys",
    "publish.cpu_ratio",
    "publish.antijoin_dropped",
    "io_tables.write.bytes_mb",
    "session.start_s",
    "trace.overhead",
)
BUILDER_OF_STAGE = {"B_extract": "extract", "C_link": "link", "D_canon": "canon"}
MB = 1024 * 1024


def metric_names() -> list[str]:
    return [f"{layer}.{c}" for layer in SPARK_LAYERS for c in COUNTERS] + list(EXTRA)


def metric_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "overhead", "yield")):
        return "ratio"
    return "count"


@dataclass
class Span:
    sid: str
    layer: str
    start: float
    parent: Span | None
    end: float = 0.0
    deferred_for: str | None = None  # checkpoint write of this layer's stage
    counts: list[int] = field(default_factory=list)  # DataFrame.count() results
    created_rows: int = 0  # rows handed to createDataFrame


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _enter(self, layer: str, deferred_for: str | None = None) -> Span:
        s = Span(f"pb{len(self.spans)}", layer, time.time(),
                 self.stack[-1] if self.stack else None, deferred_for=deferred_for)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.sid, layer)
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.time()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].sid, self.stack[-1].layer)
        else:
            self.sc._jsc.clearJobGroup()

    def _wrap(self, layer_of, fn):
        def wrapper(*args, **kwargs):
            layer, deferred = layer_of(*args, **kwargs)
            s = self._enter(layer, deferred)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(s)

        return wrapper

    def _patch(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def install(self) -> None:
        from kgpipe import canon, extract, io_tables, link, pipeline

        def fixed(layer):
            return lambda *a, **k: (layer, None)

        def write_layer(df, path, stage, *a, **k):
            if stage == "E_triples":
                return "publish", None
            return "io_tables.write", BUILDER_OF_STAGE.get(stage)

        for owner, name, layer in (
            (pipeline, "stage_ingest", "ingest"),
            (extract, "stage_extract", "extract"),
            (link, "stage_link", "link"),
            (canon, "stage_canon", "canon"),
            (canon, "candidate_pairs", "canon.lsh"),
            (canon, "connected_components", "canon.cc"),
            (io_tables, "read_stage", "io_tables.read"),
        ):
            self._patch(owner, name, self._wrap(fixed(layer), getattr(owner, name)))
        self._patch(io_tables, "write_stage",
                    self._wrap(write_layer, io_tables.write_stage))

        # counts the program takes itself (unlinked surfaces, CC edges and
        # convergence checks) and the flagged keys Stage A broadcasts
        df_cls = type(self.spark.range(1))
        orig_count = df_cls.count

        def count(df):
            top = self.stack[-1] if self.stack else None
            if top is not None and top.layer == "canon.cc" and not top.counts:
                # the first action on the LSH edge list executes the lazy
                # candidate_pairs plan: charge it to canon.lsh
                s = self._enter("canon.lsh")
                try:
                    n = orig_count(df)
                finally:
                    self._exit(s)
            else:
                n = orig_count(df)
            if top is not None:
                top.counts.append(n)
            return n

        self._patch(df_cls, "count", count)
        sess_cls = type(self.spark)
        orig_create = sess_cls.createDataFrame

        def create(sess, data, *a, **k):
            if self.stack and isinstance(data, list):
                self.stack[-1].created_rows += len(data)
            return orig_create(sess, data, *a, **k)

        self._patch(sess_cls, "createDataFrame", create)

    def uninstall(self) -> None:
        while self._undo:
            owner, name, old = self._undo.pop()
            setattr(owner, name, old)

    # -- counts taken inside spans ------------------------------------------
    def program_counts(self) -> dict[str, float]:
        def spans(layer):
            return [s for s in self.spans if s.layer == layer and s.deferred_for is None]

        unlinked = [s.counts[0] for s in spans("canon") if s.counts]
        cc = [s.counts for s in spans("canon.cc") if s.counts]
        return {
            "canon.unlinked": sum(unlinked),
            # the first count in connected_components is the symmetrized
            # edge list; every later one is a per-round convergence check
            "canon.lsh.edges": sum(c[0] for c in cc) / 2,
            "canon.cc.rounds": sum(len(c) - 1 for c in cc),
            "ingest.flagged_keys": sum(s.created_rows for s in spans("ingest")),
        }


# -- event log ----------------------------------------------------------------
def _events(evt_dir: str):
    for path in sorted(glob.glob(os.path.join(evt_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue


def _python_metric_ids(plan: dict, out: dict[str, set]) -> None:
    """Accumulator ids of the Arrow UDF nodes' Python metrics, plus the row
    count of the operator feeding each node (turns sent to Python)."""
    if "ArrowEval" in plan["nodeName"] or "MapInArrow" in plan["nodeName"]:
        for m in plan["metrics"]:
            out.setdefault(m["name"], set()).add(m["accumulatorId"])
        node = plan["children"][0] if plan["children"] else None
        while node is not None:
            rows = [m for m in node["metrics"] if m["name"] == "number of output rows"]
            if rows:
                out.setdefault("rows sent", set()).add(rows[0]["accumulatorId"])
                break
            node = node["children"][0] if node["children"] else None
    for child in plan["children"]:
        _python_metric_ids(child, out)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def fold(tracer: Tracer, evt_dir: str, t_from: float, t_to: float) -> dict[str, float]:
    """Per-layer counters of the traced run between `t_from` and `t_to`
    (epoch seconds)."""
    spans = [s for s in tracer.spans if t_from <= s.start <= t_to]
    by_id = {s.sid: s for s in spans}
    job_group, job_iv, stage_group, stage_submit = {}, {}, {}, {}
    py_ids: dict[str, set] = {}
    tasks = []
    for ev in _events(evt_dir):
        et = ev.get("Event", "")
        if et == "SparkListenerJobStart":
            job_group[ev["Job ID"]] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_iv[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
        elif et == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif et == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            stage_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_submit[key] = si.get("Submission Time", 0) / 1e3
        elif et == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif et.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _python_metric_ids(ev["sparkPlanInfo"], py_ids)

    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None and s.parent.sid in by_id:
            children.setdefault(s.parent.sid, []).append(s)

    def subtree(s: Span) -> set[str]:
        ids, todo = set(), [s]
        while todo:
            x = todo.pop()
            ids.add(x.sid)
            todo.extend(children.get(x.sid, ()))
        return ids

    jobs_iv = [tuple(iv) for iv in job_iv.values() if iv[1] is not None]
    # per span-group task totals
    per_group: dict[str, dict[str, float]] = {}
    py_totals = {k: 0.0 for k in py_ids}
    for ev in tasks:
        key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        g = stage_group.get(key)
        ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        if not t_from <= ti.get("Launch Time", 0) / 1e3 <= t_to:
            continue
        for acc in ti.get("Accumulables", []):
            for name, ids in py_ids.items():
                if acc.get("ID") in ids:
                    py_totals[name] += float(acc.get("Update", 0) or 0)
        if g not in by_id:
            continue
        t = per_group.setdefault(g, dict.fromkeys(
            ("tasks", "exec_run_s", "exec_cpu_s", "task_wait_s", "shuffle_write_mb",
             "shuffle_read_mb", "spill_mb", "rows_out", "bytes_out_mb"), 0.0))
        srm = tm.get("Shuffle Read Metrics", {})
        om = tm.get("Output Metrics", {})
        t["tasks"] += 1
        t["exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        t["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        t["task_wait_s"] += max(0.0, ti.get("Launch Time", 0) / 1e3 - stage_submit.get(key, 0))
        t["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
        t["shuffle_read_mb"] += (srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)) / MB
        t["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        t["rows_out"] += om.get("Records Written", 0)
        t["bytes_out_mb"] += om.get("Bytes Written", 0) / MB
    jobs_per_group: dict[str, int] = {}
    for j, g in job_group.items():
        if g in by_id:
            jobs_per_group[g] = jobs_per_group.get(g, 0) + 1

    out: dict[str, float] = {}
    bytes_out: dict[str, float] = {}
    for layer in SPARK_LAYERS:
        acc = dict.fromkeys(COUNTERS, 0.0)
        mine = [s for s in spans if s.layer == layer or s.deferred_for == layer]
        bytes_out[layer] = 0.0
        for s in mine:
            dur = s.end - s.start
            kids = [(c.start, c.end) for c in children.get(s.sid, ())]
            acc["wall_s"] += dur
            acc["self_s"] += dur - _covered(kids, s.start, s.end)
            acc["driver_s"] += dur - _covered(jobs_iv, s.start, s.end)
            for g in subtree(s):
                acc["jobs"] += jobs_per_group.get(g, 0)
                for k, v in per_group.get(g, {}).items():
                    if k == "bytes_out_mb":
                        bytes_out[layer] += v
                    else:
                        acc[k] += v
        out.update({f"{layer}.{k}": v for k, v in acc.items()})

    sent = py_totals.get("data sent to Python workers", 0.0)
    returned = py_totals.get("data returned from Python workers", 0.0)
    rows_sent = py_totals.get("rows sent", 0.0)
    rows_back = py_totals.get("number of output rows", 0.0)
    out["extract.py_sent_mb"] = sent / MB
    out["extract.py_returned_mb"] = returned / MB
    out["extract.yield"] = rows_back / rows_sent if rows_sent else 0.0
    run_s = out["publish.exec_run_s"]
    out["publish.cpu_ratio"] = out["publish.exec_cpu_s"] / run_s if run_s else 0.0
    out["io_tables.write.bytes_mb"] = bytes_out["io_tables.write"]
    return out


# -- Spark-free kernel timing ----------------------------------------------------
def kernel_seconds(transcripts_path: str, batch_rows: int = 50_000, repeats: int = 3) -> float:
    """Median time of rules.extract_triples_arrow over the input's turns
    after Stage B's normalisation and anchor prefilter, in batches the
    size Spark ships (spark.sql.execution.arrow.maxRecordsPerBatch)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from kgpipe import rules

    t = pq.read_table(transcripts_path, columns=["conv_id", "turn_idx", "role", "text"])
    norm = pc.utf8_lower(pc.utf8_trim(
        pc.replace_substring_regex(t["text"], r"\s+", " "), " "))
    keep = None
    for r in rules.RULES:
        hit = pc.match_substring(norm, r.anchor)
        keep = hit if keep is None else pc.or_(keep, hit)
    t = pa.table({"conv_id": t["conv_id"], "turn_idx": t["turn_idx"],
                  "role": t["role"], "text_norm": norm}).filter(keep)
    batches = t.to_batches(max_chunksize=batch_rows)
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for b in batches:
            rules.extract_triples_arrow(b)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
