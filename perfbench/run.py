"""kgpipe benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload append_ckpt --seed 1 --seconds 16 --trace 0

Run from the root of a kgpipe checkout; everything it writes stays under
`.perfbench_work/` there and is removed at exit. The program is imported
from the checkout (`kgpipe/`), never installed.

Protocol (one process, `local[nproc]`):
  set-up    start the Spark session; generate the workload's inputs from
            the seed SETUP_REPEATS times (the median counts); append_ckpt
            publishes its base sink; one discarded run warms up the JIT
            and Python workers (canon_chains: over a 1,000-turn input that
            takes Stage D's driver shortcuts, so the measured run still
            pays the LSH and iterative-CC first-use costs; append_ckpt:
            the delta).
  measure   `Pipeline.run` back to back until the measured walls add up to
            --seconds (at least one run). Before each run and outside the
            clock the work dir is fresh (append_ckpt: a copy of the base
            sink). After each run, also outside the clock, the sink is
            checked against the expected triple set (check.py).
  --trace 0 prints the end-to-end metrics: medians over the measured runs.
  --trace 1 runs the session with Spark's event log on, makes the same
            set-up (its warm-up checkpointed), then two checkpointed runs,
            traced and untraced, and prints the per-layer metrics of the
            traced one (tracing.py). Its overhead is its wall over the
            untraced run's, minus one: an upper bound, as the traced run
            goes first and so is the colder of the two.

The last stdout line is the result; the line before it carries the
per-run figures, fail_ratio and the idle-box guard.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("canon_chains", "append_ckpt")
SETUP_REPEATS = 3
DRIVER_MEMORY = "3g"

E2E_UNITS = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "cpu_s": "s",
    "work_bytes_per_triple": "B",
    "setup_s": "s",
}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def manifest_rows(sink: str) -> int:
    from kgpipe import io_tables

    m = io_tables.read_manifest(sink)
    return m["rows"] if m else 0


class Bench:
    def __init__(self, workload: str, seed: int, work: str, trace: bool,
                 scale: str = "full"):
        self.workload = workload
        self.scale = scale
        self.seed = seed
        self.work = work
        self.trace = trace
        self.spark = None
        self.n_dirs = 0

    def _fresh_dir(self, tag: str) -> str:
        self.n_dirs += 1
        d = os.path.join(self.work, f"{tag}{self.n_dirs}")
        os.makedirs(d)
        return d

    # -- set-up -------------------------------------------------------------
    def start_session(self) -> float:
        from kgpipe.session import get_spark

        cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.evt_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.evt_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + self.evt_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def setup(self) -> dict:
        import workloads

        from check import row_hashes

        import numpy as np

        out = {"session_s": self.start_session()}
        gen = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.inputs = workloads.make(self.workload, self.seed, self._fresh_dir("in"),
                                         self.scale)
            run_h = row_hashes(self.inputs.run.expected)
            self.expected = {"run": np.unique(run_h)}
            if self.inputs.base is not None:
                # each run appends to the base sink, so its sink holds both
                base_h = row_hashes(self.inputs.base.expected)
                self.expected = {"base": np.unique(base_h),
                                 "run": np.unique(np.concatenate([base_h, run_h]))}
            gen.append(time.perf_counter() - t0)
        out["gen_s"] = statistics.median(gen)

        self.base_sink = None
        if self.inputs.base is not None:
            t0 = time.perf_counter()
            r = self.publish(self.inputs.base, True, expected=self.expected["base"])
            if r["problems"]:
                raise RuntimeError(f"base publish failed its check: {r['problems']}")
            self.base_sink = r["sink"]
            out["base_publish_s"] = time.perf_counter() - t0

        # warm-up (JIT, Python workers): one discarded run, for append_ckpt
        # of the delta itself, else over a small input of the same workload
        # that skips LSH, as a cold LSH warm-up costs as much as the
        # measured run (checkpointed when tracing, as the traced runs are)
        t0 = time.perf_counter()
        if self.base_sink is not None:
            self.measured_run(True)
        else:
            warm = workloads.make(self.workload, self.seed + 1, self._fresh_dir("warm"), "warm")
            self.publish(warm.run, warm.checkpoints or self.trace)
        out["warmup_s"] = time.perf_counter() - t0
        out["setup_s"] = out["session_s"] + out["gen_s"] + out["warmup_s"] + out.get(
            "base_publish_s", 0.0)
        return out

    # -- one measured pipeline run --------------------------------------------
    def publish(self, part, checkpoints: bool, base_sink: str | None = None,
                expected=None) -> dict:
        from kgpipe import pipeline, schemas

        from check import check_sink
        from procstat import PeakRss, tree_cpu_s

        spark = self.spark
        wd = self._fresh_dir("run")
        sink = os.path.join(wd, "E_triples")
        if base_sink:
            shutil.copytree(base_sink, sink)
        rows0, bytes0 = manifest_rows(sink), dir_bytes(wd)
        spark.catalog.clearCache()
        t = spark.read.schema(schemas.TRANSCRIPTS).parquet(part.transcripts)
        e = spark.read.schema(schemas.ENTITY_DICT).parquet(part.entity_dict)
        cfg = pipeline.PipelineConfig(
            work_dir=wd, input_fingerprint=f"perfbench-{self.seed}", checkpoints=checkpoints
        )
        cpu0 = tree_cpu_s()
        with PeakRss() as rss:
            t0 = time.perf_counter()
            pipeline.Pipeline(cfg).run(spark, t, e)
            wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        published = manifest_rows(sink) - rows0
        r = {
            "wall_s": wall,
            "cpu_s": cpu,
            "peak_rss_mb": rss.peak / 2**20,
            "published": published,
            "work_bytes": dir_bytes(wd) - bytes0,
            "sink": sink,
            "problems": check_sink(sink, expected) if expected is not None else [],
        }
        return r

    def measured_run(self, checkpoints: bool) -> dict:
        try:
            r = self.publish(self.inputs.run, checkpoints, self.base_sink,
                             self.expected["run"])
        except Exception as exc:  # a failed run counts against fail_ratio
            traceback.print_exc()
            return {"problems": [f"{type(exc).__name__}: {exc}"[:300]]}
        shutil.rmtree(os.path.dirname(r["sink"]), ignore_errors=True)
        return r

    # -- modes ------------------------------------------------------------------
    def measure(self, seconds: float) -> list[dict]:
        runs, clocked = [], 0.0
        while clocked < seconds:
            r = self.measured_run(self.inputs.checkpoints)
            runs.append(r)
            clocked += r.get("wall_s", seconds)
        return runs

    def traced(self) -> tuple[list[dict], dict[str, float]]:
        """a traced, then an untraced checkpointed run"""
        import tracing

        tracer = tracing.Tracer(self.spark)
        tracer.install()
        t_from = time.time()
        try:
            runs = [self.measured_run(True)]
        finally:
            tracer.uninstall()
        t_to = time.time()
        runs.append(self.measured_run(True))
        kernel_s = tracing.kernel_seconds(self.inputs.run.transcripts)
        self.stop()  # flushes the event log
        layer = tracing.fold(tracer, self.evt_dir, t_from, t_to)
        layer.update(tracer.program_counts())
        layer["rules.kernel_s"] = kernel_s
        traced, plain = runs
        layer["publish.antijoin_dropped"] = (
            len(self.inputs.run.expected) - traced.get("published", 0))
        if "wall_s" in traced and "wall_s" in plain:
            layer["trace.overhead"] = traced["wall_s"] / plain["wall_s"] - 1
        return runs, layer

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        from procstat import descendants

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            # the gateway JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def e2e_metrics(runs: list[dict], setup: dict) -> dict[str, float]:
    ok = [r for r in runs if not r["problems"]]

    def med(f):
        return statistics.median(f(r) for r in ok) if ok else 0.0

    return {
        "wall_s": med(lambda r: r["wall_s"]),
        "triples_per_s": med(lambda r: r["published"] / r["wall_s"]),
        "cpu_s": med(lambda r: r["cpu_s"]),
        "work_bytes_per_triple": med(lambda r: r["work_bytes"] / max(r["published"], 1)),
        "setup_s": setup["setup_s"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kgpipe", "pipeline.py")):
        print(f"perfbench: no kgpipe/ package beside {HERE}; run from a kgpipe checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run and its JVM and workers write stays in the checkout;
    # KGPIPE_* knobs would change what is measured, so none are inherited
    for k in [k for k in os.environ if k.startswith("KGPIPE_")]:
        del os.environ[k]
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no /tmp/hsperfdata_*
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })

    from procstat import IdleGuard

    guard = IdleGuard()
    guard.start()
    bench = Bench(args.workload, args.seed, work, bool(args.trace), args.scale)
    try:
        setup = bench.setup()
        if args.trace:
            runs, layer = bench.traced()
        else:
            runs = bench.measure(args.seconds)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    idle = guard.stop()

    failed = sum(1 for r in runs if r["problems"])
    if args.trace:
        import tracing

        layer["session.start_s"] = setup["session_s"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": tracing.metric_unit(n)}
                   for n in tracing.metric_names()}
    else:
        metrics = {n: {"value": v, "unit": E2E_UNITS[n]}
                   for n, v in e2e_metrics(runs, setup).items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "fail_ratio": failed / len(runs),
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "runs": [{k: (round(v, 4) if isinstance(v, float) else v)
                  for k, v in r.items() if k != "sink"} for r in runs],
        "input": {"turns": bench.inputs.run.turns, **bench.inputs.run.info},
        "idle": idle,
    }
    print("perfbench detail " + json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
