"""Benchmark of the engine's public entry points, end to end and per layer.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 40 --trace 0

Workloads (see perfbench/METRICS.md for what each metric means):

* ``batch``: 6 Streamiz-DSL and 6 llmops/analytics/codec driver queries;
* ``keyed_stream``: the tt-join, suppress and as-of streaming operators,
  a bulk load then single-key update microbatches each.

The batch workload reads the seed-42 sf0.01 tables under perfbench/data;
``--seed`` drives the keyed_stream generator.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` installs span wrappers around the
engine's public functions, reads Spark's job, stage, SQL and streaming
progress records, and prints the per-layer metrics instead.

One process, ``local[cores]`` with shuffle partitions = cores (cores =
$SPARK_GRAFT_CPUS, else the CPUs this process may run on).  Every
checkpoint, state directory, Spark local directory and temporary file lives
in a run directory under ``.perfbench/`` that is removed at exit.  The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records the seed, cores and versions.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import datetime as dt  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

WORKLOADS = ("batch", "keyed_stream")

# a run that has not finished by then is stopped and exits non-zero
WATCHDOG_S = 160

# keyed_stream size: state keys and update microbatches per operator, and
# state keys of the set-up warm-up load
KEYED_KEYS = 2_000
KEYED_UPDATES = 3
KEYED_WARM_KEYS = 200

END_TO_END = {
    "setup_s": "s",
    "first_result_s": "s",
    "rerun_s": "s",
    "step_p50_s": "s",
    "retained_heap_mb": "MB",
}

_OPS = ("ttjoin", "suppress", "asof")
PER_LAYER = {
    "runtime.session_s": "s",
    "runtime.read_table_s": "s",
    "dsl.build_s": "s",
    "llmops.build_s": "s",
    "analytics.build_s": "s",
    "serdes.build_s": "s",
    "streaming.self_s": "s",
    "llmops.cached_mb_end": "MB",
    "spark.build_jobs": "count",
    "spark.build_s": "s",
    "spark.cold_jobs": "count",
    "spark.steady_jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.py_worker_s": "s",
    "spark.py_boot_s": "s",
    "spark.py_sent_mb": "MB",
    "streaming.update_batches": "count",
    "streaming.update_batch_tail_s": "s",
    "streaming.load_rows_per_s": "rows/s",
    **{
        f"streaming.{op}.{m}": u
        for op in _OPS
        for m, u in (
            ("batches", "count"),
            ("add_batch_ms", "ms"),
            ("planning_ms", "ms"),
            ("wal_commit_ms", "ms"),
            ("commit_offsets_ms", "ms"),
            ("latest_offset_ms", "ms"),
            ("drain_start_s", "s"),
        )
    },
    **{
        f"tws.{op}.{m}": u
        for op in _OPS
        for m, u in (
            ("state_commit_ms", "ms"),
            ("state_update_ms", "ms"),
            ("state_rows_total", "count"),
            ("state_rows_updated", "count"),
            ("state_memory_mb", "MB"),
            ("state_bytes_per_batch", "B"),
            ("load_state_rows_total", "count"),
            ("load_state_memory_mb", "MB"),
            ("load_state_bytes_per_batch", "B"),
            ("load_rows_per_s", "rows/s"),
        )
    },
    "queries.dsl_first_result_s": "s",
    "queries.dsl_rerun_s": "s",
    "queries.curation_first_result_s": "s",
    "queries.curation_rerun_s": "s",
    "trace.spans": "count",
    "trace.setup_s": "s",
    "trace.first_result_s": "s",
    "trace.rerun_s": "s",
    "trace.step_p50_s": "s",
}

# engine module -> layer its public functions are traced under
LAYERS = {
    "pyspark_engine.runtime": "runtime",
    "pyspark_engine.dsl": "dsl",
    "pyspark_engine.windows": "dsl",
    "pyspark_engine.llmops": "llmops",
    "pyspark_engine.analytics": "analytics",
    "pyspark_engine.serdes": "serdes",
    "pyspark_engine.jpeg": "serdes",
    "pyspark_engine.streaming": "streaming",
    "pyspark_engine.tws": "streaming",
}

# SQL-metric names of Python evaluation nodes -> per-layer metric
_PY_METRICS = {
    "time to run Python workers": "spark.py_worker_s",
    "time to start Python workers": "spark.py_boot_s",
    "data sent to Python workers": "spark.py_sent_mb",
}


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def isolate(tmp: str, trace: bool) -> None:
    """Point every file the run writes into ``tmp``: Python and JVM
    temporary files, Spark local dirs, the warehouse, the working
    directory.  Python workers find the engine through PYTHONPATH."""
    for d in ("tmp", "local", "warehouse", "work"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TZ"] = "UTC"  # naive datetimes in the keyed generator are UTC
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.chdir(os.path.join(tmp, "work"))
    sys.path.insert(0, ROOT)


class Run:
    """One benchmark run: the session, the timed steps and their records,
    failures, and (traced) the span recorder."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, tmp: str):
        from perfbench.spans import Tracer  # noqa: PLC0415

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.data_dir = DATA_DIR
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}") if trace else None
        self.spark = None
        self.setup: dict[str, float] = {}
        self.setup_s = 0.0
        self.deadline = 0.0
        self.steps: list[dict] = []
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.keyed: list[dict] = []
        self.query_times: dict[str, tuple[float, float]] = {}

    @contextmanager
    def _span(self, name: str, kind: str):
        if self.tracer is None:
            yield None
            return
        outer = self.tracer.item
        with self.tracer.span(name, "bench", kind) as sid:
            self.tracer.item = sid
            try:
                yield sid
            finally:
                self.tracer.item = outer

    @contextmanager
    def setup_phase(self, name: str):
        t0 = time.perf_counter()
        with self._span(f"setup/{name}", "setup"):
            yield
        self.setup[name] = time.perf_counter() - t0

    def start_session(self) -> None:
        from perfbench.sparkstats import ProgressLog  # noqa: PLC0415

        with self.setup_phase("imports"):
            import __spark_entry__  # noqa: F401, PLC0415
            from pyspark_engine import runtime  # noqa: PLC0415
        if self.tracer is not None:
            self.tracer.install(LAYERS, rebind=self._engine_modules())
        with self.setup_phase("session"):
            n = cores()
            self.spark = runtime.build_session("perfbench", cpus=n, shuffle_partitions=n, ui=self.tracer is not None)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.progress = ProgressLog()
            self.spark.streams.addListener(self.progress)

    @staticmethod
    def _engine_modules() -> list:
        return [m for name, m in sys.modules.items() if name == "__spark_entry__" or name.startswith("pyspark_engine.")]

    def setup_done(self) -> None:
        self.setup_s = time.time() - PROCESS_START
        self.deadline = time.perf_counter() + self.seconds

    def over_budget(self) -> float:
        """Seconds the measured phase ran past ``--seconds`` (0 if none)."""
        return max(time.perf_counter() - self.deadline, 0.0)

    @contextmanager
    def step(self, item: str, phase: str):
        """A timed step; its Spark jobs carry a job group of their own."""
        sc = self.spark.sparkContext
        rec = {"item": item, "phase": phase, "group": f"perfbench:{len(self.steps)}:{item}:{phase}"}
        mark = self.progress.mark()
        sc.setJobGroup(rec["group"], f"{item} {phase}")
        with self._span(f"{item}/{phase}", "step") as sid:
            rec["span"] = sid
            rec["start"] = time.time()
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["seconds"] = time.perf_counter() - t0
                rec["end"] = time.time()
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec["batches"] = self.progress.since(mark)
        self.steps.append(rec)

    def fail(self, item: str, reason) -> None:
        if isinstance(reason, BaseException):
            reason = "".join(traceback.format_exception_only(type(reason), reason)).strip()
        self.failures.append((item, str(reason)))
        print(f"perfbench: FAILED {item}: {reason}", file=sys.stderr)

    def close(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.tracer is not None:
            self.tracer.uninstall()
        from pyspark import SparkContext  # noqa: PLC0415

        gateway = SparkContext._gateway
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as exc:  # a broken gateway must not keep the JVM alive
                print(f"perfbench: stopping the session failed: {exc!r}", file=sys.stderr)
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_workload(run: Run) -> dict:
    run.start_session()
    if run.workload == "keyed_stream":
        from perfbench import keyed  # noqa: PLC0415

        values = keyed.run(run, KEYED_KEYS, KEYED_UPDATES, KEYED_WARM_KEYS)
    else:
        from perfbench import batch  # noqa: PLC0415

        values = batch.run(run)
    if run.over_budget():
        print(f"perfbench: measured phase ran {run.over_budget():.1f} s past --seconds", file=sys.stderr)
    from perfbench.sparkstats import retained_heap_mb  # noqa: PLC0415

    gc.collect()  # drop dead py4j proxies so the JVM can free what they pin
    return {"setup_s": run.setup_s, **values, "retained_heap_mb": retained_heap_mb(run.spark)}


def _epoch(ts: str) -> float:
    """Spark REST (``...GMT``) or progress (``...Z``) timestamp -> epoch s."""
    ts = ts.replace("GMT", "+0000").replace("Z", "+0000")
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _innermost(spans: list, by_id: dict, root: int, start: float, end: float) -> int:
    """The latest-starting call span in ``root``'s subtree whose interval
    holds [start, end] (``root`` itself if none does)."""
    best, best_start = root, -1.0
    for s in spans:
        if s.kind == "call" and s.start <= start and end <= s.end and s.start > best_start:
            p = s
            while p is not None and p.id != root:
                p = by_id.get(p.parent)
            if p is not None:
                best, best_start = s.id, s.start
    return best


def layer_metrics(run: Run, e2e: dict) -> dict:
    """The per-layer metrics of a traced run (0 where a layer does not take
    part in the workload)."""
    from perfbench import batch, keyed  # noqa: PLC0415
    from perfbench.sparkstats import Rest, group_jobs, parse_metric  # noqa: PLC0415

    tracer, rest = run.tracer, Rest(run.spark)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["runtime.session_s"] = run.setup.get("session", 0.0)
    out["llmops.cached_mb_end"] = rest.storage_mb()

    # Spark jobs of each step: its own job group, plus (streaming threads
    # do not inherit the group) ungrouped jobs submitted during it
    jobs = {j["jobId"]: j for j in rest.jobs()}
    ungrouped = [j for j in jobs.values() if not str(j.get("jobGroup") or "").startswith("perfbench:")]
    kinds = {"build": "build", "cold": "cold", "load": "cold", "steady": "steady", "update": "steady"}
    by_kind: dict[str, set[int]] = {"build": set(), "cold": set(), "steady": set()}
    for rec in run.steps:
        ids = set(group_jobs(run.spark, rec["group"]))
        if rec["phase"] in ("load", "update"):
            ids |= {j["jobId"] for j in ungrouped if rec["start"] <= _epoch(j["submissionTime"]) <= rec["end"]}
        rec["jobs"] = ids
        if rec["phase"] in kinds:
            by_kind[kinds[rec["phase"]]] |= ids
    out["spark.build_jobs"] = len(by_kind["build"])
    out["spark.cold_jobs"] = len(by_kind["cold"])
    out["spark.steady_jobs"] = len(by_kind["steady"])

    stages = rest.stages()
    steady_stages = [
        stages[sid]
        for jid in by_kind["steady"]
        for sid in jobs.get(jid, {}).get("stageIds", ())
        if sid in stages and stages[sid]["status"] == "COMPLETE"
    ]
    out["spark.stages"] = len(steady_stages)
    out["spark.shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in steady_stages) / 2**20
    out["spark.spill_mb"] = sum(s["diskBytesSpilled"] for s in steady_stages) / 2**20
    out["spark.executor_run_s"] = sum(s["executorRunTime"] for s in steady_stages) / 1e3
    out["spark.executor_cpu_s"] = sum(s["executorCpuTime"] for s in steady_stages) / 1e9
    out["spark.gc_s"] = sum(s["jvmGcTime"] for s in steady_stages) / 1e3
    skews = []
    for s in steady_stages:
        q = rest.task_quantiles(s)
        if q is not None and q[0] > 0:
            skews.append(q[1] / q[0])
    out["spark.task_skew"] = max(skews, default=0.0)
    for ex in rest.sql():
        ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ex_jobs & by_kind["steady"]:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                name = _PY_METRICS.get(m["name"])
                if name is not None:
                    v = parse_metric(m["value"])
                    out[name] += v / 2**20 if name.endswith("_mb") else v

    # job and microbatch spans, under the innermost call that was running
    spans = list(tracer.spans)
    by_id = {s.id: s for s in spans}
    for rec in run.steps:
        if rec.get("span") is None:
            continue
        for jid in sorted(rec["jobs"]):
            j = jobs.get(jid)
            if j is None or "completionTime" not in j:
                continue
            a, b = _epoch(j["submissionTime"]), _epoch(j["completionTime"])
            tracer.add(f"job {jid}", "spark", "job", a, b, _innermost(spans, by_id, rec["span"], a, b), phase=rec["phase"])
        for mb in rec["batches"]:
            a = _epoch(mb["timestamp"])
            b = a + mb["duration_ms"].get("triggerExecution", 0) / 1e3
            tracer.add(f"batch {mb['batch']}", "streaming", "batch", a, b, _innermost(spans, by_id, rec["span"], a, b), rows=mb["rows"])

    selfs = tracer.self_times()
    by_id = {s.id: s for s in tracer.spans}
    step_phase = {rec["span"]: rec["phase"] for rec in run.steps if rec.get("span") is not None}
    for s in tracer.spans:
        if s.kind != "call":
            continue
        p, phase = by_id.get(s.parent), None
        while p is not None and phase is None:
            phase = step_phase.get(p.id)
            p = by_id.get(p.parent)
        if phase is None:
            continue
        if phase == "build":
            if s.layer in ("dsl", "llmops", "analytics", "serdes"):
                out[f"{s.layer}.build_s"] += selfs[s.id]
            if s.name == "read_table":
                out["runtime.read_table_s"] += s.duration
        if s.layer == "streaming":
            out["streaming.self_s"] += selfs[s.id]
    for s in tracer.spans:
        if s.kind == "job" and s.tags.get("phase") == "build":
            out["spark.build_s"] += s.duration

    if run.keyed:
        out |= keyed.layer_metrics(run.keyed)
    if run.query_times:
        out |= batch.layer_metrics(run.query_times)
    out["trace.spans"] = len(tracer.spans)
    for k in ("setup_s", "first_result_s", "rerun_s", "step_p50_s"):
        out[f"trace.{k}"] = e2e[k]
    return out


def write_spans(run: Run) -> str:
    out_dir = os.path.join(ROOT, ".perfbench", "spans")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{run.tracer.run_id}.json")
    with open(path, "w") as f:
        json.dump(run.tracer.dump(), f)
    return path


def environment(run: Run) -> dict:
    jvm = run.spark.sparkContext._jvm
    n = cores()
    return {
        "workload": run.workload,
        "seed": run.seed,
        "master": f"local[{n}]",
        "shuffle_partitions": n,
        "driver_memory": run.spark.conf.get("spark.driver.memory"),
        "spark": run.spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "setup_phases_s": {k: round(v, 3) for k, v in run.setup.items()},
        "failures": run.failures,
    }


class Overrun(BaseException):
    """Raised by the watchdog.  Not an Exception, so no per-item failure
    handler can swallow it."""


def _watchdog(_signum, _frame):
    raise Overrun(f"run exceeded {WATCHDOG_S} s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(os.path.join(ROOT, "pyspark_engine"))):
        print(f"perfbench: no engine to measure: {ROOT} lacks __spark_entry__.py and pyspark_engine/", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(WATCHDOG_S)
    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    cwd = os.getcwd()
    isolate(tmp, bool(args.trace))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    try:
        e2e = run_workload(run)
        if run.tracer is not None:
            metrics = layer_metrics(run, e2e)
            units = PER_LAYER
            print(f"perfbench: spans written to {write_spans(run)}", file=sys.stderr)
        else:
            metrics, units = e2e, END_TO_END
        env = environment(run)
    finally:
        signal.alarm(0)
        try:
            run.close()
        finally:
            os.chdir(cwd)
            shutil.rmtree(tmp, ignore_errors=True)
    failed = len(run.failures)
    print(json.dumps({"environment": env}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
