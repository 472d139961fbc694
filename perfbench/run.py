#!/usr/bin/env python3
"""Benchmark one workload of the engine end to end, or layer by layer.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 16 --trace 0

One closed-loop client runs the workload's registered queries
(``workloads.WORKLOADS``) back to back, one query in flight, in one
``local[<cores>]`` session.  A query is timed from the
``QUERIES[name](spark, data_dir)`` call to the end of its noop-sink
write.  Steps of a run:

1. Generate the input tables (``datagen``, always from
   ``workloads.DATA_SEED``); ``--seed`` shuffles the query order of every
   warm pass.
2. Launch: start the JVM and the session and import ``plans.queries``.
3. The cold pass: the first pass over the queries, in their listed
   order, which pays the JVM's warm-up, Catalyst analysis and code
   generation as a one-shot pipeline does.  After each timed query,
   outside the timing, its result is compared with its
   ``plans.queries.ORACLE`` SQL in DuckDB (``gate``).
4. Warm passes: a fixed number per workload that grows with
   ``--seconds`` (``workloads.WARM_PASSES_PER_16S``), at least one.
5. Set up five times: stop the session, start a new one in the same
   JVM, reload ``plans.queries`` and run a warm-up query on a tiny
   input.  ``setup_s`` is their median.  They come after the passes
   because a session restarted in the same JVM runs the passes
   measurably slower, and they stay in the JVM because five JVM
   launches do not fit in a run; the launch is reported as
   ``session.launch_s``.

Between timed steps (after every query and every set-up) the run times
a probe: a fixed parallel sort inside the driver JVM that runs no Spark
or engine code (``Session.probe_s``).  A shared host's speed drifts by
tens of percent over minutes, so the pass and query times are reported
in seconds of a reference host: the measured time times ``REF_PROBE_S``
over the run's median probe time.  The run record keeps
the measured times (``raw``), every probe sample and their median.

With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` the run also writes Spark's
event log and keeps spans around the engine's public functions
(``spans``), and the last line holds the per-layer metrics instead.  The
line before it is the full run record, also written to
``.perfbench/records/``.  The exit code is 0 only when every query ran
and matched its oracle.  Everything a run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 5
#: size of the probe's array; probe samples taken at launch and dropped,
#: so the JVM has compiled the sort before samples count (one sample varies
#: by about 15%; a run keeps one after every query and set-up)
PROBE_LONGS = 2_000_000
PROBE_WARMUP = 3
#: median probe time on a quiet 4-core x86 box: the reference host that
#: calibrated times are expressed in
REF_PROBE_S = 0.075

from workloads import (  # noqa: E402
    DATA_SEED, MIN_WARM_PASSES, SF, WARMUP_QUERY, WARMUP_SF, WARM_PASSES_PER_16S,
    WORKLOADS,
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
}
#: printed in the run record but not on the last line: how far the JVM
#: grows its heap differs from run to run by more than any bound a change
#: could be held to
UNGATED = ("peak_rss_mb",)
OPERATOR_MODULES = ("graph", "dedup", "similarity", "aggview", "distinctview", "sessions")
#: ``eventlog.PhaseStats`` fields reported per phase as ``spark.<phase>.<field>``
SPARK_TOTALS = (
    "task_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "jobs", "tasks",
)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """The Spark session of a run, and the JVM behind it."""

    def __init__(self, run_dir: str, trace: bool, n_cores: int) -> None:
        self.conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        }
        if trace:
            log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                # one file per application (Spark 4 rolls logs by default)
                "spark.eventLog.rolling.enabled": "false",
            })
        self.master = f"local[{n_cores}]"
        self.spark = None
        self.jvm_proc = None
        self._probe = None

    def start(self):
        from pyspark import SparkContext

        from bigdatamining_graduate_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self.jvm_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits at end of its standard input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def probe_s(self) -> float:
        """One sample of the host's speed: copy a fixed array of two million
        random longs and sort it with the JDK's parallel sort in the driver
        JVM (no Spark or engine code), on all cores as Spark's tasks run."""
        jvm = self.spark.sparkContext._jvm
        if self._probe is None:
            src = jvm.java.util.Random(0).longs(PROBE_LONGS).toArray()
            self._probe = (src, jvm.java.util.Arrays.copyOf(src, PROBE_LONGS))
        src, buf = self._probe
        t0 = time.perf_counter()
        jvm.java.lang.System.arraycopy(src, 0, buf, 0, PROBE_LONGS)
        jvm.java.util.Arrays.parallelSort(buf)
        return time.perf_counter() - t0

    def tag(self, pass_id: str, query: str, phase: str) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("perfbench.pass", pass_id)
        sc.setLocalProperty("perfbench.query", query)
        sc.setLocalProperty("perfbench.phase", phase)


def vm_hwm_mb(pid) -> float:
    """Peak resident set (``VmHWM``) of a process in MB, 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Runner:
    def __init__(self, args: argparse.Namespace, run_dir: str) -> None:
        from metrics import Outcomes

        self.args = args
        self.run_dir = run_dir
        self.cores = cores()
        self.queries = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.session = Session(run_dir, bool(args.trace), self.cores)
        self.outcomes = Outcomes()
        self.tracer = None
        self.Q = None
        self.launched: dict = {}
        #: the set-ups that ``setup_s`` is the median of
        self.setups: list[dict] = []
        #: samples of ``Session.probe_s``, taken between timed steps
        self.probes: list[float] = []
        #: per pass: id, order, wall_s, untimed_s (oracle checks and probes
        #: inside the pass) and per query build_s,
        #: action_s, latency_s and build_iv (epoch start and end of the build)
        self.passes: list[dict] = []

    # -- set-up ------------------------------------------------------------
    def launch(self) -> None:
        """Start the JVM and the first session and import ``plans.queries``;
        with tracing, wrap the engine's public functions."""
        t0 = time.perf_counter()
        self.session.start()
        t1 = time.perf_counter()
        self.Q = importlib.import_module("bigdatamining_graduate_spark.plans.queries")
        self.launched = {"start_s": t1 - t0, "import_s": time.perf_counter() - t1}
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.tracer.install()

    def setup(self, tiny_dir: str) -> None:
        """Restart the session in the running JVM, reload ``plans.queries``
        and run the warm-up query."""
        if self.tracer is not None:
            self.tracer.context = ("setup", WARMUP_QUERY)
        t0 = time.perf_counter()
        self.session.stop()
        spark = self.session.start()
        t1 = time.perf_counter()
        self.Q = importlib.reload(self.Q)
        t2 = time.perf_counter()
        self._context("setup", WARMUP_QUERY, "build")
        df = self.Q.QUERIES[WARMUP_QUERY](spark, tiny_dir)
        self._context("setup", WARMUP_QUERY, "action")
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        self.setups.append(
            {"start_s": t1 - t0, "import_s": t2 - t1, "warmup_s": t3 - t2, "total_s": t3 - t0}
        )
        self.probe()

    def probe(self, keep: bool = True) -> None:
        sample = self.session.probe_s()
        if keep:
            self.probes.append(sample)

    def _context(self, pass_id: str, query: str, phase: str) -> None:
        self.session.tag(pass_id, query, phase)
        if self.tracer is not None:
            self.tracer.context = (pass_id, query)

    # -- passes ------------------------------------------------------------
    def run_pass(self, pass_id: str, data_dir: str, check: bool) -> dict:
        from bigdatamining_graduate_spark.checkpoints import release_checkpoints

        import gate

        order = list(self.queries)
        if pass_id != "0":
            # the cold pass keeps the listed order, so the JVM warms up on
            # the same history in every run
            self.rng.shuffle(order)
        record = {"id": pass_id, "order": order, "queries": {}, "untimed_s": 0.0}
        start = time.perf_counter()
        for name in order:
            timing = self.outcomes.run(f"{name} pass {pass_id}", self._timed, pass_id, name, data_dir)
            if timing is not None:
                df = timing.pop("df")
                record["queries"][name] = timing
                if check:
                    c0 = time.perf_counter()
                    self._context(pass_id, name, "check")
                    self.outcomes.run(
                        f"{name} oracle", gate.check, df, self.Q.ORACLE[name], data_dir,
                        self.cores, attempt=False,
                    )
                    record["untimed_s"] += time.perf_counter() - c0
            self._context(pass_id, name, "release")
            release_checkpoints()
            c0 = time.perf_counter()
            self.probe()
            record["untimed_s"] += time.perf_counter() - c0
        record["wall_s"] = time.perf_counter() - start - record["untimed_s"]
        self.passes.append(record)
        return record

    def _timed(self, pass_id: str, name: str, data_dir: str) -> dict:
        spark = self.session.spark
        self._context(pass_id, name, "build")
        w0, t0 = time.time(), time.perf_counter()
        df = self.Q.QUERIES[name](spark, data_dir)
        t1 = time.perf_counter()
        self._context(pass_id, name, "action")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return {
            "build_s": t1 - t0,
            "action_s": t2 - t1,
            "latency_s": t2 - t0,
            "build_iv": (w0, w0 + (t1 - t0)),
            "df": df,
        }


def end_to_end(runner: Runner, peak_rss_mb: float) -> tuple[dict, dict]:
    from metrics import calibrate, med, tail

    warm = runner.passes[1:]
    per_pass = [[q["latency_s"] for q in p["queries"].values()] for p in warm]
    per_query: dict[str, list[float]] = {}
    for p in warm:
        for name, q in p["queries"].items():
            per_query.setdefault(name, []).append(q["latency_s"])
    lat = [x for p in per_pass for x in p]
    raw = {
        "setup_s": med([s["total_s"] for s in runner.setups]),
        "cold_pass_s": runner.passes[0]["wall_s"],
        "pass_s": med([p["wall_s"] for p in warm]),
        "query_p50_s": med([med(v) for v in per_query.values()]),
        "query_tail_s": tail(per_pass) if lat else 0.0,
    }
    # set-up is stopping and starting sessions and one tiny query, bound by
    # waits rather than by the host's speed: its quartile spread stayed
    # under 0.09 while the passes drifted by 60%, so it is reported as measured
    values = {"setup_s": raw["setup_s"]}
    values.update(calibrate(
        {k: v for k, v in raw.items() if k != "setup_s"}, runner.probes, REF_PROBE_S
    ))
    values["peak_rss_mb"] = peak_rss_mb
    info = {
        "raw": raw,
        "probe_s": med(runner.probes),
        "error_rate": runner.outcomes.error_rate,
        "samples": {
            "setup_s": len(runner.setups),
            "cold_pass_s": 1,
            "pass_s": len(warm),
            "query_p50_s": len(lat),  # per query: its median over the passes
            "query_tail_s": len(warm),
            "peak_rss_mb": 1,
            "probe_s": len(runner.probes),
        },
    }
    return values, info


def per_layer(runner: Runner, traced_pass_s: float) -> dict:
    """Per-layer metrics of a traced run: medians over the warm passes
    (set-up metrics: medians over the set-ups)."""
    from eventlog import read_events, rollup
    from metrics import covered, med
    from spans import self_times

    r = rollup(read_events(os.path.join(runner.run_dir, "eventlog")))
    spans = runner.tracer.spans
    selfs = self_times(spans)
    warm = runner.passes[1:]
    out: dict[str, float] = {
        "session.launch_s": runner.launched["start_s"],
        "session.start_s": med([s["start_s"] for s in runner.setups]),
        "session.warmup_s": med([s["warmup_s"] for s in runner.setups]),
        "plans.import_s": med([s["import_s"] for s in runner.setups]),
    }
    per_pass: list[dict[str, float]] = []
    batch_ms: list[int] = []
    for p in warm:
        pid = p["id"]
        m: dict[str, float] = {}
        qs = p["queries"]
        build = r.pass_phase(pid, "build")
        action = r.pass_phase(pid, "action")
        m["plans.build_s"] = sum(q["build_s"] for q in qs.values())
        m["plans.build_driver_s"] = sum(
            q["build_s"] - covered([
                (max(a, q["build_iv"][0]), min(b, q["build_iv"][1]))
                for a, b in r.stats((pid, name, "build")).job_intervals
            ])
            for name, q in qs.items()
        )
        m["plans.build_jobs"] = build.jobs
        m["plans.build_tasks"] = build.tasks
        m["action.wall_s"] = sum(q["action_s"] for q in qs.values())
        m["action.jobs"] = action.jobs
        m["action.tasks"] = action.tasks
        walls = {"build": m["plans.build_s"], "action": m["action.wall_s"]}
        for phase, st in (("build", build), ("action", action)):
            pre = f"spark.{phase}."
            for f in SPARK_TOTALS:
                m[pre + f] = getattr(st, f)
            m[pre + "tasks_per_job"] = st.tasks / st.jobs if st.jobs else 0.0
            m[pre + "utilization"] = (
                st.task_s / (walls[phase] * runner.cores) if walls[phase] else 0.0
            )
            m[pre + "failed_task_ratio"] = st.failed_tasks / st.tasks if st.tasks else 0.0
        m["sources.input_bytes"] = build.input_bytes + action.input_bytes
        m["sources.output_bytes"] = build.output_bytes + action.output_bytes
        m["sources.files_written"] = build.files_written + action.files_written
        mine = [(s, selfs[i]) for i, s in enumerate(spans) if s.context and s.context[0] == pid]
        loads = [s for s, _ in mine if s.layer == "sources.catalog" and s.name == "load_table"]
        m["sources.load_calls"] = len(loads)
        m["sources.load_s"] = sum(s.end - s.start for s in loads)
        m["sources.publish_s"] = sum(v for s, v in mine if s.layer == "sources.publish")
        cps = [s for s, _ in mine if s.layer == "checkpoints" and s.name == "local_checkpoint"]
        m["checkpoints.calls"] = len(cps)
        m["checkpoints.s"] = sum(s.end - s.start for s in cps)
        m["checkpoints.release_s"] = sum(
            s.end - s.start for s, _ in mine
            if s.layer == "checkpoints" and s.name.startswith("release")
        )
        for mod in OPERATOR_MODULES:
            hits = [v for s, v in mine if s.layer == f"operators.{mod}"]
            m[f"operators.{mod}.self_s"] = sum(hits)
            m[f"operators.{mod}.calls"] = len(hits)
        m["streaming.jobs.self_s"] = sum(v for s, v in mine if s.layer == "streaming.jobs")
        batches = [b for (bp, _q), bs in r.batches.items() if bp == pid for b in bs]
        m["streaming.batches"] = len(batches)
        m["streaming.input_rows"] = sum(rows for _d, rows in batches)
        batch_ms.extend(d for d, _rows in batches)
        per_pass.append(m)
    for key in per_pass[0] if per_pass else []:
        out[key] = med([m[key] for m in per_pass])
    out["streaming.batch_p50_ms"] = med(batch_ms)
    out["spark.untagged_jobs"] = r.untagged_jobs
    out["trace.pass_s"] = traced_pass_s
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # every temporary file of Python, Spark and the engine's staging
    # stores lands under the run directory
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args: argparse.Namespace, run_dir: str) -> int:
    import tempfile

    import pyspark

    import bigdatamining_graduate_spark.session  # noqa: F401  fail before any work
    import datagen

    tempfile.tempdir = None  # re-read TMPDIR
    steps: dict[str, float] = {}
    t = time.perf_counter()
    data_dir = datagen.generate(os.path.join(run_dir, "data"), DATA_SEED, SF)
    tiny_dir = datagen.generate(os.path.join(run_dir, "tiny"), DATA_SEED, WARMUP_SF)

    runner = Runner(args, run_dir)
    t = _step(steps, "datagen", t)
    try:
        runner.launch()
        for _ in range(PROBE_WARMUP):
            runner.probe(keep=False)
        t = _step(steps, "launch", t)
        runner.run_pass("0", data_dir, check=True)
        t = _step(steps, "cold_pass", t)
        warm = max(
            MIN_WARM_PASSES, round(WARM_PASSES_PER_16S[args.workload] * args.seconds / 16)
        )
        for n in range(1, warm + 1):
            if runner.outcomes.failed:
                break
            runner.run_pass(str(n), data_dir, check=False)
        t = _step(steps, "warm_passes", t)
        jvm = runner.session.jvm_proc
        peak = vm_hwm_mb(jvm.pid if jvm else None) + vm_hwm_mb("self")
        java = runner.session.spark.sparkContext._jvm.System.getProperty("java.version")
        for _ in range(SETUPS):
            runner.setup(tiny_dir)
        t = _step(steps, "setups", t)
    finally:
        runner.session.shutdown()
    _step(steps, "shutdown", t)

    values, info = end_to_end(runner, peak)
    ok = runner.outcomes.failed == 0
    record = {
        "workload": args.workload,
        "queries": runner.queries,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": git_sha(),
        "nproc": runner.cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": java,
        "sf": SF,
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()},
        **info,
        "launch": runner.launched,
        "setups": runner.setups,
        "passes": [
            {"id": p["id"], "wall_s": p["wall_s"], "order": p["order"],
             "latency_s": {q: t["latency_s"] for q, t in p["queries"].items()}}
            for p in runner.passes
        ],
        "errors": runner.outcomes.errors,
        "steps_s": steps,
        # in the order taken: after each query of each pass, then each set-up
        "probes": runner.probes,
    }
    if args.trace:
        layers = per_layer(runner, values["pass_s"])
        record["per_layer"] = layers
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: v for k, v in record["metrics"].items() if k not in UNGATED}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({
        "correct": ok,
        "attempted": runner.outcomes.attempted,
        "failed": runner.outcomes.failed,
        "metrics": metrics,
    }))
    return 0 if ok else 1


def _step(steps: dict, name: str, t0: float) -> float:
    """Record the wall time of a step of the run since ``t0``; return now."""
    now = time.perf_counter()
    steps[name] = now - t0
    return now


def layer_unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("utilization", "ratio", "per_job")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
