"""The repository's benchmark: one command per named workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--smoke] [--compare EARLIER_STDOUT]

Run it from the repository root. It generates the workload's inputs from
the seed under ``.bench_work-<workload>-*/`` (deleted on exit), starts a
``local[nproc]`` session through ``session.get_spark`` with a driver heap
fitted to this host, and drives the engine only through its public entry
points, in a closed loop with one client. Workloads (``workloads.py``):
``bikes_refresh`` and ``iterative_analytics``.

The run sets up once: it starts the session, generates the inputs and
runs the workload's warm-up (the day-1 load, or a scan of every input
table). Then
it repeats timed passes until ``--seconds`` of pass time have elapsed
(at least one pass), and checks the last pass's outputs. With
``--trace 0`` the last stdout line is a JSON object whose metrics are
the end-to-end ones:

* ``setup_s``     process start to the first timed pass: the JVM launch
                  and session start, input generation and the warm-up;
* ``pass_cpu_s``  median CPU seconds (user + system) of one pass, spent
                  by this process and the driver JVM with its Python
                  workers.

The pass is timed in CPU seconds rather than wall seconds because the
4-core virtual machines this was built on share their host: while a run
waits, other machines take 10-20% of its CPU time (``steal`` in
``/proc/stat``), and the wall time of the same pass varies between runs
by 20-35% (quartile distance over median), its CPU time by under 8%.

The lines before it repeat these, print the pass's median wall time
(``pass_s``), the workload's own figures (``initial_load_s``, ``daily_refresh_s``, ``refresh_rows_per_s``;
``query_p50_s`` and ``query_tail_s`` over the queries of the passes;
``stream_rows_per_s``, ``batch_p50_ms`` and ``batch_tail_ms`` over the
stream drains, with their sample counts; ``failed_frac``) and the peak
resident memory of the driver JVM (``peak_rss_mb``), the host
fingerprint, and every failed check. Traced runs report those figures
as per-layer metrics, not end-to-end ones: most apply to one workload
only, ``failed_frac`` is 0 whenever the checks pass, and the wall times
and the JVM's peak memory vary between runs by more than the bounds a
comparison could use.

With ``--trace 1`` the session writes the Spark event log, and the run
times one pass, with a Spark job group per span (the day-1 load of
``bikes_refresh`` is traced too). Its metrics are the per-layer ones:
``pass_s`` and the figures above, the layer metrics from the spans, the
stream progress and the log, ``session.start_s``, and
``trace.overhead_s``, the time spent in tracing code. The event log is
written on Spark's listener thread, outside that time; the whole
overhead is this ``pass_s`` minus that of an untraced run. It also
prints each query's build and action job counts.

A failed check makes ``correct`` false and the exit code 1.
``--smoke`` runs the smallest inputs (sf 0.001, one bikes replica).
``--compare FILE`` reads the saved stdout of an earlier run and prints
``comparable: false`` unless its ``fingerprint:`` line matches this
run's; results from hosts with other fingerprints are not comparable.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402

# On a 4-core host a run costs about a minute (JVM launch, the warm-up,
# one pass, the checks), and 4 + 22 runs per workload must fit in under
# an hour. That keeps the set to two workloads, one through the warehouse
# pipeline and one through the query registry and the streams, and the
# query inputs at sf 0.01 rather than sf 0.1.
WORKLOADS = ("bikes_refresh", "iterative_analytics")
SCALES = {"full": {"sf": 0.01, "replicas": 20},
          "smoke": {"sf": 0.001, "replicas": 1}}
APP = "perfbench"
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress to stderr, with seconds since process start."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--compare")
    return ap.parse_args(argv)


def _tail(samples: list[float]) -> float:
    """Highest order statistic with at least ten samples above it
    (the maximum when there are fewer than eleven samples)."""
    s = sorted(samples)
    return s[-11] if len(s) >= 11 else s[-1]


class Run:
    """One process: the session, the workload and what it measured."""

    def __init__(self, args, work: str):
        from perfbench import workloads

        self.args, self.work = args, work
        scale = SCALES["smoke" if args.smoke else "full"]
        if args.workload == "bikes_refresh":
            self.wl = workloads.BikesRefresh(args.seed, scale["replicas"])
        else:
            self.wl = workloads.IterativeAnalytics(args.seed, scale["sf"])
        self.spark = None
        self.jvm = 0
        self.pass_cpu: list[float] = []
        self.checks: list = []
        self.ops = 0
        self.n_pass = 0

    def setup(self, tracer, extra_conf=None) -> float:
        """Session, inputs and warm-up; returns the session start time.
        With ``extra_conf`` (the event log), ``tracer`` tags Spark jobs."""
        from bikes_data_warehouse_etl_spark.session import get_spark

        self.wl.make_inputs(os.path.join(self.work, "in"))
        t0 = time.perf_counter()
        self.spark = get_spark(APP, extra_conf=extra_conf)
        session_start = time.perf_counter() - t0
        self.jvm = host.driver_jvm_pid(self.spark)
        if extra_conf:
            tracer.spark = self.spark
        log("warm-up")
        self.wl.warm_up(self.spark, tracer)
        return session_start

    def one_pass(self, tracer) -> tuple[float, list[tuple[str, float]]]:
        if self.n_pass:
            shutil.rmtree(self._wh(), ignore_errors=True)
        self.n_pass += 1
        self.wl.prepare(self._wh())
        c0, t0 = host.cpu_s(self.jvm), time.perf_counter()
        ops = self.wl.run_pass(self.spark, self._wh(), tracer)
        wall = time.perf_counter() - t0
        self.pass_cpu.append(host.cpu_s(self.jvm) - c0)
        self.ops += len(ops)
        log(f"pass {self.n_pass}: {wall:.3f}s, {self.pass_cpu[-1]:.3f} CPU s, "
            + " ".join(f"{n}={s:.2f}" for n, s in ops))
        return wall, ops

    def measure(self, tracer, seconds: float) -> tuple[list[float], list]:
        passes, ops = [], []
        while not passes or sum(passes) < seconds:
            wall, o = self.one_pass(tracer)
            passes.append(wall)
            ops += o
        return passes, ops

    def check(self) -> None:
        self.checks += self.wl.check_after(self.spark, self._wh())

    def _wh(self) -> str:
        return os.path.join(self.work, f"wh{self.n_pass}")


def stop_jvm() -> None:
    """End the JVM behind the stopped session and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits at end of input
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def trace_layers(run: Run, tracer, commits, log_dir: str) -> dict:
    """Stop the session that wrote the event log to ``log_dir`` and turn
    the spans, the snapshot commits, the stream progress and the log
    into the per-layer metrics."""
    from perfbench import trace, workloads

    run.spark.stop()  # closes the event log
    run.spark = None
    groups = trace.parse_event_log(log_dir)

    layers = {**workloads.bikes_layers(tracer, commits, run.wl),
              **workloads.stream_layers(run.wl.progress)}
    for fam in (None,) + workloads.FAMILIES:
        qs = {q for q in run.wl.queries if fam in (None, workloads.QUERY_FAMILY[q])}
        pre = "plans." if fam is None else f"plans.{fam}."
        for part in ("build", "action"):
            names = {f"query:{q}:{part}" for q in qs}
            layers[f"{pre}{part}_s"] = sum(s for n, s in tracer.spans if n in names)
            layers[f"{pre}{part}_jobs"] = trace.sum_groups(
                groups, lambda g: g in names)["jobs"]
        b, a = layers[f"{pre}build_s"], layers[f"{pre}action_s"]
        layers[f"{pre}build_share"] = b / (a + b) if a + b else 0.0
    for q in run.wl.queries:
        jobs = {part: trace.sum_groups(groups, lambda g: g == f"query:{q}:{part}")["jobs"]
                for part in ("build", "action")}
        print(f"query jobs: {q} build={jobs['build']:.0f} action={jobs['action']:.0f}")
    ex = trace.sum_groups(groups, bool)  # jobs under a span: not warm-up or check
    for k in trace.EXEC_FIELDS:
        layers[f"exec.{k}"] = ex[k]
    layers["exec.core_busy_frac"] = ex["task_run_s"] / (tracer.top_s * host.nproc())
    layers["trace.overhead_s"] = tracer.own_s
    return {k: (v, _unit(k)) for k, v in layers.items()}


def _unit(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_ms"):
        return "ms"
    if "bytes" in leaf:
        return "bytes"
    if leaf in ("build_share", "core_busy_frac", "rewrite_ratio", "write_amp",
                "overhead_frac"):
        return "1"
    return "count"


def workload_figures(run: Run, ops, failed: int, attempted: int) -> dict:
    by: dict[str, list[float]] = {}
    for name, s in ops:
        by.setdefault(name, []).append(s)
    queries = [s for name, s in ops if name in run.wl.queries]
    daily = statistics.median(by.get("daily_refresh", [0.0]))
    batches = [b for bs in run.wl.progress.values() for b in bs]
    trigger = [b["durationMs"].get("triggerExecution", 0) for b in batches]
    stream_s = sum(s for name, s in ops if name.startswith("stream:"))
    stream_rows = sum(b["numInputRows"] for b in batches)
    initial = run.wl.initial_load_s
    return {
        "initial_load_s": (initial, "s"),
        "daily_refresh_s": (daily, "s"),
        "refresh_rows_per_s": (run.wl.source_rows / (initial + daily)
                               if initial else 0.0, "1/s"),
        "query_p50_s": (statistics.median(queries) if queries else 0.0, "s"),
        "query_tail_s": (_tail(queries) if queries else 0.0, "s"),
        "stream_rows_per_s": (stream_rows / stream_s if stream_s else 0.0, "1/s"),
        "batch_p50_ms": (statistics.median(trigger) if trigger else 0.0, "ms"),
        "batch_tail_ms": (_tail(trigger) if trigger else 0.0, "ms"),
        "failed_frac": (failed / attempted, "1"),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    from perfbench import trace, workloads  # fails fast without the engine

    settings = host.fit_session_env()
    # a fresh directory per run, with no parent shared between runs
    work = tempfile.mkdtemp(prefix=f".bench_work-{args.workload}-", dir=os.getcwd())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = work
    # every JVM the session starts keeps its temp files (native libraries,
    # artifacts) in the work dir and writes no perf-counter file outside it
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    run = Run(args, work)
    log_dir = os.path.join(work, "eventlog")
    tracer, commits = trace.Tracer(), []
    try:
        conf = None
        if args.trace:
            os.makedirs(log_dir)
            conf = {**trace.EVENT_LOG_CONF, "spark.eventLog.dir": f"file://{log_dir}"}
        with workloads.bikes_spans(tracer, commits) if args.trace else contextlib.nullcontext():
            session_start = run.setup(tracer, conf)
            setup = time.perf_counter() - T0
            fp = host.fingerprint(run.spark, settings)
            passes, ops = run.measure(tracer, 0 if args.trace else args.seconds)
        log("check")
        run.check()
        log("checked")
        rss = host.peak_rss_mb(run.jvm)
        if args.trace:
            layers = trace_layers(run, tracer, commits, log_dir)
    finally:
        if run.spark is not None:
            run.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for _, ok, _ in run.checks if not ok)
    attempted = run.ops + len(run.checks)
    e2e = {"setup_s": (setup, "s"), "pass_cpu_s": (statistics.median(run.pass_cpu), "s")}
    wall = {"pass_s": (statistics.median(passes), "s")}
    figures = {**workload_figures(run, ops, failed, attempted),
               "peak_rss_mb": (rss, "MB")}
    n_trigger = sum(len(b) for b in run.wl.progress.values())
    print(f"fingerprint: {json.dumps(fp, sort_keys=True)}")
    print(f"workload: {args.workload} seed={args.seed} passes={len(passes)} "
          f"query samples={sum(1 for n, _ in ops if n in run.wl.queries)} "
          f"stream batch samples={n_trigger} checks={len(run.checks)}")
    for name, ok, detail in run.checks:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}")
            log(f"CHECK FAILED {name}: {detail}")
    for name, (v, unit) in {**e2e, **wall, **figures}.items():
        print(f"{name} = {v:.6g} {unit}")
    if args.compare:
        with open(args.compare) as fh:
            prev = [json.loads(line.split(":", 1)[1]) for line in fh
                    if line.startswith("fingerprint:")]
        print(f"comparable: {'true' if prev == [fp] else 'false'}")
    if args.trace:
        metrics = {**wall, **figures, **layers, "session.start_s": (session_start, "s")}
    else:
        metrics = e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
