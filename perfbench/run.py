"""Benchmark of the fraud engine: the paper's stream path and a batch catalog.

Usage (from the repository root):

    python3 perfbench/run.py --workload stream --seed 1 --seconds 10 --trace 0

Workloads (see ``streams.py`` and ``catalog.py``):

- ``stream``   the paper's stream path: closed-loop drains of a landed
               backlog of Kafka-wire files, then an open-loop live phase
               where one feeder lands files on a fixed schedule
- ``catalog``  35 registered catalog queries over sf0.1-shaped tables

Every workload reports every end-to-end metric of ``BENCHMARK.json``:

- ``setup_s``             session start + input generation + model training
                          (stream) or warm pass (catalog)
- ``rows_per_s``          stream: good rows committed to the counters per
                          second of a backlog drain; catalog: result rows
                          per measured second
- ``latency_p50_ms``/``latency_p95_ms``
                          stream: per event of the live phase, from when
                          its file was due to the commit of the counters
                          batch that counted it; catalog: per query wall
                          time
- ``catalog_total_s``     catalog: summed query wall times of a pass;
                          stream: summed trigger times of the counters
                          query in a backlog drain
- ``catalog_geomean_ms``  geometric mean of per-query wall times (catalog)
                          or of live-phase trigger times (stream)
- ``ok_frac``             share of correctness checks that passed
- ``peak_rss_mb``         sampled peak of driver JVM + this process

``--trace 1`` records spans around each call into an engine layer (written
to ``.perfbench_out/`` at the end) and prints the per-layer metrics
instead; a layer the workload does not use reads 0.  ``trace.*`` repeat
the main end-to-end figures as measured with tracing on, so traced minus
untraced is the tracing overhead.

The last stdout line is the JSON result; diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Fails fast, before any process is started, where the engine is absent.
import real___time_fraud_detection_using_apache_kafka_spark  # noqa: E402,F401

import measure  # noqa: E402

RUN_DEADLINE_S = 170
TRACE_COPIES = {"trace.rows_per_s": "rows_per_s",
                "trace.latency_p50_ms": "latency_p50_ms",
                "trace.catalog_total_s": "catalog_total_s"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """What one workload run measures and checks."""

    def __init__(self, work: str, seed: int, seconds: float,
                 tracer: measure.Tracer, cpus: int, sampler: measure.RssSampler):
        self.spark = None
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tracer, self.cpus, self.sampler = tracer, cpus, sampler
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.trace_extra: dict = {}
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0

    @contextmanager
    def setup(self):
        """Time spent inside is set-up time (``setup_s``)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.setup_s += time.perf_counter() - t
            log(f"set-up so far {self.setup_s:.2f} s")

    @staticmethod
    def log(msg: str) -> None:
        log(msg)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {name}: {detail}")


def _children(pid: int) -> list[int]:
    """All live descendants of *pid*, from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop every query, the context and the driver JVM, and wait until the
    JVM and every process it started have ended."""
    for query in spark.streams.active:
        query.stop()
    proc = spark.sparkContext._gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    while any(_alive(p) for p in workers) and time.time() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    import catalog
    import streams

    workloads = {"stream": streams.stream, "catalog": catalog.catalog}
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_DEADLINE_S)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Everything Spark, the JVM and Python write goes under the work dir (no
    # JVM perf-data file in the system temp dir).  The heap starts at its full
    # size, so peak RSS does not depend on when the JVM chose to grow it, and
    # the benchmark's own System.gc() calls (measure.collect_garbage) run as
    # a concurrent cycle, not a full collection that also shrinks the heap.
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": "4g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms4g "
            "-XX:+ExplicitGCInvokesConcurrent\" "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.sql.streaming.numRecentProgressUpdates=1000 "
            "pyspark-shell"),
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    time.tzset()
    sampler = measure.RssSampler().start()
    tracer = measure.Tracer(bool(args.trace))
    run = Run(work, args.seed, args.seconds, tracer, cpus, sampler)
    try:
        from real___time_fraud_detection_using_apache_kafka_spark.session import get_spark

        with run.setup(), tracer.span("session.start"):
            run.spark = get_spark("perfbench")
        run.spark.sparkContext.setLogLevel("ERROR")
        sampler.pids.append(run.spark.sparkContext._gateway.proc.pid)
        workloads[args.workload](run)
    finally:
        if run.spark is not None:
            t = time.perf_counter()
            stop_spark(run.spark)
            log(f"stopped in {time.perf_counter() - t:.2f} s")
        peak = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)

    run.metrics["setup_s"] = run.setup_s
    run.metrics["ok_frac"] = 1.0 - run.failed / max(run.attempted, 1)
    run.metrics["peak_rss_mb"] = peak
    if args.trace:
        for layer, metric in TRACE_COPIES.items():
            run.layers[layer] = run.metrics[metric]
        names = spec["per_layer"]
        values = {m["name"]: run.layers.get(m["name"], 0.0) for m in names}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        if run.trace_extra:
            with open(os.path.join(out_dir, f"progress-{args.workload}-seed{args.seed}.json"),
                      "w") as fh:
                json.dump(run.trace_extra, fh)
    else:
        names = spec["end_to_end"]
        values = {m["name"]: run.metrics[m["name"]] for m in names}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in names},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
