"""The ``stream`` workload: the paper's stream path, closed then open loop.

Both phases run the same query graph over a directory of Kafka-wire
JSON files: text file stream -> ``parse_txn`` -> ``split_dead_letters``
-> ``featurize`` -> ``run_scoring_pipeline`` (GBT ``PipelineModel``,
running counters), plus the ``stream`` CLI's second query,
``binned_score_counts(score_stream(...))``.  ``featurize`` is called
before scoring because ``score_stream(model=...)`` does not featurize.
Set-up writes each phase's inputs (Kafka-wire JSON files with a
seed-chosen number of planted corrupt lines), trains the model once and
runs two warm-up drains; the live files are written just before the live
phase.

- Backlog phase (closed loop, one client): each drain starts both
  queries on fresh checkpoints over the landed backlog and waits for
  every file to commit.  Large micro-batches amortise per-trigger costs,
  so per-row work (JSON parse, features, model, state update) dominates.
  It gives ``rows_per_s``.
- Live phase (open loop): one feeder thread renames pre-written files
  into the landing directory on a fixed schedule, whether or not the
  queries keep up.  Small micro-batches make the fixed per-trigger costs
  (planning, offset/WAL commit, state-store commit) dominate.  It gives
  the latency metrics and the per-trigger totals.

Which batch committed which file is read from outside the queries: the
file-source log and commit log in each query's checkpoint.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from real___time_fraud_detection_using_apache_kafka_spark.ml.pipeline import (
    featurize,
    score as ml_score,
    train,
)
from real___time_fraud_detection_using_apache_kafka_spark.sources.generator import (
    batch_transactions,
    to_kafka_json,
)
from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
    binned_score_counts,
    parse_txn,
    run_scoring_pipeline,
    running_counts,
    score_stream,
    split_dead_letters,
)

import measure

TRAIN_ROWS = 20_000
BACKLOG_FILES = 12
BACKLOG_ROWS_PER_FILE = 10_000
BACKLOG_FILES_PER_TRIGGER = 6
WARMUP_DRAINS = 2
MEASURED_DRAINS = 3
# Offered rate of the open loop: about a fifth of the backlog phase's
# throughput at the calibration seed on 4 cores.
LIVE_RATE = 16_000
LIVE_PERIOD_S = 0.025
LIVE_ROWS_PER_FILE = int(LIVE_RATE * LIVE_PERIOD_S)
LIVE_WARMUP_S = 0.5
# A live run whose feeder renamed files later than this (p95) did not
# offer the scheduled load, so the run is marked invalid.
FEEDER_LAG_BOUND_MS = 50.0
COMMIT_DEADLINE_S = 60.0
CORRUPT_LINES = ('{{"transaction_id": "TXN-CORRUPT-{i}", "amount": ',
                 "corrupt record {i}")
PHASES = {
    "sources.latest_offset_ms": "latestOffset",
    "sources.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.add_batch_ms": "addBatch",
    "streaming.trigger_ms": "triggerExecution",
}


@dataclass
class Inputs:
    files: list[str]          # file names, in feed order
    good_rows: int            # well-formed records per file
    corrupt: int              # planted corrupt lines over all files


@dataclass
class Drain:
    """One run of both queries over some landed files."""
    start: float                                  # wall clock
    commits: dict[str, tuple[int, float]]         # file -> (batch, commit time)
    counts: dict[int, int]
    bins: set
    progress: list[dict]
    bins_progress: list[dict]
    complete: bool
    error: str | None = None


def write_inputs(spark, out_dir: str, n_files: int, rows_per_file: int,
                 seed: int) -> Inputs:
    """Kafka-wire JSON values, one text file per partition, plus a
    seed-chosen number of corrupt lines appended to random files."""
    txns = batch_transactions(spark, n_files * rows_per_file, seed=seed,
                              partitions=n_files)
    to_kafka_json(txns).select("value").write.text(out_dir)
    files = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    rng = np.random.default_rng(seed)
    n_bad = int(rng.integers(n_files, 3 * n_files))
    per_file = np.bincount(rng.integers(0, n_files, n_bad), minlength=n_files)
    line = 0
    for name, k in zip(files, per_file):
        with open(os.path.join(out_dir, name), "a") as fh:
            for _ in range(k):
                fh.write(CORRUPT_LINES[line % 2].format(i=line) + "\n")
                line += 1
    for name in os.listdir(out_dir):  # checksums no longer match the files
        if name.endswith(".crc"):
            os.remove(os.path.join(out_dir, name))
    return Inputs(files, rows_per_file, n_bad)


def start_queries(spark, landing: str, ckpt: str, model,
                  files_per_trigger: int | None):
    reader = spark.readStream.schema("value string")
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    raw = reader.text(landing)
    parsed = raw.select(F.col("value").alias("raw"),
                        parse_txn(F.col("value")).alias("txn"))
    good, _bad = split_dead_letters(parsed)
    feats = featurize(good)
    counts = run_scoring_pipeline(spark, os.path.join(ckpt, "counts"),
                                  source=feats, model=model)
    bins = (
        binned_score_counts(score_stream(feats, model=model))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("pr_bins")
        .option("checkpointLocation", os.path.join(ckpt, "bins"))
        .start()
    )
    return counts, bins


def committed_files(ckpt: str) -> dict[str, tuple[int, float]]:
    """file name -> (batch id, wall time its batch committed), read from
    the file-source log and the commit log of a query checkpoint."""
    commits = {}
    cdir = os.path.join(ckpt, "commits")
    if os.path.isdir(cdir):
        for name in os.listdir(cdir):
            if name.isdigit():
                commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime
    out: dict[str, tuple[int, float]] = {}
    sdir = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(sdir):
        return out
    for name in os.listdir(sdir):
        if not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(sdir, name)) as fh:
            entries = fh.read().splitlines()[1:]  # first line is the version
        for entry in entries:
            rec = json.loads(entry)
            if rec["batchId"] in commits:
                out[os.path.basename(rec["path"])] = (
                    rec["batchId"], commits[rec["batchId"]])
    return out


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def run_drain(spark, landing: str, ckpt: str, model, files: list[str],
              files_per_trigger: int | None, feed=None) -> Drain:
    """Start both queries, optionally run *feed* (the open-loop feeder),
    wait until every file in *files* is committed by both, stop."""
    start = time.time()
    counts_q, bins_q = start_queries(spark, landing, ckpt, model,
                                     files_per_trigger)
    if feed:
        feed()
    wanted = set(files)
    deadline = time.time() + COMMIT_DEADLINE_S
    error = None
    try:
        while True:
            done = [committed_files(os.path.join(ckpt, q)) for q in ("counts", "bins")]
            if all(wanted <= d.keys() for d in done):
                break
            failed = [q.exception() for q in (counts_q, bins_q) if not q.isActive]
            if failed or time.time() > deadline:
                error = str(failed[0]) if failed and failed[0] else "commit deadline passed"
                break
            time.sleep(0.05)
    finally:
        counts_q.stop()
        bins_q.stop()
    counts = {int(r["prediction"]): int(r["n"])
              for r in spark.table("fraud_counts").collect()}
    bins = {tuple(r) for r in spark.table("pr_bins").collect()}
    return Drain(start, done[0], counts, bins, _progress(counts_q),
                 _progress(bins_q), error is None, error)


class Feeder:
    """Open-loop load: renames staged files into the landing directory at
    ``start + i * period`` whether or not the queries keep up, and records
    how late each rename ran."""

    def __init__(self, stage: str, landing: str, files: list[str], period: float):
        self.stage, self.landing, self.files, self.period = stage, landing, files, period
        self.due: dict[str, float] = {}
        self.lag_ms: dict[str, float] = {}

    def __call__(self) -> None:
        t0 = time.time() + 0.2
        for i, name in enumerate(self.files):
            due = t0 + i * self.period
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(self.stage, name), os.path.join(self.landing, name))
            self.lag_ms[name] = (time.time() - due) * 1000.0
            self.due[name] = due


def batch_oracle(spark, landing: str, model) -> tuple[dict[int, int], set, int]:
    """Counters, PR bins and dead letters recomputed as one batch job with
    ``ml.pipeline.score`` over the same files."""
    raw = spark.read.text(landing)
    good, bad = split_dead_letters(raw.select(
        F.col("value").alias("raw"), parse_txn(F.col("value")).alias("txn")))
    scored = ml_score(model, good).withColumn(
        "prediction", (F.col("probability_fraud") >= 0.5).cast("int"))
    counts = {int(r["prediction"]): int(r["n"]) for r in
              scored.groupBy("prediction").agg(F.count("*").alias("n")).collect()}
    bins = {tuple(r) for r in binned_score_counts(scored).collect()}
    return counts, bins, bad.count()


def _check_drain(run, drain: Drain, oracle) -> None:
    counts, bins, _ = oracle
    run.check("drain completed", drain.complete, drain.error or "")
    run.check("counters equal batch score", drain.counts == counts,
              f"{drain.counts} vs {counts}")
    run.check("PR bins equal batch bins", drain.bins == bins,
              f"{len(drain.bins)} vs {len(bins)} bins")
    run.check("PR-bin counts sum to good rows",
              sum(b[1] for b in drain.bins) == sum(drain.counts.values()),
              f"{sum(b[1] for b in drain.bins)} vs {sum(drain.counts.values())}")


def _dead_letters(drain: Drain, files: set[str]) -> int:
    """Input rows the counters query read minus rows it counted."""
    batches = {b for f, (b, _) in drain.commits.items() if f in files}
    read = sum(p["numInputRows"] for p in drain.progress if p["batchId"] in batches)
    return read - sum(drain.counts.values())


def _batch_progress(drain: Drain, files: set[str]) -> list[dict]:
    batches = {b for f, (b, _) in drain.commits.items() if f in files}
    return [p for p in drain.progress
            if p["batchId"] in batches and p["numInputRows"] > 0]


def _trace_layers(run, live: Drain, live_files: set[str], backlog: str,
                  model) -> None:
    """Per-trigger progress phases and state of the live phase, then the
    per-row layers as cumulative batch prefixes over the backlog files."""
    batches = _batch_progress(live, live_files)
    for metric, phase in PHASES.items():
        run.layers[metric] = measure.median(p["durationMs"].get(phase, 0) for p in batches)
    run.layers["streaming.state_commit_ms"] = measure.median(
        p["stateOperators"][0]["commitTimeMs"] for p in batches if p["stateOperators"])
    run.layers["streaming.batches"] = len(batches)
    run.layers["streaming.rows_per_batch"] = measure.median(p["numInputRows"] for p in batches)
    ops = [op for progress in (live.progress, live.bins_progress) if progress
           for op in progress[-1]["stateOperators"]]
    run.layers["streaming.state_rows"] = sum(op["numRowsTotal"] for op in ops)
    run.layers["streaming.state_memory_bytes"] = sum(op["memoryUsedBytes"] for op in ops)
    run.trace_extra["progress"] = {"counts": live.progress, "bins": live.bins_progress}

    raw = run.spark.read.text(backlog)
    good, _ = split_dead_letters(raw.select(
        F.col("value").alias("raw"), parse_txn(F.col("value")).alias("txn")))
    feats = featurize(good)
    scored = score_stream(feats, model=model)
    prefixes = [("streaming.parse_s", good), ("ml.featurize_s", feats),
                ("ml.score_s", scored), ("streaming.sink_s", running_counts(scored))]
    for metric, df in prefixes:
        with run.tracer.span("prefix." + metric):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            run.layers[metric] = time.perf_counter() - t


def stream(run) -> None:
    """Closed-loop backlog drains, then the open-loop live phase; one
    session and one model, each phase with its own files."""
    backlog = os.path.join(run.work, "backlog")
    stage = os.path.join(run.work, "stage")
    landing = os.path.join(run.work, "landing")
    n_warm = int(round(LIVE_WARMUP_S / LIVE_PERIOD_S))
    n_live = n_warm + int(round(run.seconds / LIVE_PERIOD_S))
    drains: list[Drain] = []

    def drain() -> Drain:
        ckpt = os.path.join(run.work, f"ckpt{len(drains)}")
        with run.tracer.span("streaming.drain", drain=len(drains)):
            d = run_drain(run.spark, backlog, ckpt, model, backlog_in.files,
                          BACKLOG_FILES_PER_TRIGGER)
        shutil.rmtree(ckpt)  # while young: see measure.collect_garbage
        return d

    with run.setup():
        with run.tracer.span("sources.generate"):
            t = time.perf_counter()
            backlog_in = write_inputs(run.spark, backlog, BACKLOG_FILES,
                                      BACKLOG_ROWS_PER_FILE, run.seed)
            run.layers["sources.generate_s"] = time.perf_counter() - t
        with run.tracer.span("ml.train"):
            t = time.perf_counter()
            model, _, _ = train(batch_transactions(run.spark, TRAIN_ROWS, seed=run.seed + 2))
            run.layers["ml.train_s"] = time.perf_counter() - t
        measure.collect_garbage(run.spark)
        while len(drains) < WARMUP_DRAINS:  # the first drains run on a cold JIT
            drains.append(drain())
    while len(drains) < WARMUP_DRAINS + MEASURED_DRAINS:
        drains.append(drain())

    # The live files are written just before they are fed, so that they
    # are still young when the run deletes them.
    with run.setup(), run.tracer.span("sources.generate"):
        t = time.perf_counter()
        live_in = write_inputs(run.spark, stage, n_live, LIVE_ROWS_PER_FILE, run.seed + 1)
        os.makedirs(landing)
        run.layers["sources.generate_s"] += time.perf_counter() - t
    feeder = Feeder(stage, landing, live_in.files, LIVE_PERIOD_S)
    with run.tracer.span("streaming.live"):
        live = run_drain(run.spark, landing, os.path.join(run.work, "ckpt-live"),
                         model, live_in.files, None, feed=feeder)

    rates, busy = [], []
    for d in drains[WARMUP_DRAINS:]:
        if d.complete:
            rates.append(sum(d.counts.values())
                         / (max(c for _, c in d.commits.values()) - d.start))
            busy.append(sum(p["durationMs"]["triggerExecution"]
                            for p in _batch_progress(d, set(backlog_in.files))) / 1000.0)
    run.log("drain rows/s " + " ".join(f"{r:.0f}" for r in rates))
    measured = live_in.files[n_warm:]
    due = feeder.due
    commits = {f: live.commits[f][1] for f in measured if f in live.commits}
    latencies = [(commits[f] - due[f]) * 1000.0 for f in commits]
    lag_p95 = measure.percentile([feeder.lag_ms[f] for f in measured], 95)
    t_end = due[measured[-1]] + LIVE_PERIOD_S
    triggers = [p["durationMs"]["triggerExecution"]
                for p in _batch_progress(live, set(measured))]
    run.metrics.update({
        "rows_per_s": measure.median(rates),
        "latency_p50_ms": measure.percentile(latencies, 50) if latencies else 0.0,
        "latency_p95_ms": measure.percentile(latencies, 95) if latencies else 0.0,
        "catalog_total_s": measure.median(busy),
        "catalog_geomean_ms": measure.geomean(triggers),
    })

    dead = 0
    for inputs, phase, where in ((backlog_in, drains, backlog), (live_in, [live], landing)):
        with run.tracer.span("oracle.batch_score"):
            oracle = batch_oracle(run.spark, where, model)
        files = set(inputs.files)
        for d in phase:
            _check_drain(run, d, oracle)
            run.check("stream dead letters equal planted",
                      _dead_letters(d, files) == inputs.corrupt,
                      f"{_dead_letters(d, files)} vs {inputs.corrupt}")
        run.check("batch dead letters equal planted", oracle[2] == inputs.corrupt,
                  f"{oracle[2]} vs {inputs.corrupt}")
        dead += _dead_letters(phase[-1], files)
    run.check("feeder kept its schedule", lag_p95 <= FEEDER_LAG_BOUND_MS,
              f"p95 lag {lag_p95:.1f} ms > {FEEDER_LAG_BOUND_MS} ms: run invalid")
    run.layers["streaming.dead_letter_rows"] = dead
    run.layers["sources.feeder_lag_p95_ms"] = lag_p95
    run.layers["sources.backlog_end_rows"] = live_in.good_rows * sum(
        1 for f in measured if due[f] <= t_end < commits.get(f, float("inf")))
    if run.tracer.enabled:
        _trace_layers(run, live, set(measured), backlog, model)
