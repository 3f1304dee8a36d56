"""Structured Streaming semantics (SURVEY.md §2.10): scoring, running
counters (T4 monotonicity, checkpoint recovery), dead-letter routing
(T6), the binned PR / dashboard state readers — driven through a
deterministic file stream (no wall-clock rate source),
processAllAvailable for synchronous assertions."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from real___time_fraud_detection_using_apache_kafka_spark.schemas import TXN_SCHEMA
from real___time_fraud_detection_using_apache_kafka_spark.sources.generator import (
    batch_transactions,
)
from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
    binned_score_counts,
    counts_from_bins,
    running_counts,
    score_stream,
    split_dead_letters,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_json_batch(spark, df, path):
    df.select(F.to_json(F.struct(*df.columns)).alias("v")).write.mode(
        "append"
    ).text(path)


def test_score_stream_batch_streaming_parity(spark):
    """The scoring expressions are identical in batch and streaming —
    verify the rule scorer on a batch frame (same code path)."""
    txns = batch_transactions(spark, 300)
    scored = score_stream(txns)
    rows = scored.collect()
    assert all(0.0 <= r["probability_fraud"] <= 1.0 for r in rows)
    assert all(r["prediction"] in (0, 1) for r in rows)
    high = [r for r in rows if r["amount"] >= 8000]
    assert all(r["prediction"] == 1 for r in high)


def test_streaming_counts_monotonic_and_complete(spark, tmpdir):
    """T4: counters only grow as new micro-batches arrive."""
    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    txns = batch_transactions(spark, 100)
    _write_json_batch(spark, txns, src_dir)

    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
        .select("txn.*")
    )
    q = (
        running_counts(score_stream(stream))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("counts_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["prediction"]: r["n"]
            for r in spark.sql("SELECT * FROM counts_t").collect()
        }
        assert sum(first.values()) == 100

        _write_json_batch(spark, batch_transactions(spark, 60, seed=7), src_dir)
        q.processAllAvailable()
        second = {
            r["prediction"]: r["n"]
            for r in spark.sql("SELECT * FROM counts_t").collect()
        }
        assert sum(second.values()) == 160
        for k, v in first.items():
            assert second.get(k, 0) >= v  # monotone growth
    finally:
        q.stop()


def test_dead_letter_routing(spark, tmpdir):
    """T6: malformed payloads split to the dead-letter frame, valid rows
    flatten — nothing is silently dropped."""
    src_dir = f"{tmpdir}/src"
    good = batch_transactions(spark, 20)
    _write_json_batch(spark, good, src_dir)
    with open(f"{src_dir}/bad.txt", "w") as f:
        f.write("this is not json\n{\"half\": \n")

    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        parse_txn,
    )

    raw = spark.read.text(src_dir).select(
        F.col("value").alias("raw"),
        parse_txn(F.col("value")).alias("txn"),
    )
    ok, bad = split_dead_letters(raw)
    assert ok.count() == 20
    assert "_corrupt_record" not in ok.columns
    assert bad.count() == 2
    assert bad.columns == ["bad_record", "seen_at"]


def test_json_parse_corrupt_record_flagging(spark):
    """PERMISSIVE from_json never yields a null struct in Spark 4 — the
    corrupt-record sidecar column is what flags bad payloads (the property
    dead-lettering relies on)."""
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        parse_txn,
    )

    df = spark.createDataFrame([("{bad",), ('{"time": 1}',)], ["value"])
    got = df.select(parse_txn(F.col("value")).alias("txn")).collect()
    corrupt = [r["txn"]["_corrupt_record"] for r in got]
    assert sum(c is not None for c in corrupt) == 1
    assert sum(c is None for c in corrupt) == 1


def test_running_counts_recover_from_checkpoint(spark, tmpdir):
    """T1: checkpointed state must survive a query restart — after stop,
    new data, and relaunch from the same checkpoint, the counters
    CONTINUE from prior state instead of restarting from zero (the
    at-least-once offset + state-store recovery contract the reference
    delegated to Kafka group offsets and in-process globals)."""
    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    snap = f"{tmpdir}/snap"

    def launch():
        stream = (
            spark.readStream.schema("v string").text(src_dir)
            .select(F.from_json(F.col("v"), TXN_SCHEMA).alias("txn"))
            .select("txn.*")
        )
        counts = running_counts(score_stream(stream))
        return (
            counts.writeStream.outputMode("complete")
            .foreachBatch(
                lambda df, _id: df.write.mode("overwrite").parquet(snap)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    def total():
        return (
            spark.read.parquet(snap).agg(F.sum("n").alias("t")).first()["t"]
        )

    _write_json_batch(spark, batch_transactions(spark, 200), src_dir)
    q = launch()
    try:
        q.processAllAvailable()
        assert total() == 200
    finally:
        q.stop()

    # new data arrives while the query is DOWN; restart must fold it into
    # recovered state, not recount from scratch or lose the old total
    _write_json_batch(spark, batch_transactions(spark, 80, seed=5), src_dir)
    q2 = launch()
    try:
        q2.processAllAvailable()
        assert total() == 280
    finally:
        q2.stop()


def test_counts_from_bins_matches_running_counts_at_threshold_edge(spark):
    """The ``stream`` command's counters are a fold of the PR bins
    (bin >= 500 is fraud); at and around the 0.5 threshold — including
    the largest double below it — each score must land on the same
    side as ``score_stream``'s ``prediction``."""
    import math

    for p in (0.5, math.nextafter(0.5, 0.0), 0.4995, 0.5005, 0.0, 1.0):
        scored = spark.createDataFrame(
            [(p, 1)], "probability_fraud double, is_fraud int"
        ).withColumn(
            "prediction", (F.col("probability_fraud") >= 0.5).cast("int")
        )
        want = {r["prediction"]: r["n"]
                for r in running_counts(scored).collect()}
        got = {r["prediction"]: r["n"]
               for r in counts_from_bins(binned_score_counts(scored)).collect()}
        assert got == want == {int(p >= 0.5): 1}, p


def test_binned_pr_threshold_tracks_batch_curve(spark, tmpdir):
    """A14 streaming form: the binned PR state must be maintainable as an
    incremental streaming aggregation (complete mode, <= n_bins state
    rows) and its F1-argmax must match the exact batch PR curve within
    grid resolution."""
    from real___time_fraud_detection_using_apache_kafka_spark.operators.windows import (
        pr_curve_best_threshold,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        threshold_from_bins,
    )

    txns = batch_transactions(spark, 2000, seed=7)
    scored = score_stream(txns)  # batch: same exprs as the stream path
    exact = pr_curve_best_threshold(
        scored, F.col("is_fraud"), F.col("probability_fraud")
    ).first()

    data = f"{tmpdir}/scored_json"
    _write_json_batch(spark, scored.select("probability_fraud", "is_fraud"), data)
    stream = (
        spark.readStream.schema("probability_fraud double, is_fraud int")
        .json(data)
    )
    q = (
        binned_score_counts(stream, n_bins=1000)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("pr_bins")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        bins = spark.table("pr_bins")
        assert bins.count() <= 1000
        got = threshold_from_bins(bins, n_bins=1000).first()
    finally:
        q.stop()
    assert abs(got.threshold - exact.threshold) <= 0.002, (got, exact)
    assert abs(got.f1 - exact.f1) <= 0.02, (got, exact)


def test_dashboard_from_state_matches_batch_snapshot(spark):
    """The streaming dashboard reader must reproduce the batch
    dashboard_snapshot catalog query's full (metric, value) table from
    the single state row.  Counts/ratios/decimal-average metrics are
    exact; avg_probability rides a 12-dp decimal accumulator against
    the batch double avg, so it gets a 1e-9 tolerance at the 6-dp
    surface."""
    from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
    from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_metrics import (
        scored_events,
    )
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        dashboard_from_state,
        dashboard_state,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r["metric"]: r["value"]
        for r in QUERIES["dashboard_snapshot"].fn(spark, sf).collect()
    }
    state = dashboard_state(
        scored_events(spark, sf),
        proba_col="score", pred_col="predicted",
        label_col="actual", value_col="value",
    )
    got = {
        r["metric"]: r["value"] for r in dashboard_from_state(state).collect()
    }
    assert set(got) == set(batch)
    for k in batch:
        if k == "avg_probability":
            assert got[k] == pytest.approx(batch[k], abs=1e-9), k
        else:
            assert got[k] == batch[k], k


def test_dashboard_state_is_shard_order_independent(spark, tmpdir):
    """Run dashboard_state as a REAL streaming query over two atomic
    micro-batches; the folded state must equal the batch aggregate over
    the union — the O(delta) merge loses nothing and the decimal
    accumulators make the fold independent of sharding."""
    from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
        dashboard_state,
    )
    from tests.stream_io import atomic_json_append

    src_dir = f"{tmpdir}/src"
    ckpt = f"{tmpdir}/ckpt"
    b1 = batch_transactions(spark, 120)
    b2 = batch_transactions(spark, 80, seed=9)
    atomic_json_append(score_stream(b1), src_dir)

    stream = (
        spark.readStream.schema("v string").text(src_dir)
        .select(F.from_json(F.col("v"), score_stream(
            spark.createDataFrame([], TXN_SCHEMA)).schema.simpleString()
        ).alias("t"))
        .select("t.*")
    )
    q = (
        dashboard_state(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("dash_t")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        atomic_json_append(score_stream(b2), src_dir)
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM dash_t").first().asDict()
    finally:
        q.stop()
    want = dashboard_state(
        score_stream(b1).unionByName(score_stream(b2))
    ).first().asDict()
    assert got == want
