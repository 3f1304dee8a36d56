"""CLI run-book smoke (package __main__): the four reference processes —
produce, train, stream/sink, evaluate — drive end-to-end through the
argparse surface, not just the library functions."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from real___time_fraud_detection_using_apache_kafka_spark.__main__ import main
from real___time_fraud_detection_using_apache_kafka_spark.schemas import TXN_SCHEMA
from real___time_fraud_detection_using_apache_kafka_spark.sources.generator import (
    batch_transactions,
)
from real___time_fraud_detection_using_apache_kafka_spark.streaming.pipeline import (
    score_stream,
    scored_append_sink,
)


def test_cli_produce_writes_wire_json(spark, tmp_path, capsys):
    out = str(tmp_path / "txns")
    assert main(["produce", "--n", "50", "--out", out]) == 0
    back = (
        spark.read.schema("v string").text(out)
        .select(F.from_json("v", TXN_SCHEMA).alias("t"))
        .select("t.*")
    )
    assert back.count() == 50
    assert back.filter(F.col("transaction_id").isNull()).count() == 0


def _count_query_starts(monkeypatch) -> list:
    """Record every streaming query started from now on."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return started


def _stream(capsys, *extra: str) -> dict:
    """Run the ``stream`` command; return its final JSON line."""
    assert main(["stream", "--seconds", "6", "--tick", "1", *extra]) == 0
    return json.loads(capsys.readouterr().out.splitlines()[-1])


def test_cli_train_prints_metric_battery(spark, tmp_path, capsys,
                                         monkeypatch):
    """train saves a model that ``stream --model-dir`` then scores with
    (the stream featurizes before scoring), in one query whose temp
    checkpoint is deleted on exit."""
    metrics_path = str(tmp_path / "m.json")
    model_dir = str(tmp_path / "model")
    assert main([
        "train", "--n", "800", "--classifier", "lr",
        "--metrics-out", metrics_path, "--model-dir", model_dir,
    ]) == 0
    captured = capsys.readouterr().out
    battery = json.loads(captured.splitlines()[0])
    for k in ("accuracy", "precision", "recall", "f1", "mcc"):
        assert k in battery, k
    with open(metrics_path) as fh:
        assert json.load(fh)["accuracy"] == battery["accuracy"]

    started = _count_query_starts(monkeypatch)
    ckpt = str(tmp_path / "temp_ckpt")
    monkeypatch.setattr(tempfile, "mkdtemp", lambda prefix="": ckpt)
    out = _stream(capsys, "--model-dir", model_dir)
    assert len(started) == 1
    assert out["processed"] >= 1
    assert out["processed"] == sum(out["counts"].values())
    assert spark.streams.active == []
    assert not os.path.exists(ckpt)


def test_cli_stream_one_query_resumes_from_checkpoint(spark, tmp_path, capsys,
                                                      monkeypatch):
    """``stream`` runs ONE query; the counters are a fold of its PR bins,
    so a restart on the same --checkpoint resumes the counters and the
    live threshold's state together."""
    started = _count_query_starts(monkeypatch)
    ckpt = str(tmp_path / "ckpt")

    def bins() -> dict:
        return {r["bin"]: r["cnt"] for r in spark.table("pr_bins").collect()}

    first = _stream(capsys, "--checkpoint", ckpt)
    first_bins = bins()
    assert len(started) == 1 and spark.streams.active == []
    assert first["processed"] >= 1
    assert sum(first_bins.values()) == first["processed"]

    second = _stream(capsys, "--checkpoint", ckpt, "--watch")
    second_bins = bins()
    assert len(started) == 2 and spark.streams.active == []
    assert sum(second_bins.values()) == second["processed"]
    # the restart continued from the checkpointed state: every bin the
    # first run filled is still there, and the rows produced while the
    # command was down were caught up on top
    assert second["processed"] > first["processed"]
    assert all(second_bins.get(b, 0) >= n for b, n in first_bins.items())
    assert os.path.isdir(os.path.join(ckpt, "commits"))


def test_stream_sink_then_evaluate(spark, tmp_path, capsys):
    """Integration: scored stream -> parquet append sink -> evaluate CLI
    computes the metric battery over the sink (the reference's
    log-then-reparse loop, structured)."""
    src = str(tmp_path / "src")
    batch_transactions(spark, 300).select(
        F.to_json(F.struct("*")).alias("v")
    ).write.text(src)
    stream = (
        spark.readStream.schema("v string").text(src)
        .select(F.from_json("v", TXN_SCHEMA).alias("t"))
        .select("t.*")
    )
    sink = str(tmp_path / "scored")
    q = scored_append_sink(
        score_stream(stream), sink, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert main(["evaluate", "--scored-dir", sink]) == 0
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert out["metrics"]["tp"] + out["metrics"]["fn"] == 150  # planted fraud
    assert out["fraud_patterns"]["n_fraud"] >= 1


def test_cli_query_named_catalog_entry(capsys):
    assert main([
        "query", "q1_pricing_summary",
        "--sf-dir", "/root/testdata/sf0.001", "--limit", "0",
    ]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    rows = [json.loads(l) for l in lines]
    assert rows and {"l_returnflag", "l_linestatus", "sum_qty"} <= set(rows[0])


def test_cli_query_raw_sql_and_list(capsys):
    assert main([
        "query", "SELECT count(*) AS n FROM orders",
        "--sf-dir", "/root/testdata/sf0.001",
    ]) == 0
    out = capsys.readouterr().out
    assert json.loads(out.splitlines()[-1])["n"] > 0
    assert main(["query", "--list"]) == 0
    listed = capsys.readouterr().out
    assert "fraud_patterns" in listed and "q18_large_volume_customers" in listed


def test_cli_ingest_then_compact(spark, tmp_path):
    """Run book: land files -> ingest catch-up -> compact the curated
    sink; the second ingest pass over an unchanged landing dir is a
    no-op (checkpoint-owned progress)."""
    from real___time_fraud_detection_using_apache_kafka_spark.__main__ import main

    landing = str(tmp_path / "landing")
    curated = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.limit(100).repartition(4).write.parquet(landing)

    assert main(["ingest", "--landing-dir", landing, "--curated-dir", curated,
                 "--checkpoint", ckpt]) == 0
    n = spark.read.parquet(curated).count()
    assert n == 100  # sf0.001 docs are uniformly quality 1.0

    assert main(["ingest", "--landing-dir", landing, "--curated-dir", curated,
                 "--checkpoint", ckpt]) == 0
    spark.catalog.refreshByPath(curated)
    assert spark.read.parquet(curated).count() == n  # no reprocessing

    assert main(["compact", curated]) == 0
    assert spark.read.parquet(curated).count() == n


def test_cli_train_report_dir_writes_reference_artifacts(tmp_path, capsys):
    """--report-dir reproduces the reference's Model Reports/ folder
    (FD/model.py:150-198): three PNG charts + the text classification
    report, all valid files."""
    rdir = str(tmp_path / "reports")
    assert main([
        "train", "--n", "800", "--classifier", "lr",
        "--report-dir", rdir,
    ]) == 0
    import os

    names = set(os.listdir(rdir))
    assert names == {
        "confusion_matrix.png", "metrics_report.png",
        "feature_importance.png", "classification_report.txt",
    }
    for n in names:
        blob = open(f"{rdir}/{n}", "rb").read()
        assert len(blob) > 50
        if n.endswith(".png"):
            assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    text = open(f"{rdir}/classification_report.txt").read()
    assert "precision" in text and text.count("\n") == 3  # header + 2 classes
