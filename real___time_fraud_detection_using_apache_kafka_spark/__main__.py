"""CLI entry points — the engine's analog of the reference's run book
(`/root/reference/README.md`: run producer.py, model.py, consumer.py,
dashboard.py as separate processes):

    python -m real___time_fraud_detection_using_apache_kafka_spark produce --n 1000 --out /tmp/txns
    python -m real___time_fraud_detection_using_apache_kafka_spark train --n 20000 --model-dir /tmp/model
    python -m real___time_fraud_detection_using_apache_kafka_spark stream --seconds 10 --watch

- ``produce`` = FD/producer.py: synthesize transactions (seeded, JVM-side
  column exprs) to JSON files or a Kafka topic.
- ``train``   = FD/model.py: fit the one shared MLlib pipeline, report the
  metric battery, persist model + metrics artifacts.
- ``stream``  = FD/consumer.py + FD/dashboard.py: one streaming query
  scores a live stream with the broadcast pipeline model (or the
  deterministic rule) into a queryable memory sink of score bins; the
  running counters and the live optimal threshold are both read from it
  and poll-printed — the 2 s dashboard tick against
  incrementally-maintained state instead of an O(stream) log re-parse.
  ``--checkpoint`` resumes counters and threshold together.

Everything here is a thin argparse shim over the library; no logic lives
in this module.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time


def _spark(app: str):
    from .session import get_spark

    return get_spark(app)


def cmd_produce(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .sources.generator import batch_transactions, to_kafka_json
    from .sources.io import kafka_batch_sink

    spark = _spark("produce")
    txns = batch_transactions(spark, args.n, seed=args.seed)
    if args.brokers:
        kafka_batch_sink(txns, args.brokers, args.topic)
        print(f"published {args.n} transactions to kafka topic {args.topic}")
    else:
        to_kafka_json(txns).select(F.col("value")).write.mode(
            "overwrite"
        ).text(args.out)
        print(f"wrote {args.n} transactions as JSON lines to {args.out}")
    return 0


def cmd_train(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .ml.pipeline import feature_importances, score, train
    from .operators.aggregates import classification_metrics, confusion_cells
    from .sources.generator import batch_transactions
    from .sources.io import read_transactions_csv

    spark = _spark("train")
    txns = (
        read_transactions_csv(spark, args.csv)
        if args.csv
        else batch_transactions(spark, args.n, seed=args.seed)
    )
    model, _train_df, test_df = train(txns, classifier=args.classifier)
    scored = score(model, test_df)
    cells = confusion_cells(
        scored, F.col("is_fraud"), F.col("prediction").cast("int")
    )
    metrics = {
        k: v for k, v in classification_metrics(cells).first().asDict().items()
    }
    print(json.dumps({"classifier": args.classifier, **metrics}))
    print("top feature importances:")
    for name, imp in feature_importances(model, top_k=args.top_k):
        print(f"  {name}\t{imp:.4f}")
    if args.model_dir:
        model.write().overwrite().save(args.model_dir)
        print(f"model saved to {args.model_dir}")
    if args.metrics_out:
        with open(args.metrics_out, "w") as fh:
            json.dump(metrics, fh)
        print(f"metrics written to {args.metrics_out}")
    if args.report_dir:
        # the reference's Model Reports/ artifacts (FD/model.py:150-198):
        # confusion heatmap + metrics bars + importance bars + text report
        import os

        from .sources.report import (
            classification_report_txt,
            confusion_matrix_png,
            feature_importance_png,
            metrics_bar_png,
        )

        os.makedirs(args.report_dir, exist_ok=True)
        c = cells.first()
        cm = {(1, 1): c["tp"], (0, 1): c["fp"], (1, 0): c["fn"], (0, 0): c["tn"]}
        confusion_matrix_png(cm, f"{args.report_dir}/confusion_matrix.png")
        ratio_metrics = {
            k: v for k, v in metrics.items()
            if isinstance(v, float) and 0.0 <= v <= 1.0
        }
        metrics_bar_png(ratio_metrics, f"{args.report_dir}/metrics_report.png")
        feature_importance_png(
            feature_importances(model, top_k=10),
            f"{args.report_dir}/feature_importance.png",
        )

        def _cls(tp, fp, fn, label):
            prec = tp / (tp + fp) if tp + fp else 0.0
            rec = tp / (tp + fn) if tp + fn else 0.0
            f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
            return {"label": label, "precision": prec, "recall": rec,
                    "f1": f1, "support": tp + fn}

        classification_report_txt(
            [_cls(c["tn"], c["fn"], c["fp"], 0),
             _cls(c["tp"], c["fp"], c["fn"], 1)],
            f"{args.report_dir}/classification_report.txt",
        )
        print(f"report artifacts written to {args.report_dir}")
    return 0


def cmd_stream(args: argparse.Namespace) -> int:
    from .ml.pipeline import featurize
    from .sources.generator import stream_transactions
    from .streaming.pipeline import (
        binned_score_counts,
        counts_from_bins,
        score_stream,
        threshold_from_bins,
    )

    spark = _spark("stream")
    model = None
    if args.model_dir:
        from pyspark.ml import PipelineModel

        model = PipelineModel.load(args.model_dir)

    def counts() -> dict[int, int]:
        rows = counts_from_bins(spark.table("pr_bins")).collect()
        return {int(r["prediction"]): int(r["n"]) for r in rows}

    ckpt = args.checkpoint or tempfile.mkdtemp(prefix="fraud_stream_ckpt_")
    query = None
    try:
        # ONE query: the counters and the live optimal threshold both
        # read this <=1000-row PR-bin state, so they cover the same
        # records and resume together from the one checkpoint
        scored = score_stream(featurize(stream_transactions(spark)),
                              model=model)
        query = (
            binned_score_counts(scored)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("pr_bins")
            .option("checkpointLocation", ckpt)
            .start()
        )
        deadline = time.time() + args.seconds
        while time.time() < deadline:
            time.sleep(args.tick)
            if args.watch:
                c = counts()
                line = f"non-fraud: {c.get(0, 0)}  fraud: {c.get(1, 0)}"
                if c:
                    t = threshold_from_bins(spark.table("pr_bins")).first()
                    line += f"  optimal-threshold: {t.threshold:.3f} (f1 {t.f1:.3f})"
                print(line, flush=True)
    finally:
        if query is not None:
            query.stop()
        if not args.checkpoint:
            shutil.rmtree(ckpt, ignore_errors=True)
    c = counts()
    print(json.dumps({"processed": sum(c.values()), "counts": c}))
    return 0


def cmd_evaluate(args: argparse.Namespace) -> int:
    """FD/evaluation.py analog: metric battery + fraud patterns over the
    scored stream's append sink — a columnar scan of what the reference
    re-derived by re-parsing its own text logs every 2 s."""
    from pyspark.sql import functions as F

    from .operators.aggregates import classification_metrics, confusion_cells

    spark = _spark("evaluate")
    scored = spark.read.parquet(args.scored_dir)
    cells = confusion_cells(
        scored,
        F.col(args.label_col).cast("int"),
        F.col("prediction").cast("int"),
    )
    metrics = classification_metrics(cells).first().asDict()
    fraud = scored.filter(F.col("prediction") == 1)
    patterns = fraud.agg(
        F.count("*").alias("n_fraud"),
        F.round(F.avg("amount"), 2).alias("avg_amount"),
        F.mode("location").alias("top_location"),
        F.mode("transaction_type").alias("top_type"),
    ).first().asDict()
    print(json.dumps({"metrics": metrics, "fraud_patterns": patterns}))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    """Interactive analytics surface: run a named catalog query or raw SQL
    over the testdata views — the engine's answer to "every query a user
    of the reference runs today", one command away."""
    from . import plans
    from .sources.tables import register_temp_views

    spark = _spark("query")
    if args.list:
        for name, spec in sorted(plans.QUERIES.items()):
            first = (spec.doc or "").strip().splitlines()
            print(f"{name}\t{first[0] if first else ''}")
        return 0
    catalog = plans.queries()
    if args.query in catalog:
        df = catalog[args.query](spark, args.sf_dir)
    else:
        register_temp_views(spark, args.sf_dir)
        df = spark.sql(args.query)
    if args.explain:
        df.explain("formatted")
    rows = (df.limit(args.limit) if args.limit else df).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_ingest(args: argparse.Namespace) -> int:
    """One incremental catch-up pass over a landing directory (O(delta):
    only files the checkpoint has not seen are read).  With --dedup-state,
    also suppresses near-dups of everything previously accepted."""
    from .streaming.ingest import (
        ingest_documents_available_now,
        ingest_documents_neardup_suppressed,
    )

    spark = _spark("ingest")
    ckpt = args.checkpoint or tempfile.mkdtemp(prefix="ingest_ckpt_")
    if args.dedup_state:
        q = ingest_documents_neardup_suppressed(
            spark, args.landing_dir, args.curated_dir, ckpt,
            args.dedup_state, min_quality=args.min_quality,
        )
    else:
        q = ingest_documents_available_now(
            spark, args.landing_dir, args.curated_dir, ckpt,
            min_quality=args.min_quality,
        )
    q.awaitTermination()
    rows = sum(p["numInputRows"] for p in q.recentProgress)
    print(f"processed {rows} new rows from {args.landing_dir} "
          f"-> {args.curated_dir} (checkpoint {ckpt})")
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    from .sources.io import compact_parquet

    spark = _spark("compact")
    before, after = compact_parquet(spark, args.path,
                                    target_file_mb=args.target_file_mb)
    print(f"compacted {args.path}: {before} -> {after} files")
    return 0


def cmd_table(args: argparse.Namespace) -> int:
    """Operate a transactional table: commit history, snapshot reads
    (including time travel), vacuum."""
    from .sources.txn_table import TxnTable

    t = TxnTable(args.path)
    if args.action == "history":
        for v in t.versions():
            e = t._entry(v)  # noqa: SLF001 - CLI is a privileged operator
            meta = e.get("meta") or {}
            print(json.dumps({
                "version": v, "action": e["action"],
                "n_files": len(e["files"]), "ts": e["ts"], **meta,
            }))
        return 0
    if args.action == "vacuum":
        deleted = t.vacuum(keep_versions=args.keep_versions)
        print(f"vacuumed {len(deleted)} data files; "
              f"versions now {t.versions()}")
        return 0
    # read
    spark = _spark("table")
    df = t.read(spark, version=args.version)
    for r in (df.limit(args.limit) if args.limit else df).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="real___time_fraud_detection_using_apache_kafka_spark",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("produce", help="synthesize a transaction batch")
    pp.add_argument("--n", type=int, default=1000)
    pp.add_argument("--seed", type=int, default=42)
    pp.add_argument("--out", default="/tmp/fraud_txns")
    pp.add_argument("--brokers", default=None, help="Kafka bootstrap servers")
    pp.add_argument("--topic", default="fraud_topic")
    pp.set_defaults(fn=cmd_produce)

    tp = sub.add_parser("train", help="fit pipeline, report metric battery")
    tp.add_argument("--n", type=int, default=20000)
    tp.add_argument("--seed", type=int, default=42)
    tp.add_argument("--csv", default=None, help="training CSV (else synthetic)")
    tp.add_argument("--classifier", default="gbt",
                    choices=["lr", "rf", "gbt"])
    tp.add_argument("--model-dir", default=None)
    tp.add_argument("--metrics-out", default=None)
    tp.add_argument("--report-dir", default=None,
                    help="write the reference's Model Reports/ artifacts "
                         "(confusion/metrics/importance PNGs + txt report)")
    tp.add_argument("--top-k", type=int, default=10)
    tp.set_defaults(fn=cmd_train)

    sp = sub.add_parser("stream", help="score a live stream, watch counters")
    sp.add_argument("--seconds", type=float, default=10.0)
    sp.add_argument("--tick", type=float, default=2.0)
    sp.add_argument("--watch", action="store_true")
    sp.add_argument("--checkpoint", default=None)
    sp.add_argument("--model-dir", default=None)
    sp.set_defaults(fn=cmd_stream)

    ep = sub.add_parser("evaluate", help="metric battery over scored output")
    ep.add_argument("--scored-dir", required=True,
                    help="parquet dir written by the scored append sink")
    ep.add_argument("--label-col", default="is_fraud")
    ep.set_defaults(fn=cmd_evaluate)

    qp = sub.add_parser("query", help="run a catalog query or raw SQL")
    qp.add_argument("query", nargs="?", default="fraud_patterns",
                    help="catalog query name, or a SQL string over the "
                         "testdata views")
    qp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qp.add_argument("--limit", type=int, default=20,
                    help="row cap for printing (0 = all)")
    qp.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan first")
    qp.add_argument("--list", action="store_true",
                    help="list catalog query names and exit")
    qp.set_defaults(fn=cmd_query)

    ip = sub.add_parser("ingest", help="incremental corpus catch-up pass")
    ip.add_argument("--landing-dir", required=True)
    ip.add_argument("--curated-dir", required=True)
    ip.add_argument("--checkpoint", default=None,
                    help="reuse across passes for O(delta) behavior")
    ip.add_argument("--min-quality", type=float, default=0.5)
    ip.add_argument("--dedup-state", default=None,
                    help="LSH signature state dir; enables near-dup "
                         "suppression against prior passes")
    ip.set_defaults(fn=cmd_ingest)

    tb = sub.add_parser("table", help="transactional-table ops "
                                      "(history / read / vacuum)")
    tb.add_argument("action", choices=["history", "read", "vacuum"])
    tb.add_argument("--path", required=True)
    tb.add_argument("--version", type=int, default=None,
                    help="time-travel read of this snapshot")
    tb.add_argument("--limit", type=int, default=20)
    tb.add_argument("--keep-versions", type=int, default=1)
    tb.set_defaults(fn=cmd_table)

    cp = sub.add_parser("compact", help="compact a parquet dir's small files")
    cp.add_argument("path")
    cp.add_argument("--target-file-mb", type=int, default=256)
    cp.set_defaults(fn=cmd_compact)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
