"""Structured Streaming pipelines (SURVEY.md §2.10 T1-T7).

The reference's whole runtime is: Kafka JSON in -> per-record preprocess +
score -> running fraud/non-fraud counters -> append log (FD/consumer.py:
104-156).  Here those are the stages of one streaming query graph:

    source (kafka | rate-generator) -> from_json(TXN_SCHEMA)
        -> dead-letter channel (T6)
        -> feature projection (``ml.pipeline.featurize``; pure columns)
        -> score (broadcast model | threshold rule)
        -> state: score bins (the ``stream`` command: running counters,
           live optimal threshold, calibration and drift all read them)
           or running counters (``run_scoring_pipeline``)
        -> sink: memory table, or the scored append sink (S5 -> parquet)

Scale: the score path is a stateless narrow map (no shuffle); the bin
state holds at most ``n_bins`` rows and the counter state 2 rows;
checkpointing replaces Kafka group offsets (T1).
``maxOffsetsPerTrigger`` bounds micro-batch size for backpressure at
production rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..schemas import TXN_SCHEMA
from ..sources.generator import stream_transactions

# PERMISSIVE from_json never yields a null struct (malformed input becomes a
# struct of all-null fields), so dead-letter detection needs an explicit
# corrupt-record column in the parse schema (SPARK-23173 semantics).
CORRUPT_COL = "_corrupt_record"
PARSE_SCHEMA = T.StructType(
    TXN_SCHEMA.fields + [T.StructField(CORRUPT_COL, T.StringType())]
)


def parse_txn(raw: F.Column) -> F.Column:
    """JSON payload -> typed struct with a corrupt-record sidecar field."""
    return F.from_json(
        raw,
        PARSE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )


def kafka_source(spark: SparkSession, brokers: str, topic: str = "fraud_topic",
                 max_offsets_per_trigger: int | None = None) -> DataFrame:
    """S2 (FD/consumer.py:104-109): Kafka JSON source -> typed columns.

    Unparseable payloads (T6, FD/consumer.py:158-159) survive with the
    corrupt-record field set — route them with :func:`split_dead_letters`
    instead of crash-or-drop.

    Environment note: this sandbox ships neither the
    spark-sql-kafka-0-10 connector jar nor any broker artifact, and has
    no network to fetch them (round-7 and round-8 attempts recorded at
    tests/artifacts/kafka_broker_attempt.txt), so the live round-trip
    is proxied: the producer's value bytes are byte-parity-tested and
    the same bytes stream through a file-backed readStream into this
    identical parse+score pipeline.  Against a real cluster this
    function is the only site that changes behavior — and it already
    is the change.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    raw = reader.load()
    return raw.select(
        F.col("value").cast("string").alias("raw"),
        parse_txn(F.col("value").cast("string")).alias("txn"),
    )


def split_dead_letters(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """T6: records failing schema parse go to the dead-letter channel, the
    rest flatten to typed columns — the reference logged-and-skipped
    (FD/consumer_error.log); we keep the evidence queryable."""
    is_bad = F.col(f"txn.{CORRUPT_COL}").isNotNull() | F.col("txn").isNull()
    good = parsed.filter(~is_bad).select("txn.*").drop(CORRUPT_COL)
    bad = parsed.filter(is_bad).select(
        F.col("raw").alias("bad_record"), F.current_timestamp().alias("seen_at")
    )
    return good, bad


def score_stream(txns: DataFrame, model=None, threshold: float = 0.5) -> DataFrame:
    """T3 (FD/consumer.py:114-125): stateless per-record scoring.

    With an MLlib ``PipelineModel`` the transform is vectorized per
    micro-batch and the model is broadcast once — not reloaded per record
    like the reference.  Model input must already be featurized
    (``ml.pipeline.featurize``): the model reads the derived time
    columns, and this function does not add them.  Without a model, a
    deterministic amount/location rule stands in (same shape: adds
    ``prediction`` + ``probability``).
    """
    if model is not None:
        scored = model.transform(txns)
        from pyspark.ml.functions import vector_to_array

        return scored.withColumn(
            "probability_fraud", vector_to_array("probability")[1]
        ).withColumn("prediction", (F.col("probability_fraud") >= threshold).cast("int"))
    rule_score = F.round(
        F.least(
            F.greatest(
                F.col("amount") / 10000.0
                + F.when(F.col("location") == "LOC99", 0.4).otherwise(0.0),
                F.lit(0.0),
            ),
            F.lit(1.0),
        ),
        6,
    )
    return txns.withColumn("probability_fraud", rule_score).withColumn(
        "prediction", (rule_score >= threshold).cast("int")
    )


def running_counts(scored: DataFrame) -> DataFrame:
    """T4/A1 (FD/consumer.py:127-131): the global fraud / non-fraud
    counters as an incremental streaming aggregation — O(delta) per
    micro-batch vs the reference's O(stream) log re-scan per tick."""
    return scored.groupBy(F.col("prediction")).agg(F.count("*").alias("n"))


def binned_score_counts(scored: DataFrame, n_bins: int = 1000,
                        proba_col: str = "probability_fraud",
                        label_col: str = "is_fraud") -> DataFrame:
    """Incremental PR-curve state (A14's streaming form, SURVEY.md §7
    hard-part 4): a fixed-grid histogram of (score bin → row count,
    positive count).

    The reference re-derives its optimal threshold by re-parsing the
    whole log per 5 s tick (FD/evaluation.py:97-140, O(stream) each
    tick).  Sorting a stream per tick doesn't scale either — but the
    PR curve only needs score RANKS, and a 1/n_bins grid bounds the
    threshold error at 1/n_bins while making the state a streaming
    groupBy with at most ``n_bins`` rows: O(delta) per micro-batch,
    O(n_bins) memory forever, no sort anywhere.  Read the curve back
    with :func:`threshold_from_bins`.
    """
    b = F.least(
        F.floor(F.col(proba_col) * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    return scored.groupBy(b.alias("bin")).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col(label_col).cast("long")).alias("pos"),
    )


# score_stream's default 0.5 threshold on binned_score_counts' default
# 1000-bin grid: floor(p * 1000) >= 500 exactly when p >= 0.5, because
# p * 1000 rounds monotonically and the largest double below 0.5 lands
# in bin 499.
_FRAUD_BIN = 500


def counts_from_bins(bins: DataFrame) -> DataFrame:
    """The running fraud / non-fraud counters as a fold of the binned PR
    state: non-fraud = Σcnt over bins below the 0.5 threshold, fraud =
    Σcnt over the rest.  Same schema and values as :func:`running_counts`
    over the same scored rows, read from ≤ 1000 state rows, so one
    streaming query serves both the counters and
    :func:`threshold_from_bins`."""
    return bins.groupBy(
        (F.col("bin") >= _FRAUD_BIN).cast("int").alias("prediction")
    ).agg(F.sum("cnt").alias("n"))


def calibration_from_bins(bins: DataFrame, n_bins: int = 1000,
                          deciles: int = 10) -> DataFrame:
    """Reliability diagram from the SAME binned state that feeds the
    PR-threshold: coarsen the 1/n_bins histogram to ``deciles`` buckets
    and read observed positive rate per bucket — so a live dashboard gets
    calibration for free from state already maintained, never a second
    pass over the stream.  ``floor(floor(s*n)/(n/d)) == floor(s*d)``
    (nested-floor identity, n divisible by d), so the decile edges are
    bit-identical to the batch ``calibration_curve`` query's."""
    g = (F.col("bin") * deciles / n_bins).cast("long")
    return bins.groupBy(g.alias("bin")).agg(
        F.sum("cnt").alias("n"),
        F.round(
            F.sum("pos") / F.sum("cnt").cast("double"), 6
        ).alias("frac_actual"),
    )


def psi_from_bins(ref_bins: DataFrame, cur_bins: DataFrame,
                  n_bins: int = 1000, deciles: int = 10,
                  eps: float = 1e-6) -> DataFrame:
    """Population Stability Index between two binned-score states (e.g.
    a frozen training-time reference histogram vs the live stream's) —
    drift monitoring from the SAME O(n_bins) state as the threshold and
    calibration readers, no pass over raw data on either side.  Full
    outer join on the decile so a bucket present in only one population
    still contributes (its missing side floors at ``eps``)."""
    def _deciled(bins: DataFrame, side: str) -> DataFrame:
        g = (F.col("bin") * deciles / n_bins).cast("long")
        return bins.groupBy(g.alias("bin")).agg(F.sum("cnt").alias(side))

    joined = _deciled(ref_bins, "n_ref").join(
        _deciled(cur_bins, "n_cur"), "bin", "full_outer"
    ).na.fill(0, ["n_ref", "n_cur"])
    totals = joined.agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
    )
    p_ref = F.greatest(F.col("n_ref") / F.col("t_ref"), F.lit(eps))
    p_cur = F.greatest(F.col("n_cur") / F.col("t_cur"), F.lit(eps))
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("term"))
        .agg(F.round(F.sum("term"), 6).alias("psi"))
    )


def threshold_from_bins(bins: DataFrame, n_bins: int = 1000) -> DataFrame:
    """F1-optimal threshold from the binned PR state: cumulative TP and
    predicted-positive counts from the top bin down, precision/recall/F1
    per bin lower edge, argmax.  Runs over ≤ ``n_bins`` rows — the
    single-partition window is bounded by construction, independent of
    stream length.  Same output schema as the batch
    ``pr_curve_best_threshold`` (threshold, precision, recall, f1)."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_seq_window

    w = bounded_seq_window(
        F.desc("bin"), anchor=F.col("bin")
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        (F.col("bin") / n_bins).alias("threshold"),
        F.sum("pos").over(w).alias("tp"),
        F.sum("cnt").over(w).alias("predicted_pos"),
    )
    totals = bins.agg(F.sum("pos").cast("double").alias("npos"))
    curve = (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "threshold",
            (F.col("tp") / F.col("predicted_pos")).alias("precision"),
            (F.col("tp") / F.col("npos")).alias("recall"),
        )
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return (
        # rounded-cut doctrine (see pr_curve_best_threshold): argmax on
        # the 6-dp F1 so a past-6-dp tie cannot flip the pick cross-engine
        curve.orderBy(F.round("f1", 6).desc(), F.desc("threshold"))
        .limit(1)
        .select(
            "threshold",
            F.round("precision", 6).alias("precision"),
            F.round("recall", 6).alias("recall"),
            F.round("f1", 6).alias("f1"),
        )
    )


def dashboard_state(scored: DataFrame,
                    proba_col: str = "probability_fraud",
                    pred_col: str = "prediction",
                    label_col: str = "is_fraud",
                    value_col: str = "amount") -> DataFrame:
    """Incremental sufficient statistics for the FULL dashboard table
    (VERDICT r5 item 7): ONE global streaming aggregate — a single
    state row — holding every input the batch ``dashboard_snapshot``
    catalog query derives its ten metrics from.  The reference rebuilt
    this panel by re-parsing the whole log on every 2 s Dash tick
    (FD/evaluation.py:97-179, O(stream) per tick); this state is
    O(delta) per micro-batch and O(1) to read.

    Sums that feed averages accumulate in DECIMAL (score at 12 dp,
    value at 6 dp) so the folded state is identical under ANY
    micro-batch sharding — the same order-independence contract as the
    KMV/confusion states (a raw double sum would drift with shard
    boundaries).
    """
    actual = F.col(label_col).cast("int")
    pred = F.col(pred_col).cast("int")
    return scored.agg(
        F.count("*").alias("total_txn"),
        F.sum(pred).alias("fraud_count"),
        F.sum(actual).alias("actual_fraud"),
        F.sum(F.col(proba_col).cast("decimal(27,12)")).alias("sum_score"),
        F.sum(F.when(actual == 1, F.col(value_col).cast("decimal(18,6)")))
        .alias("fraud_value"),
        F.count_if((actual == 1) & (pred == 1)).alias("tp"),
        F.count_if((actual == 0) & (pred == 1)).alias("fp"),
        F.count_if((actual == 1) & (pred == 0)).alias("fn"),
        F.count_if((actual == 0) & (pred == 0)).alias("tn"),
    )


def dashboard_from_state(state: DataFrame) -> DataFrame:
    """The long-format ``(metric, value)`` dashboard table — schema- and
    formula-identical to the batch ``dashboard_snapshot`` catalog query,
    computed from :func:`dashboard_state`'s single row with plain column
    arithmetic: the full Dash metric table is served O(delta)-maintained
    + O(1)-read in-stream (parity pinned by
    ``test_dashboard_from_state_matches_batch_snapshot``)."""
    one = F.lit(1.0)
    m = state.select(
        "*",
        (F.col("total_txn") - F.col("fraud_count")).alias("non_fraud_count"),
        F.round(
            (F.col("sum_score") / F.nullif(F.col("total_txn"), F.lit(0)))
            .cast("double"),
            6,
        ).alias("avg_probability"),
        F.round(
            F.col("fraud_value") / F.nullif(F.col("actual_fraud"), F.lit(0)), 2
        ).alias("fraud_avg_amount"),
        F.round(
            (F.col("tp") + F.col("tn")) * one
            / F.nullif(F.col("total_txn"), F.lit(0)),
            6,
        ).alias("accuracy"),
        F.round(
            F.col("tp") * one / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)), 6
        ).alias("precision"),
        F.round(
            F.col("tp") * one / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)), 6
        ).alias("recall"),
        F.round(
            2.0 * F.col("tp")
            / F.nullif(2.0 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0.0)),
            6,
        ).alias("f1"),
    )
    return m.select(
        F.explode(
            F.create_map(
                F.lit("total_transactions"), F.col("total_txn") * one,
                F.lit("fraud_count"), F.col("fraud_count") * one,
                F.lit("non_fraud_count"), F.col("non_fraud_count") * one,
                F.lit("actual_fraud_count"), F.col("actual_fraud") * one,
                F.lit("avg_probability"), F.col("avg_probability"),
                F.lit("fraud_avg_amount"),
                F.col("fraud_avg_amount").cast("double"),
                F.lit("accuracy"), F.col("accuracy"),
                F.lit("precision"), F.col("precision"),
                F.lit("recall"), F.col("recall"),
                F.lit("f1"), F.col("f1"),
            )
        ).alias("metric", "value")
    )


def run_scoring_pipeline(spark: SparkSession, checkpoint_dir: str,
                         source: DataFrame | None = None, model=None,
                         queryable_name: str = "fraud_counts") -> StreamingQuery:
    """Running-counters streaming query: ``running_counts`` over the
    scored source, landing in an in-memory queryable sink (T5) — a
    dashboard poll becomes ``SELECT * FROM fraud_counts``.  A model
    source must already be featurized (see :func:`score_stream`).  The
    ``stream`` command reads its counters from the score bins instead
    (:func:`counts_from_bins`), so they share one query with the live
    threshold."""
    src = source if source is not None else stream_transactions(spark)
    scored = score_stream(src, model=model)
    return (
        running_counts(scored)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(queryable_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def scored_append_sink(scored: DataFrame, path: str, checkpoint_dir: str,
                       fmt: str = "parquet") -> StreamingQuery:
    """S5 replacement: the reference's append-only text log becomes a
    partitioned columnar append sink — same append semantics, queryable."""
    return (
        scored.writeStream.outputMode("append")
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
