"""Fraud-scoring / evaluation-metric query catalog (SURVEY.md §2.5 A1,
A8-A14 and the flagship fraud-patterns aggregate).

The ``events`` table stands in for the reference's scored transaction
stream: ``value`` plays the transaction amount / model score role and
``props.k`` supplies a deterministic pseudo-label, so the whole metric
battery the reference computed with sklearn over re-parsed logs
(FD/evaluation.py:97-179, FD/model.py:122-148) is reproduced as pure
distributed aggregation with a DuckDB oracle.

Label/score convention used by all queries here:
  actual  = (json props.k >= 50)          -- pseudo ground truth
  score   = value / 500.0                 -- pseudo P(fraud) in (0, ~1)
  predicted = (score >= 0.1)              -- thresholded decision
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import (
    classification_metrics,
    confusion_cells,
    log_loss,
)
from ..operators.windows import pr_curve_best_threshold, roc_auc, topk
from ..sources.tables import load_table
from .registry import register

# Shared oracle fragment: the scored-events CTE.
SCORED_CTE = """
    WITH scored AS (
        SELECT event_id, user_id, ts, event_type, value,
               CASE WHEN cast(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) >= 50
                    THEN 1 ELSE 0 END AS actual,
               value / 500.0 AS score,
               CASE WHEN value / 500.0 >= 0.1 THEN 1 ELSE 0 END AS predicted
        FROM events
        -- dropna mirror (FD/evaluation.py:125): a row without a score
        -- source or label source is unscorable; keeping them would also
        -- make cross-engine NULL ordering observable in the curve ops
        WHERE value IS NOT NULL AND props IS NOT NULL
    )
"""


def scored_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        # dropna mirror (FD/evaluation.py:125) — see SCORED_CTE comment
        F.col("value").isNotNull() & F.col("props").isNotNull()
    )
    k = F.get_json_object("props", "$.k").cast("int")
    score = F.col("value") / 500.0
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.when(k >= 50, 1).otherwise(0).alias("actual"),
        score.alias("score"),
        F.when(score >= 0.1, 1).otherwise(0).alias("predicted"),
    )


@register(
    "fraud_patterns",
    oracle="""
    WITH susp AS (
        SELECT * FROM events WHERE value >= 75
    ), counts AS (
        -- NULL is not a category: a null event_type row counts toward
        -- the entity's totals but can never be its mode (matches the
        -- reference's pandas mode(), which drops NaN)
        SELECT user_id, event_type, count(*) AS _cnt
        FROM susp WHERE event_type IS NOT NULL
        GROUP BY user_id, event_type
    ), modes AS (
        SELECT user_id, event_type AS top_event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY _cnt DESC, event_type ASC) AS rn
        FROM counts
    ), agg AS (
        SELECT user_id, count(*) AS suspicious_count,
               -- DECIMAL sum, floor-based half-up on the double
               -- quotient: DuckDB's DECIMAL / count is a DOUBLE (its
               -- round sees the binary value) while Spark's stays
               -- exact decimal (half-up on the true midpoint) — the
               -- gapfill twin of this construct flipped at x.xx5 in
               -- the sf0.01 nulled sweep, so both sides now share one
               -- IEEE op sequence
               floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*) * 100 + 0.5) / 100.0 AS avg_value,
               max(ts) AS last_ts
        FROM susp GROUP BY user_id
    )
    SELECT a.user_id, a.suspicious_count, a.avg_value, a.last_ts, m.top_event_type
    -- LEFT: an entity whose suspicious rows are ALL null-typed still
    -- appears, with a NULL mode (mirrors min_by skipping null orderings)
    FROM agg a LEFT JOIN modes m ON a.user_id = m.user_id AND m.rn = 1
    ORDER BY a.suspicious_count DESC, a.user_id ASC
    LIMIT 10
    """,
)
def fraud_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (FD/evaluation.py:166-173): the reference's fraud-pattern
    panel — filter to suspicious records, per-entity count / mean amount /
    modal category / latest timestamp, top-10 entities.

    Single-scan plan: pre-aggregate by (user, event_type), then combine
    per user — counts and sums roll up, and the mode falls out of
    ``min_by`` over a (-count, event_type) struct (count desc, name asc —
    same determinism as the oracle's row_number).  Two shuffles, ONE read
    of events (the naive shape scans twice: numeric aggs + mode branch),
    and the pair-level partial agg combines map-side.
    """
    e = load_table(spark, sf_dir, "events")
    susp = e.filter(F.col("value") >= 75)
    pair = susp.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt"),
        # DECIMAL partial sums: order-independent exact arithmetic, so
        # the 2-dp rounded mean is identical at any parallelism / engine
        F.sum(F.col("value").cast("decimal(18,6)")).alias("vsum"),
        F.max("ts").alias("mts"),
    )
    per_user = pair.groupBy("user_id").agg(
        F.sum("cnt").alias("suspicious_count"),
        # floor-based half-up on the double quotient (see oracle comment)
        (
            F.floor(
                F.sum("vsum").cast("double") / F.sum("cnt") * 100
                + F.lit(0.5)
            ) / 100.0
        ).alias("avg_value"),
        F.max("mts").alias("last_ts"),
        # NULL is not a category: min_by skips rows whose ORDERING is
        # null, so null-typed groups fund the counts above but never the
        # mode (Spark struct comparison would otherwise sort the NULL
        # field FIRST while the oracle's ORDER BY ... ASC sorts it LAST —
        # the cross-engine divergence the sf0.01 nulled sweep caught)
        F.min_by(
            "event_type",
            F.when(
                F.col("event_type").isNotNull(),
                F.struct((-F.col("cnt")).alias("neg"), F.col("event_type")),
            ),
        ).alias("top_event_type"),
    )
    return topk(
        per_user, [F.desc("suspicious_count"), F.asc("user_id")], 10
    ).select("user_id", "suspicious_count", "avg_value", "last_ts", "top_event_type")


@register(
    "class_counts",
    oracle=SCORED_CTE
    + """
    SELECT predicted AS prediction, count(*) AS n
    FROM scored GROUP BY predicted
    """,
)
def class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/T4 (FD/consumer.py:127-131): the fraud / non-fraud running
    counters as a grouped count (streaming version in streaming/)."""
    return (
        scored_events(spark, sf_dir)
        .groupBy(F.col("predicted").alias("prediction"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "confusion_matrix",
    oracle=SCORED_CTE
    + """
    SELECT sum(CASE WHEN actual = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS tp,
           sum(CASE WHEN actual = 0 AND predicted = 1 THEN 1 ELSE 0 END) AS fp,
           sum(CASE WHEN actual = 1 AND predicted = 0 THEN 1 ELSE 0 END) AS fn,
           sum(CASE WHEN actual = 0 AND predicted = 0 THEN 1 ELSE 0 END) AS tn
    FROM scored
    """,
)
def confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (FD/model.py:132-133): 2x2 confusion cells in one aggregation."""
    s = scored_events(spark, sf_dir)
    return confusion_cells(s, F.col("actual"), F.col("predicted"))


@register(
    "classification_metrics",
    oracle=SCORED_CTE
    + """
    , cells AS (
        SELECT sum(CASE WHEN actual = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN actual = 0 AND predicted = 1 THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN actual = 1 AND predicted = 0 THEN 1 ELSE 0 END) AS fn,
               sum(CASE WHEN actual = 0 AND predicted = 0 THEN 1 ELSE 0 END) AS tn
        FROM scored
    )
    SELECT tp, fp, fn, tn,
           round((tp + tn) / cast(tp + fp + fn + tn AS DOUBLE), 6)  AS accuracy,
           round(tp / cast(tp + fp AS DOUBLE), 6)                   AS precision,
           round(tp / cast(tp + fn AS DOUBLE), 6)                   AS recall,
           round(2.0 * (tp / cast(tp + fp AS DOUBLE)) * (tp / cast(tp + fn AS DOUBLE))
                 / ((tp / cast(tp + fp AS DOUBLE)) + (tp / cast(tp + fn AS DOUBLE))), 6) AS f1,
           round(tn / cast(tn + fp AS DOUBLE), 6)                   AS specificity,
           round(fp / cast(fp + tn AS DOUBLE), 6)                   AS fpr,
           round(fn / cast(fn + tp AS DOUBLE), 6)                   AS fnr,
           round((tp * tn - fp * fn) /
                 sqrt(cast(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn)), 6) AS mcc
    FROM cells
    """,
)
def classification_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/A10/A12 (FD/model.py:131-144): accuracy, precision, recall, F1,
    specificity, FPR, FNR, MCC from confusion cells — the metrics MLlib has
    no evaluator for, as portable column arithmetic."""
    s = scored_events(spark, sf_dir)
    cells = confusion_cells(s, F.col("actual"), F.col("predicted"))
    return classification_metrics(cells)


@register(
    "per_class_report",
    oracle=SCORED_CTE
    + """
    , cells AS (
        SELECT sum(CASE WHEN actual = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN actual = 0 AND predicted = 1 THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN actual = 1 AND predicted = 0 THEN 1 ELSE 0 END) AS fn,
               sum(CASE WHEN actual = 0 AND predicted = 0 THEN 1 ELSE 0 END) AS tn
        FROM scored
    )
    SELECT 0 AS label,
           tn + fp AS support,
           round(tn / cast(tn + fn AS DOUBLE), 6) AS prec,
           round(tn / cast(tn + fp AS DOUBLE), 6) AS rec,
           round(2.0 * tn / cast(2 * tn + fn + fp AS DOUBLE), 6) AS f1
    FROM cells
    UNION ALL
    SELECT 1 AS label,
           tp + fn AS support,
           round(tp / cast(tp + fp AS DOUBLE), 6) AS prec,
           round(tp / cast(tp + fn AS DOUBLE), 6) AS rec,
           round(2.0 * tp / cast(2 * tp + fp + fn AS DOUBLE), 6) AS f1
    FROM cells
    """,
)
def per_class_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PER-CLASS rows of the reference's classification_report
    (FD/model.py:136-139; committed at FD/Model Reports/
    classification_report_*.txt — support, precision, recall, f1 per
    label), complementing ``classification_metrics``'s scalar battery.
    One global aggregate to the four confusion cells, then ``stack``
    pivots the cells into one row per class — no second pass over the
    data.  The 2tp/(2tp+fp+fn) F1 identity avoids the 0/0 the ratio
    form hits on degenerate classes."""
    s = scored_events(spark, sf_dir)
    cells = confusion_cells(s, F.col("actual"), F.col("predicted"))
    return cells.select(
        F.expr("stack(2, 0, tn, fn, fp, 1, tp, fp, fn)")
        .alias("label", "tp_c", "fp_c", "fn_c"),
        "tn", "tp", "fp", "fn",
    ).select(
        "label",
        (F.col("tp_c") + F.col("fn_c")).alias("support"),
        F.round(F.col("tp_c") / (F.col("tp_c") + F.col("fp_c")).cast("double"), 6)
        .alias("prec"),
        F.round(F.col("tp_c") / (F.col("tp_c") + F.col("fn_c")).cast("double"), 6)
        .alias("rec"),
        F.round(
            2.0 * F.col("tp_c")
            / (2 * F.col("tp_c") + F.col("fp_c") + F.col("fn_c")).cast("double"),
            6,
        ).alias("f1"),
    )


@register(
    "log_loss",
    oracle=SCORED_CTE
    + """
    SELECT round(avg(-(actual * ln(greatest(least(score, 1 - 1e-7), 1e-7))
                 + (1 - actual) * ln(1 - greatest(least(score, 1 - 1e-7), 1e-7)))), 6)
           AS log_loss
    FROM scored
    """,
)
def log_loss_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (FD/model.py:145): clamped mean negative log-likelihood."""
    s = scored_events(spark, sf_dir)
    return log_loss(s, F.col("actual"), F.col("score"))


@register(
    "roc_auc",
    oracle=SCORED_CTE
    + """
    , by_p AS (
        SELECT score AS p, count(*) AS cnt, sum(actual) AS pos
        FROM scored GROUP BY score
    ), ranked AS (
        SELECT p, cnt, pos,
               coalesce(sum(cnt) OVER (ORDER BY p ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM by_p
    )
    SELECT round((sum((below + (cnt + 1) / 2.0) * pos)
                  - sum(pos) * (sum(pos) + 1) / 2.0)
                 / (sum(pos) * (sum(cnt) - sum(pos))), 6) AS roc_auc
    FROM ranked
    """,
)
def roc_auc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (FD/model.py:140): ROC AUC via the Mann-Whitney rank statistic
    with tie-averaged ranks — numerically identical to sklearn's
    trapezoidal ``roc_auc_score``."""
    s = scored_events(spark, sf_dir)
    return roc_auc(s, F.col("actual"), F.col("score"))


@register(
    "pr_curve_threshold",
    oracle=SCORED_CTE
    + """
    , by_p AS (
        SELECT score AS p, count(*) AS cnt, sum(actual) AS pos
        FROM scored GROUP BY score
    ), cum AS (
        SELECT p,
               sum(pos) OVER (ORDER BY p DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
               sum(cnt) OVER (ORDER BY p DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS predicted_pos
        FROM by_p
    ), curve AS (
        SELECT p AS threshold,
               tp / cast(predicted_pos AS DOUBLE) AS precision,
               tp / (SELECT cast(sum(actual) AS DOUBLE) FROM scored) AS recall
        FROM cum
    ), f AS (
        SELECT threshold, precision, recall,
               CASE WHEN precision + recall > 0
                    THEN 2 * precision * recall / (precision + recall)
                    ELSE 0.0 END AS f1
        FROM curve
    )
    SELECT threshold, round(precision, 6) AS precision,
           round(recall, 6) AS recall, round(f1, 6) AS f1
    FROM f ORDER BY f1 DESC, threshold DESC LIMIT 1
    """,
)
def pr_curve_threshold_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 (FD/evaluation.py:91-95,139-140): the F1-optimal decision
    threshold from the precision-recall curve — the reference's adaptive
    thresholding, as a window cum-sum over one row per distinct score."""
    s = scored_events(spark, sf_dir)
    return pr_curve_best_threshold(s, F.col("actual"), F.col("score"))


@register(
    "pr_threshold_binned",
    oracle=SCORED_CTE + """
    , b AS (
        SELECT least(cast(floor(score * 1000) AS BIGINT), 999) AS bin,
               count(*) AS cnt, sum(actual) AS pos
        FROM scored GROUP BY 1
    ), c AS (
        SELECT bin / 1000.0 AS threshold,
               sum(pos) OVER (ORDER BY bin DESC) AS tp,
               sum(cnt) OVER (ORDER BY bin DESC) AS predicted_pos
        FROM b
    ), f AS (
        SELECT threshold,
               tp / cast(predicted_pos AS DOUBLE) AS precision,
               tp / (SELECT cast(sum(pos) AS DOUBLE) FROM b) AS recall
        FROM c
    )
    SELECT threshold, round(precision, 6) AS precision,
           round(recall, 6) AS recall,
           round(CASE WHEN precision + recall > 0
                      THEN 2 * precision * recall / (precision + recall)
                      ELSE 0.0 END, 6) AS f1
    FROM f
    -- output-alias scoping: this f1 is the ROUNDED one (rounded-cut
    -- doctrine, same as the Spark side's argmax)
    ORDER BY f1 DESC, threshold DESC
    LIMIT 1
    """,
)
def pr_threshold_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14, binned form (the streaming algorithm run in batch): fixed
    1/1000-grid histogram -> cumulative TP/predicted-positive from the
    top bin down -> F1 argmax.  Same operators the streaming path
    maintains incrementally (streaming/pipeline.py binned_score_counts /
    threshold_from_bins), here DuckDB-oracle-checked; state and read
    cost are O(bins) regardless of corpus size."""
    from ..streaming.pipeline import binned_score_counts, threshold_from_bins

    s = scored_events(spark, sf_dir)
    bins = binned_score_counts(
        s, n_bins=1000, proba_col="score", label_col="actual"
    )
    return threshold_from_bins(bins, n_bins=1000)


@register(
    "calibration_curve",
    oracle=SCORED_CTE
    + """
    SELECT least(cast(floor(score * 10) AS BIGINT), 9) AS bin,
           count(*) AS n,
           round(avg(score), 6) AS mean_score,
           round(avg(actual), 6) AS frac_actual
    FROM scored
    GROUP BY 1
    """,
)
def calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (model-monitoring extension beyond A8-A14):
    decile-binned mean predicted score vs observed positive rate — the
    standard check for whether P(fraud) estimates are trustworthy as
    probabilities (the reference thresholds raw scores without ever
    validating calibration).  One grouped aggregate over 10 fixed bins:
    map-side partials reduce to 10 rows at any stream length, and the
    same expression runs incrementally under a watermark."""
    s = scored_events(spark, sf_dir)
    b = F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9).cast("long"))
    return s.groupBy(b.alias("bin")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.avg(F.col("actual").cast("double")), 6).alias("frac_actual"),
    )


@register(
    "psi_score_drift",
    oracle=SCORED_CTE
    + """
    , mid AS (
        SELECT (min(event_id) + max(event_id)) // 2 AS m FROM scored
    ), binned AS (
        SELECT least(cast(floor(score * 10) AS BIGINT), 9) AS bin,
               sum(CASE WHEN event_id <  (SELECT m FROM mid) THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN event_id >= (SELECT m FROM mid) THEN 1 ELSE 0 END) AS n_cur
        FROM scored GROUP BY 1
    ), tot AS (
        SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM binned
    )
    SELECT round(sum(
               (greatest(n_cur / cast(t_cur AS DOUBLE), 1e-6)
                - greatest(n_ref / cast(t_ref AS DOUBLE), 1e-6))
               * ln(greatest(n_cur / cast(t_cur AS DOUBLE), 1e-6)
                    / greatest(n_ref / cast(t_ref AS DOUBLE), 1e-6))), 6) AS psi
    FROM binned, tot
    """,
)
def psi_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second time half
    of the score stream (drift monitoring — the production guard the
    reference lacks entirely: its model scores drifted inputs silently,
    SURVEY §2.11-1).  PSI = Σ (p_cur - p_ref)·ln(p_cur/p_ref) over 10
    score deciles, probabilities floored at 1e-6 so empty bins stay
    finite.  The ref/cur boundary is the integer event-id midpoint
    (insertion order) — exact in both engines, where a timestamp
    midpoint diverges at sub-microsecond precision.  Two grouped
    aggregates over bounded bins — in production the boundary comes
    from the stream clock, not a data scan."""
    s = scored_events(spark, sf_dir)
    mid = s.agg(
        # exact integer midpoint — `div` is pure int64 arithmetic in
        # BOTH engines; try_divide's double path could truncate
        # differently past 2^53 (ADVICE r7)
        F.expr("(min(event_id) + max(event_id)) div 2").alias("m")
    )
    b = F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9).cast("long"))
    binned = (
        s.crossJoin(F.broadcast(mid))
        .groupBy(b.alias("bin"))
        .agg(
            F.sum(F.when(F.col("event_id") < F.col("m"), 1).otherwise(0))
            .alias("n_ref"),
            F.sum(F.when(F.col("event_id") >= F.col("m"), 1).otherwise(0))
            .alias("n_cur"),
        )
    )
    tot = binned.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    eps = F.lit(1e-6)
    p_ref = F.greatest(F.col("n_ref") / F.col("t_ref").cast("double"), eps)
    p_cur = F.greatest(F.col("n_cur") / F.col("t_cur").cast("double"), eps)
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("term"))
        .agg(F.round(F.sum("term"), 6).alias("psi"))
    )


@register(
    "dashboard_snapshot",
    oracle=SCORED_CTE + """
    , agg AS (
        SELECT count(*)                                    AS total_txn,
               sum(predicted)                              AS fraud_count,
               count(*) - sum(predicted)                   AS non_fraud_count,
               sum(actual)                                 AS actual_fraud,
               round(avg(score), 6)                        AS avg_probability,
               round(sum(CASE WHEN actual = 1
                              THEN CAST(value AS DECIMAL(18,6)) END)
                     / nullif(sum(CASE WHEN actual = 1 THEN 1 ELSE 0 END), 0),
                     2)                                    AS fraud_avg_amount,
               sum(CASE WHEN actual = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN actual = 0 AND predicted = 1 THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN actual = 1 AND predicted = 0 THEN 1 ELSE 0 END) AS fn,
               sum(CASE WHEN actual = 0 AND predicted = 0 THEN 1 ELSE 0 END) AS tn
        FROM scored
    ), m AS (
        SELECT *,
               round((tp + tn) * 1.0 / nullif(total_txn, 0), 6)  AS accuracy,
               round(tp * 1.0 / nullif(tp + fp, 0), 6)         AS precision,
               round(tp * 1.0 / nullif(tp + fn, 0), 6)         AS recall,
               round(2.0 * tp / nullif(2.0 * tp + fp + fn, 0), 6) AS f1
        FROM agg
    )
    SELECT metric, value FROM (
        SELECT 'total_transactions' AS metric, total_txn * 1.0 AS value FROM m
        UNION ALL SELECT 'fraud_count', fraud_count * 1.0 FROM m
        UNION ALL SELECT 'non_fraud_count', non_fraud_count * 1.0 FROM m
        UNION ALL SELECT 'actual_fraud_count', actual_fraud * 1.0 FROM m
        UNION ALL SELECT 'avg_probability', avg_probability FROM m
        UNION ALL SELECT 'fraud_avg_amount', fraud_avg_amount FROM m
        UNION ALL SELECT 'accuracy', accuracy FROM m
        UNION ALL SELECT 'precision', precision FROM m
        UNION ALL SELECT 'recall', recall FROM m
        UNION ALL SELECT 'f1', f1 FROM m
    )
    """,
)
def dashboard_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE evaluation dashboard as one query: counters
    (FD/dashboard.py:150-163), streaming metric table
    (FD/evaluation.py:142-162), and fraud-amount panel — every number the
    Dash UI recomputed from a full log re-parse per 2 s tick
    (FD/evaluation.py:97-116), produced by ONE aggregate scan and
    unpivoted to long (metric, value) format.

    The whole panel is a single `HashAggregate` (10 mergeable cells) —
    at 100 TB the dashboard refresh is one partial-agg pass, or O(1)
    when served from the ``streaming.pipeline.dashboard_state`` single
    state row, which maintains the same cells incrementally.
    """
    s = scored_events(spark, sf_dir)
    one = F.lit(1.0)
    agg = s.agg(
        F.count("*").alias("total_txn"),
        F.sum("predicted").alias("fraud_count"),
        (F.count("*") - F.sum("predicted")).alias("non_fraud_count"),
        F.sum("actual").alias("actual_fraud"),
        F.round(F.avg("score"), 6).alias("avg_probability"),
        F.round(
            F.sum(
                F.when(F.col("actual") == 1,
                       F.col("value").cast("decimal(18,6)"))
            )
            / F.nullif(F.count_if(F.col("actual") == 1), F.lit(0)),
            2,
        ).alias("fraud_avg_amount"),
        F.count_if((F.col("actual") == 1) & (F.col("predicted") == 1)).alias("tp"),
        F.count_if((F.col("actual") == 0) & (F.col("predicted") == 1)).alias("fp"),
        F.count_if((F.col("actual") == 1) & (F.col("predicted") == 0)).alias("fn"),
        F.count_if((F.col("actual") == 0) & (F.col("predicted") == 0)).alias("tn"),
    )
    m = agg.select(
        "*",
        F.round((F.col("tp") + F.col("tn")) * one / F.nullif(F.col("total_txn"), F.lit(0)), 6)
        .alias("accuracy"),
        F.round(F.col("tp") * one / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)), 6)
        .alias("precision"),
        F.round(F.col("tp") * one / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)), 6)
        .alias("recall"),
        F.round(2.0 * F.col("tp") / F.nullif(2.0 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0.0)), 6)
        .alias("f1"),
    )
    return m.select(
        F.explode(
            F.create_map(
                F.lit("total_transactions"), F.col("total_txn") * one,
                F.lit("fraud_count"), F.col("fraud_count") * one,
                F.lit("non_fraud_count"), F.col("non_fraud_count") * one,
                F.lit("actual_fraud_count"), F.col("actual_fraud") * one,
                F.lit("avg_probability"), F.col("avg_probability"),
                F.lit("fraud_avg_amount"), F.col("fraud_avg_amount"),
                F.lit("accuracy"), F.col("accuracy"),
                F.lit("precision"), F.col("precision"),
                F.lit("recall"), F.col("recall"),
                F.lit("f1"), F.col("f1"),
            )
        ).alias("metric", "value")
    )


@register(
    "fraud_time_heatmap",
    oracle="""
    SELECT isodow(ts) - 1        AS dow,
           hour(ts)              AS hour,
           count(*)              AS n,
           sum(CAST(value AS DECIMAL(18,2))) AS total_value
    FROM events
    WHERE value >= 75
    GROUP BY 1, 2
    """,
)
def fraud_time_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspicious-activity heat map by (weekday, hour) — the temporal
    pattern panel behind every fraud dashboard (when do the value>=75
    events cluster?), over the same suspicious subset as
    ``fraud_patterns``.

    Weekday numbering is the classic cross-engine trap: Spark's
    ``dayofweek`` is Sunday=1 while DuckDB's ``dayofweek`` is Sunday=0 —
    both sides therefore pin Monday=0 explicitly (Spark ``weekday()``,
    DuckDB ``isodow()-1``).  One aggregate to a ≤168-row grid; the
    value filter pushes to the scan.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value") >= 75)
    return e.groupBy(
        F.weekday(F.col("ts").cast("timestamp")).alias("dow"),
        F.hour("ts").alias("hour"),
    ).agg(
        F.count("*").alias("n"),
        # the panel emits the EXACT decimal total, not a rounded average:
        # one heatmap cell lands on a true half-way quotient (142.855)
        # and Spark's HALF_UP disagrees with DuckDB's rounding there no
        # matter which domain the division runs in — exact sums have no
        # such edge, and the consumer divides for display
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
    )


@register(
    "categorical_drift_audit",
    oracle="""
    WITH src AS (
        SELECT coalesce(event_type, '(null)') AS category, event_id
        FROM events
    ), mid AS (
        SELECT (min(event_id) + max(event_id)) // 2 AS m FROM src
    ), cells AS (
        SELECT category,
               sum(CASE WHEN event_id < (SELECT m FROM mid)
                        THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN event_id >= (SELECT m FROM mid)
                        THEN 1 ELSE 0 END) AS n_cur
        FROM src GROUP BY 1
    ), tot AS (
        SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM cells
    )
    SELECT category, n_ref, n_cur,
           floor(n_ref / CAST(t_ref AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS share_ref,
           floor(n_cur / CAST(t_cur AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS share_cur,
           floor((greatest(n_cur / CAST(t_cur AS DOUBLE), 1e-6)
                  - greatest(n_ref / CAST(t_ref AS DOUBLE), 1e-6))
                 * ln(greatest(n_cur / CAST(t_cur AS DOUBLE), 1e-6)
                      / greatest(n_ref / CAST(t_ref AS DOUBLE), 1e-6))
                 * 1000000.0 + 0.5) / 1000000.0 AS psi_term,
           CASE WHEN n_ref = 0 THEN 'new'
                WHEN n_cur = 0 THEN 'dropped'
                ELSE 'stable' END AS status
    FROM cells CROSS JOIN tot
    """,
)
def categorical_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical DOMAIN-drift audit — the guard for the reference's
    one recorded production failure: its consumer silently skipped 69
    transactions because the trained model expected one-hot columns
    for category values ('Macbook', 'Windows PC'…) that the live
    producer no longer emitted (FD/consumer_error.log; domains at
    FD/features.py:20-28 vs FD/producer.py:72 — SURVEY §2.11-1).  This
    query surfaces exactly that class BEFORE scoring: per category of
    the monitored column, ref-window vs current-window counts and
    shares, the per-category PSI term (ε=1e-6 so empty cells stay
    finite, the ``psi_score_drift`` recipe), and a status flag — 'new'
    categories break one-hot/label encoders, 'dropped' ones starve
    them.  NULL is audited as its own '(null)' category (null drift is
    drift).  The ref/cur boundary is the integer event-id midpoint,
    exact in both engines.

    Scale: one scan, one bounded-domain hash aggregate (cells =
    categories, not rows), one 1-row totals broadcast — the same
    fixed-cells discipline as the sketch suite; at 100 TB the window
    boundary comes from the stream clock, not a data scan.
    """
    src = load_table(spark, sf_dir, "events").select(
        F.coalesce(F.col("event_type"), F.lit("(null)")).alias("category"),
        "event_id",
    )
    mid = src.agg(
        # exact integer midpoint — `div` is pure int64 arithmetic in
        # BOTH engines; try_divide's double path could truncate
        # differently past 2^53 (ADVICE r7)
        F.expr("(min(event_id) + max(event_id)) div 2").alias("m")
    )
    cells = (
        src.crossJoin(F.broadcast(mid))
        .groupBy("category")
        .agg(
            F.sum(F.when(F.col("event_id") < F.col("m"), 1).otherwise(0))
            .alias("n_ref"),
            F.sum(F.when(F.col("event_id") >= F.col("m"), 1).otherwise(0))
            .alias("n_cur"),
        )
    )
    tot = cells.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    eps = F.lit(1e-6)
    p_ref = F.greatest(F.col("n_ref") / F.col("t_ref").cast("double"), eps)
    p_cur = F.greatest(F.col("n_cur") / F.col("t_cur").cast("double"), eps)

    def r6(c: F.Column) -> F.Column:
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return cells.crossJoin(F.broadcast(tot)).select(
        "category",
        "n_ref",
        "n_cur",
        r6(F.col("n_ref") / F.col("t_ref").cast("double")).alias("share_ref"),
        r6(F.col("n_cur") / F.col("t_cur").cast("double")).alias("share_cur"),
        r6((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
        F.when(F.col("n_ref") == 0, F.lit("new"))
        .when(F.col("n_cur") == 0, F.lit("dropped"))
        .otherwise(F.lit("stable"))
        .alias("status"),
    )


@register(
    "feature_info_gain",
    oracle=SCORED_CTE
    + """
    , feat AS (
        SELECT actual, 'event_type' AS feature,
               coalesce(event_type, '(null)') AS fval
        FROM scored
        UNION ALL
        SELECT actual, 'value_bucket',
               CAST(least(CAST(floor(value / 50.0) AS BIGINT), 9)
                    AS VARCHAR)
        FROM scored
        UNION ALL
        SELECT actual, 'hour_bucket',
               CAST(CASE WHEN ts IS NULL THEN -1
                         ELSE hour(ts) // 6 END AS VARCHAR)
        FROM scored
    ), cells AS (
        SELECT feature, fval, actual, count(*) AS n_vc
        FROM feat GROUP BY feature, fval, actual
    ), vals AS (
        SELECT feature, fval, sum(n_vc) AS n_v
        FROM cells GROUP BY feature, fval
    ), tot AS (
        SELECT feature, sum(n_v) AS n, count(*) AS n_values
        FROM vals GROUP BY feature
    ), lab AS (
        SELECT feature, actual, sum(n_vc) AS n_c
        FROM cells GROUP BY feature, actual
    ), hy AS (
        SELECT lab.feature,
               sum(CAST(floor(lab.n_c * (ln(tot.n) - ln(lab.n_c))
                              * 1000000.0 + 0.5) AS BIGINT)) AS t_y
        FROM lab JOIN tot USING (feature) GROUP BY lab.feature
    ), ce AS (
        SELECT cells.feature,
               sum(CAST(floor(cells.n_vc
                              * (ln(vals.n_v) - ln(cells.n_vc))
                              * 1000000.0 + 0.5) AS BIGINT)) AS t_c
        FROM cells JOIN vals USING (feature, fval)
        GROUP BY cells.feature
    )
    SELECT tot.feature, tot.n_values,
           floor((CAST(hy.t_y AS DOUBLE) / 1000000.0) / tot.n
                 * 1000000.0 + 0.5) / 1000000.0 AS h_label,
           floor((CAST(ce.t_c AS DOUBLE) / 1000000.0) / tot.n
                 * 1000000.0 + 0.5) / 1000000.0 AS cond_entropy,
           floor(((CAST(hy.t_y AS DOUBLE) / 1000000.0) / tot.n
                  - (CAST(ce.t_c AS DOUBLE) / 1000000.0) / tot.n)
                 * 1000000.0 + 0.5) / 1000000.0 AS info_gain
    FROM tot JOIN hy USING (feature) JOIN ce USING (feature)
    """,
)
def feature_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of three candidate categorical features against
    the fraud label — the feature-selection screen that runs BEFORE
    training (the reference hardcodes its feature list,
    FD/features.py:20-28; a pipeline at scale ranks candidates first).
    IG(f) = H(label) − H(label | f) in nats, over event_type, a
    value-decile bucket and an hour-of-day quadrant.

    Determinism: every entropy term n·(ln N − ln n) is computed from
    EXACT counts, rounded to integer micro-nats per cell, and summed
    as BIGINT — order-independent, with each ln() seeing bit-identical
    inputs on both engines (the bigram_perplexity recipe).

    Scale: one scan explodes each event into 3 (feature, value) rows;
    every aggregate downstream is domain-bounded (features ×
    categories × 2 labels) hash state with map-side partials — no
    window, no sort, nothing row-count-sized after the first shuffle.
    """
    s = scored_events(spark, sf_dir)
    feat = s.select(
        "actual",
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_type").alias("feature"),
                    F.coalesce(F.col("event_type"), F.lit("(null)"))
                    .alias("fval"),
                ),
                F.struct(
                    F.lit("value_bucket").alias("feature"),
                    F.least(
                        F.floor(F.col("value") / F.lit(50.0)), F.lit(9).cast("long")
                    ).cast("string").alias("fval"),
                ),
                F.struct(
                    F.lit("hour_bucket").alias("feature"),
                    F.when(F.col("ts").isNull(), F.lit(-1))
                    .otherwise(F.expr("hour(ts) div 6"))
                    .cast("string")
                    .alias("fval"),
                ),
            )
        ).alias("fv"),
    ).select("actual", F.col("fv.feature").alias("feature"),
             F.col("fv.fval").alias("fval"))
    cells = feat.groupBy("feature", "fval", "actual").agg(
        F.count("*").alias("n_vc")
    )
    from ..operators.cache import tracked_persist

    cells = tracked_persist(cells)
    vals = cells.groupBy("feature", "fval").agg(F.sum("n_vc").alias("n_v"))
    vals = tracked_persist(vals)
    tot = vals.groupBy("feature").agg(
        F.sum("n_v").alias("n"), F.count("*").alias("n_values")
    )
    lab = cells.groupBy("feature", "actual").agg(F.sum("n_vc").alias("n_c"))

    def uterm(cnt: F.Column, tot_cnt: F.Column) -> F.Column:
        return F.floor(
            cnt * (F.log(tot_cnt) - F.log(cnt)) * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")

    hy = (
        lab.join(F.broadcast(tot), "feature")
        .groupBy("feature")
        .agg(F.sum(uterm(F.col("n_c"), F.col("n"))).alias("t_y"))
    )
    ce = (
        cells.join(vals, ["feature", "fval"])
        .groupBy("feature")
        .agg(F.sum(uterm(F.col("n_vc"), F.col("n_v"))).alias("t_c"))
    )
    hy_raw = F.col("t_y").cast("double") / F.lit(1000000.0) / F.col("n")
    ce_raw = F.col("t_c").cast("double") / F.lit(1000000.0) / F.col("n")

    def r6(col: F.Column) -> F.Column:
        return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return (
        tot.join(hy, "feature")
        .join(ce, "feature")
        .select(
            "feature",
            "n_values",
            r6(hy_raw).alias("h_label"),
            r6(ce_raw).alias("cond_entropy"),
            r6(hy_raw - ce_raw).alias("info_gain"),
        )
    )


# ----------------------------------------------- stratified k-fold --
def _kfold_oracle() -> str:
    from ..functions.hashing import poly_hash_duckdb

    h = poly_hash_duckdb("(cast(user_id AS VARCHAR) || ':fold')")
    return (
        SCORED_CTE
        + f"""
    , folded AS (
        SELECT {h} % 5 AS fold, user_id, actual, predicted,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM scored WHERE user_id IS NOT NULL
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(actual) AS BIGINT) AS n_positive,
           round(sum(actual) / CAST(count(*) AS DOUBLE), 6) AS positive_rate,
           round(sum(predicted) / CAST(count(*) AS DOUBLE), 6) AS alert_rate,
           round((CAST(sum(cents) AS DOUBLE) / count(*)) / 100.0, 6)
               AS mean_value
    FROM folded GROUP BY fold
    """
    )


@register("stratified_kfold", oracle=_kfold_oracle())
def stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment audit (the cross-validation
    prerequisite M6 generalizes to): every event lands in one of 5
    folds by the portable keyed hash of its USER — grouping by entity,
    not by row, so no user leaks across the train/validation boundary
    (row-hashed folds would put the same account on both sides, the
    standard CV leakage bug).  The output is the balance report a
    pipeline checks before trusting CV variance: per-fold event count,
    user count, label rate, alert rate, mean value.

    Determinism: the fold is the engine-portable polynomial hash
    (reproducible across retries and engines — ``rand()`` folds
    re-deal every run); counts are exact integers, the value mean
    accumulates exact cents, and the published doubles share one op
    sequence.

    Scale shape: one hash aggregate keyed by the 5 folds with map-side
    partials (count-distinct users adds the usual two-level expand;
    users-per-fold state is entity-bounded) — no shuffle beyond the
    5-key reduce, no window, no join."""
    from ..functions.hashing import poly_hash_expr

    s = scored_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    fold = F.pmod(
        poly_hash_expr("concat(cast(user_id as string), ':fold')"), F.lit(5)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        s.select(
            fold.alias("fold"), "user_id", "actual", "predicted",
            cents.alias("cents"),
        )
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum("actual").alias("n_positive"),
            F.round(
                F.sum("actual") / F.count("*").cast("double"), 6
            ).alias("positive_rate"),
            F.round(
                F.sum("predicted") / F.count("*").cast("double"), 6
            ).alias("alert_rate"),
            F.round(
                (F.sum("cents").cast("double") / F.count("*")) / 100.0, 6
            ).alias("mean_value"),
        )
    )


# ------------------------------------------- Brier decomposition --
@register(
    "brier_decomposition",
    oracle=SCORED_CTE
    + """
    , units AS (
        -- u = cents - 50000*y  ==>  (score - y) = u / 50000 exactly
        SELECT least(cast(floor(score * 10) AS BIGINT), 9) AS bin,
               actual,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(round(value * 100) AS BIGINT) - 50000 * actual AS u
        FROM scored
    ), bins AS (
        SELECT bin, count(*) AS n_k, sum(actual) AS pos_k,
               sum(cents) AS cents_k
        FROM units GROUP BY bin
    ), tot AS (
        SELECT sum(n_k) AS n, sum(pos_k) AS pos,
               (SELECT sum(u * u) FROM units) AS uu
        FROM bins
    ), parts AS (
        SELECT CAST(n AS BIGINT) AS n,
               CAST(pos AS DOUBLE) / n AS ybar,
               CAST(uu AS DOUBLE) / (2500000000.0 * n) AS brier,
               (SELECT sum(n_k * ((CAST(cents_k AS DOUBLE) / n_k) / 50000.0
                                  - CAST(pos_k AS DOUBLE) / n_k)
                              * ((CAST(cents_k AS DOUBLE) / n_k) / 50000.0
                                 - CAST(pos_k AS DOUBLE) / n_k))
                FROM bins) / CAST(n AS DOUBLE) AS reliability,
               (SELECT sum(n_k * (CAST(pos_k AS DOUBLE) / n_k
                                  - CAST(pos AS DOUBLE) / n)
                              * (CAST(pos_k AS DOUBLE) / n_k
                                 - CAST(pos AS DOUBLE) / n))
                FROM bins) / CAST(n AS DOUBLE) AS resolution
        FROM tot
    )
    SELECT n, round(ybar, 6) AS base_rate,
           round(brier, 6) AS brier,
           round(reliability, 6) AS reliability,
           round(resolution, 6) AS resolution,
           round(ybar * (1 - ybar), 6) AS uncertainty,
           round(reliability - resolution + ybar * (1 - ybar), 6)
               AS brier_binned
    FROM parts
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over the 10 fixed score
    deciles (the monitoring companion to ``calibration_curve`` and
    ``log_loss``): BS_binned = RELIABILITY (calibration error, lower
    better) - RESOLUTION (how far bin outcome rates move from the base
    rate, higher better) + UNCERTAINTY (base-rate variance, data
    property).  The raw Brier rides along; raw - binned is the
    within-bin score variance the decomposition quantizes away.

    Determinism: with exact-cent scores, (score - y) = u/50000 for the
    INTEGER u = cents - 50000y, so the raw Brier is one exact integer
    Σu² (DECIMAL accumulation) divided once; every bin cell is exact
    integers and the decomposition's doubles share one op sequence in
    both engines, rounded at 6.

    Scale shape: one 10-key hash aggregate (+ the Σu² cell on the same
    scan shape), one broadcastable 10-row reduce — O(1) state, stream-
    incremental under the same cells."""
    s = scored_events(spark, sf_dir)
    b = F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9).cast("long"))
    cents = F.round(F.col("value") * 100).cast("long")
    u = cents - F.lit(50000) * F.col("actual")
    units = s.select(
        b.alias("bin"), "actual", cents.alias("cents"), u.alias("u")
    )
    bins = units.groupBy("bin").agg(
        F.count("*").alias("n_k"),
        F.sum("actual").alias("pos_k"),
        F.sum("cents").alias("cents_k"),
        F.sum((F.col("u") * F.col("u")).cast("decimal(38,0)")).alias("uu_k"),
    )
    nk = F.col("n_k")
    sbar = (F.col("cents_k").cast("double") / nk) / 50000.0
    ybark = F.col("pos_k").cast("double") / nk
    tot = bins.agg(
        F.sum("n_k").alias("n"),
        F.sum("pos_k").alias("pos"),
        F.sum("uu_k").alias("uu"),
        F.sum(nk * (sbar - ybark) * (sbar - ybark)).alias("rel_num"),
        # sort_array pins the fold order (bin is the struct's first
        # field), so the resolution fold below is run-deterministic
        F.sort_array(F.collect_list(F.struct("bin", "n_k", "pos_k")))
        .alias("_cells"),
    )
    n = F.col("n")
    ybar = F.col("pos").cast("double") / n
    # resolution needs ybar (a global), so fold the 10 retained cells
    # with a higher-order aggregate — still O(bins) driver-free work
    res_num = F.aggregate(
        "_cells",
        F.lit(0.0),
        lambda acc, cell: acc
        + cell["n_k"]
        * (cell["pos_k"].cast("double") / cell["n_k"] - ybar)
        * (cell["pos_k"].cast("double") / cell["n_k"] - ybar),
    )
    return tot.select(
        n.alias("n"),
        F.round(ybar, 6).alias("base_rate"),
        F.round(F.col("uu").cast("double") / (2500000000.0 * n), 6)
        .alias("brier"),
        F.round(F.col("rel_num") / n.cast("double"), 6).alias("reliability"),
        F.round(res_num / n.cast("double"), 6).alias("resolution"),
        F.round(ybar * (1 - ybar), 6).alias("uncertainty"),
        F.round(
            F.col("rel_num") / n.cast("double")
            - res_num / n.cast("double")
            + ybar * (1 - ybar),
            6,
        ).alias("brier_binned"),
    )
