"""The ``catalog`` workload: 35 registered queries over sf0.1-shaped tables.

Set-up writes the tables (fixed data seed, so every run reads the same
bytes) and runs one warm pass in catalog order that collects every
result for the correctness gate.  The measured passes run the queries in
the same order, clear the cache before each query, and time the
query-function call (plan build plus any eager jobs) plus a ``noop``
write, which materialises every column of the result; ``count()`` would
let Catalyst prune unused columns.

Correctness: each oracled query's row-set hash must equal DuckDB's over
the same files (computed untimed after the measured passes, and cached in
the checkout because the tables are fixed); the others must return the
row count recorded for the data seed.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import time
from decimal import Decimal

from real___time_fraud_detection_using_apache_kafka_spark import plans
from real___time_fraud_detection_using_apache_kafka_spark.plans.registry import QUERIES as SPECS

import catalog_data
import measure

DATA_SEED = 42
# The warm pass collects garbage this often (see measure.collect_garbage);
# shorter than the usual 30 s before the OS writes dirty files back.
GC_EVERY_S = 10.0
CACHE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         ".perfbench_cache")
# Family subtotals, named by the layer that does the work.
FAMILIES = {
    "operators.windows": [
        "fraud_patterns", "classification_metrics", "roc_auc",
        "pr_curve_threshold", "dashboard_snapshot", "lift_gain_deciles",
        "ks_drift_stat", "brier_decomposition", "categorical_drift_audit",
        "rapid_repeat_purchases", "benford_first_digit", "user_rfm_segments",
    ],
    "operators.relational": [
        "value_outliers_robust", "market_basket_rules", "profile_orders_columns",
        "q5_regional_revenue", "q9_product_profit",
        "q18_large_volume_customers", "q21_waiting_suppliers",
    ],
    "operators.temporal": [
        "user_sessions", "rolling_user_velocity", "asof_last_error_before_purchase",
    ],
    "functions.hashing": [
        "hll_distinct_users", "cms_heavy_hitters", "bloom_semijoin_prune",
    ],
    "operators.dedup": ["minhash_neardup", "curate_documents_lsh"],
    "operators.similarity": ["embedding_lsh_neardup"],
    "operators.text": ["bigram_perplexity", "bpe_merge_table"],
    "operators.graph": [
        "copurchase_triangles", "copurchase_khop_reach", "adamic_adar_parts",
        "part_copurchase_pagerank",
    ],
    "ml.recommend": ["als_part_recommendations"],
}
QUERIES = [name for names in FAMILIES.values() for name in names]
# Row counts of the queries without oracle SQL, at DATA_SEED.
EXPECTED_ROWS = {
    "minhash_neardup": 88,
    "curate_documents_lsh": 4969,
    "embedding_lsh_neardup": 178,
    "bpe_merge_table": 5,
    "als_part_recommendations": 44997,
}


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)  # folds -0.0
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def row_set_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def duckdb_hashes(sf_dir: str, names: list[str], threads: int) -> dict[str, str]:
    """DuckDB's row-set hash of each query's oracle SQL over the tables.

    The tables are fixed, so the hashes are cached in the checkout, keyed
    by everything they depend on: the oracle SQL, the DuckDB version and
    the sources of the table generator and of this module.
    """
    import duckdb

    sources = b""
    for path in (catalog_data.__file__, __file__):
        with open(path, "rb") as fh:
            sources += fh.read()
    key = hashlib.sha256(json.dumps(
        [duckdb.__version__, DATA_SEED, {n: SPECS[n].oracle for n in names}]
    ).encode() + sources).hexdigest()[:16]
    cache = os.path.join(CACHE_DIR, f"oracle-{key}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    con = duckdb.connect(config={
        "threads": threads, "memory_limit": "2GB",
        "temp_directory": os.path.join(os.path.dirname(sf_dir), "duckdb-tmp"),
    })
    try:
        for table in catalog_data.TABLES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, table)}.parquet')")
        out = {}
        for name in names:
            rel = con.sql(SPECS[name].oracle)
            out[name] = row_set_hash(rel.columns, rel.fetchall())
    finally:
        con.close()
    os.makedirs(CACHE_DIR, exist_ok=True)
    with open(cache + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(cache + ".tmp", cache)
    return out


def _timed_query(run, fn, name: str, sf_dir: str, traced: bool) -> tuple[float, dict]:
    """Build + noop-write one query; returns (wall s, per-layer detail)."""
    spark = run.spark
    sc = spark.sparkContext
    detail = {}
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    if traced:
        sc.setJobGroup(f"build:{name}", name)
    with run.tracer.span("plans.build", query=name):
        df = fn(spark, sf_dir)
    build_s = time.perf_counter() - t0
    if traced:
        detail["phases"] = measure.catalyst_phases_ms(df)
        sc.setJobGroup(f"exec:{name}", name)
    with run.tracer.span("catalog.execute", query=name):
        df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        detail["build_s"] = build_s
        detail["build"] = measure.job_group_stats(spark, f"build:{name}")
        detail["exec"] = measure.job_group_stats(spark, f"exec:{name}")
    return wall, detail


def catalog(run) -> None:
    spark = run.spark
    sf_dir = os.path.join(run.work, "sf0.1")
    fns = plans.queries()
    results, errors = {}, {}
    with run.setup():
        with run.tracer.span("sources.generate"):
            t = time.perf_counter()
            catalog_data.write(sf_dir, DATA_SEED)
            run.layers["sources.generate_s"] = time.perf_counter() - t
        last_gc = time.perf_counter()
        for name in QUERIES:  # warm pass, results kept for the correctness gate
            with run.tracer.span("catalog.warm", query=name):
                try:
                    df = fns[name](spark, sf_dir)
                    results[name] = (df.columns, df.collect())
                    del df
                except Exception as exc:  # noqa: BLE001 - a failing query is a result
                    errors[name] = repr(exc)
            if time.perf_counter() - last_gc > GC_EVERY_S:
                measure.collect_garbage(spark)
                last_gc = time.perf_counter()

    walls: dict[str, list[float]] = {n: [] for n in QUERIES}
    details: dict[str, dict] = {}
    pass_totals = []
    end = time.perf_counter() + run.seconds
    while not pass_totals or time.perf_counter() < end:
        total = 0.0
        for name in QUERIES:
            try:
                wall, detail = _timed_query(run, fns[name], name, sf_dir,
                                            run.tracer.enabled)
            except Exception as exc:  # noqa: BLE001
                errors.setdefault(name, repr(exc))
                continue
            walls[name].append(wall)
            details[name] = detail
            total += wall
        pass_totals.append(total)

    per_query = {n: measure.median(w) for n, w in walls.items() if w}
    pooled = [w for ws in walls.values() for w in ws]
    total_s = measure.median(pass_totals)
    out_rows = sum(len(rows) for _, rows in results.values())
    run.metrics.update({
        "rows_per_s": out_rows / total_s,
        "latency_p50_ms": measure.percentile(pooled, 50) * 1000.0,
        "latency_p95_ms": measure.percentile(pooled, 95) * 1000.0,
        "catalog_total_s": total_s,
        "catalog_geomean_ms": measure.geomean(per_query.values()) * 1000.0,
    })

    oracled = [n for n in QUERIES if SPECS[n].oracle is not None and n in results]
    run.sampler.stop()  # DuckDB runs in this process: keep it out of peak_rss_mb
    with run.tracer.span("oracle.duckdb"):
        expected = duckdb_hashes(sf_dir, oracled, run.cpus)
    for name in QUERIES:
        if name in errors:
            run.check(name, False, errors[name])
        elif name in expected:
            got = row_set_hash(*results[name])
            run.check(name, got == expected[name], "row-set hash differs from DuckDB")
        else:
            n = len(results[name][1])
            run.check(name, n == EXPECTED_ROWS[name],
                      f"{n} rows, recorded {EXPECTED_ROWS[name]}")

    for name, ms in per_query.items():
        run.layers[f"query.{name}_ms"] = ms * 1000.0
    for family, names in FAMILIES.items():
        run.layers[f"{family}_s"] = sum(per_query.get(n, 0.0) for n in names)
    if run.tracer.enabled:
        d = details.values()
        run.layers["plans.build_s"] = sum(x["build_s"] for x in d)
        run.layers["plans.build_jobs"] = sum(x["build"]["jobs"] for x in d)
        for phase in ("analysis", "optimization", "planning"):
            run.layers[f"plans.{phase}_s"] = sum(
                x["phases"].get(phase, 0.0) for x in d) / 1000.0
        for key in ("executor_run_s", "gc_s", "shuffle_bytes", "spill_bytes", "tasks"):
            run.layers[f"operators.{key}"] = sum(
                x["build"][key] + x["exec"][key] for x in d)
