"""Unit semantics for the graph operators (triangle census, bounded
BFS) on hand-built graphs with known answers, plus the sequential-
statistics queries' closed-form cases.  The catalog-level Spark-vs-
DuckDB differential for these lives in tools/check_oracle.py; these
tests pin the OPERATOR semantics independent of the testdata."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from real___time_fraud_detection_using_apache_kafka_spark.operators.graph import (
    khop_min_dist,
    triangle_stats,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


class TestTriangleStats:
    def test_k4_complete_graph(self, spark):
        # K4: 4 triangles, 6 edges, every wedge closed -> clustering 1.0
        e = _edges(
            spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        )
        row = triangle_stats(e).collect()[0]
        assert row.n_nodes == 4
        assert row.n_edges == 6
        assert row.n_triangles == 4
        # wedges: each node deg 3 -> 4 * 3 = 12; 3*4/12 = 1.0
        assert row.n_wedges == 12
        assert row.global_clustering == 1.0

    def test_path_graph_has_no_triangles(self, spark):
        e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
        row = triangle_stats(e).collect()[0]
        assert row.n_triangles == 0
        assert row.n_wedges == 2  # at nodes 2 and 3
        assert row.global_clustering == 0.0

    def test_hub_plus_one_closing_edge(self, spark):
        # star center 0 with leaves 1..5, plus edge (1,2): exactly one
        # triangle regardless of hub degree — the skew case the degree
        # orientation exists for
        e = _edges(spark, [(0, i) for i in range(1, 6)] + [(1, 2)])
        row = triangle_stats(e).collect()[0]
        assert row.n_triangles == 1

    def test_empty_graph(self, spark):
        e = _edges(spark, []).filter(F.lit(False))
        row = triangle_stats(e).collect()[0]
        assert (row.n_triangles, row.n_edges, row.n_nodes) == (0, 0, 0)
        assert row.global_clustering == 0.0


class TestKhopMinDist:
    def _sym(self, spark, pairs):
        e = spark.createDataFrame(pairs, "src long, dst long")
        return e.union(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))

    def test_path_distances(self, spark):
        # 1-2-3-4-5, seed {1}: dist = index, capped at 3 hops
        edges = self._sym(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        seeds = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.dist for r in khop_min_dist(edges, seeds, 3).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is 4 hops: excluded

    def test_min_dist_wins_over_longer_path(self, spark):
        # two routes 1->4: direct edge and 1-2-3-4; dist(4) must be 1
        edges = self._sym(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])
        seeds = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.dist for r in khop_min_dist(edges, seeds, 3).collect()}
        assert got[4] == 1

    def test_multiple_seeds_take_nearest(self, spark):
        edges = self._sym(spark, [(1, 2), (2, 3), (3, 4)])
        seeds = spark.createDataFrame([(1,), (4,)], "node long")
        got = {r.node: r.dist for r in khop_min_dist(edges, seeds, 2).collect()}
        assert got == {1: 0, 4: 0, 2: 1, 3: 1}

    def test_isolated_seed_distance_zero(self, spark):
        edges = self._sym(spark, [(1, 2)])
        seeds = spark.createDataFrame([(99,)], "node long")
        got = {r.node: r.dist for r in khop_min_dist(edges, seeds, 2).collect()}
        assert got == {99: 0}


class TestSequentialStats:
    def test_ewma_fold_matches_closed_form(self, spark, sf_dir):
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_timeseries import (
            EWMA_ALPHA,
            ewma_user_value,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import load_table

        got = {r.user_id: r for r in ewma_user_value(spark, sf_dir).collect()}
        # replay one user's history in plain Python
        e = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        )
        uid = e.groupBy("user_id").count().orderBy(F.desc("count")).first().user_id
        hist = [
            r.value
            for r in e.filter(F.col("user_id") == uid)
            .orderBy("ts", "event_id")
            .collect()
        ]
        acc = hist[0]
        for x in hist[1:]:
            acc = acc * (1 - EWMA_ALPHA) + EWMA_ALPHA * x
        assert got[uid].n_events == len(hist)
        assert got[uid].ewma == pytest.approx(round(acc, 6), abs=1e-6)

    def test_cusum_zero_on_constant_series(self, spark, tmp_path):
        # constant daily counts -> every cusum partial sum is 0; the
        # argmax must break ties to the EARLIEST day
        import pandas as pd

        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_timeseries import (
            cusum_changepoint,
        )

        days = pd.date_range("2024-01-01", periods=5, freq="D")
        pdf = pd.DataFrame(
            {
                "o_orderkey": range(10),
                "o_custkey": [1] * 10,
                "o_orderstatus": ["F"] * 10,
                "o_totalprice": [100.0] * 10,
                "o_orderdate": list(days) * 2,
                "o_orderpriority": ["1-URGENT"] * 10,
            }
        )
        d = tmp_path / "const_sf"
        spark.createDataFrame(pdf).write.parquet(f"{d}/orders.parquet")
        row = cusum_changepoint(spark, str(d)).collect()[0]
        assert row.max_abs_cusum == 0.0
        assert str(row.changepoint_day) == "2024-01-01"
        assert row.n_days == 5
        assert row.daily_mean == 2.0


class TestKmvSketch:
    def test_estimate_within_kmv_error_bound(self, spark, sf_dir):
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_sketch import (
            KMV_K,
            kmv_distinct_users,
        )

        rows = kmv_distinct_users(spark, sf_dir).collect()
        assert rows
        for r in rows:
            if r.distinct_users < KMV_K:
                # degenerate tier: sketch IS the exact distinct-hash count
                assert r.kmv_estimate == pytest.approx(r.distinct_users)
            else:
                # KMV standard error ~ 1/sqrt(k-2); allow 5 sigma
                assert r.rel_err <= 5.0 / math.sqrt(KMV_K - 2)


class TestPagerankStrategies:
    def test_copartition_matches_broadcast(self, spark):
        """Both physical strategies run the same recurrence — ranks must
        agree to float-accumulation tolerance on a graph where they
        take genuinely different join paths."""
        from real___time_fraud_detection_using_apache_kafka_spark.operators.graph import pagerank_fixed

        e = spark.createDataFrame(
            [(a, b) for a in range(1, 8) for b in range(1, 8) if a != b
             and (a + b) % 3 != 0],
            "src long, dst long",
        )
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct().persist()
        try:
            bc = {r.node: r.rank
                  for r in pagerank_fixed(sym, iterations=3).collect()}
            cp = {r.node: r.rank
                  for r in pagerank_fixed(
                      sym, iterations=3, strategy="copartition").collect()}
        finally:
            sym.unpersist()
        assert set(bc) == set(cp)
        for node, r in bc.items():
            assert cp[node] == pytest.approx(r, rel=1e-12)
        assert sum(bc.values()) == pytest.approx(1.0, abs=1e-9)

    def test_unknown_strategy_rejected(self, spark):
        from real___time_fraud_detection_using_apache_kafka_spark.operators.graph import pagerank_fixed

        e = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="unknown strategy"):
            pagerank_fixed(e, strategy="gossip")


class TestRound5BatchInvariants:
    """Conservation/invariance laws for the round-5 batch-2/3 queries —
    properties the DuckDB differential cannot express (it only proves
    the two engines agree, not that the semantics are right)."""

    SF = "/root/testdata/sf0.001"

    def test_attribution_credits_conserve_total_purchase_value(self, spark):
        """Each attribution model must distribute EXACTLY the total
        purchase value across channels (linear within the per-purchase
        6-dp rounding of at most 2 channel shares)."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
            load_table,
        )

        rows = QUERIES["purchase_attribution"].fn(spark, self.SF).collect()
        total = (
            load_table(spark, self.SF, "events")
            .filter(
                (F.col("event_type") == "purchase")
                & F.col("user_id").isNotNull()
                & F.col("ts").isNotNull()
                & F.col("value").isNotNull()
            )
            .agg(F.sum(F.col("value").cast("decimal(18,2)")))
            .first()[0]
        )
        n_pur = sum(r.n_first for r in rows)
        assert sum(r.credit_first for r in rows) == total
        assert sum(r.credit_last for r in rows) == total
        assert sum(r.n_last for r in rows) == n_pur
        linear = float(sum(r.credit_linear for r in rows))
        assert abs(linear - float(total)) <= n_pur * 2 * 5e-7

    def test_time_decay_credits_conserve_total_purchase_value(self, spark):
        """The decay model's shares are w_i/Σw per purchase (exact
        dyadic weights), so channel credits must also sum to the total
        purchase value within the per-purchase 6-dp share rounding."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
            load_table,
        )

        rows = QUERIES["attribution_time_decay"].fn(spark, self.SF).collect()
        total = (
            load_table(spark, self.SF, "events")
            .filter(
                (F.col("event_type") == "purchase")
                & F.col("user_id").isNotNull()
                & F.col("ts").isNotNull()
                & F.col("value").isNotNull()
            )
            .agg(F.sum(F.col("value").cast("decimal(18,2)")))
            .first()[0]
        )
        n_touches = sum(r.n_touches for r in rows if r.channel != "direct")
        got = float(sum(r.credit_decay for r in rows))
        assert abs(got - float(total)) <= n_touches * 5e-7
        # decay favors recency: the model is distinct from linear split
        assert {r.channel for r in rows} >= {"view", "click"}

    def test_rolling_active_users_bounds_and_monotone_vs_daily(self, spark):
        """7-day actives >= that day's 1-day actives, and <= the 7-day
        SUM of dailies (distinct can only dedup)."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
        from real___time_fraud_detection_using_apache_kafka_spark.sources.tables import (
            load_table,
        )

        weekly = {
            r.day: r.active_7d
            for r in QUERIES["rolling_7d_active_users"].fn(spark, self.SF).collect()
        }
        daily = {
            r.day: r.n
            for r in (
                load_table(spark, self.SF, "events")
                .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
                .groupBy(F.to_date("ts").alias("day"))
                .agg(F.count_distinct("user_id").alias("n"))
                .collect()
            )
        }
        assert set(weekly) == set(daily)
        import datetime as dt

        for day, w in weekly.items():
            assert w >= daily[day]
            window_sum = sum(
                daily.get(day - dt.timedelta(days=k), 0) for k in range(7)
            )
            assert w <= window_sum

    def test_elasticity_invariant_under_price_scaling(self, spark):
        """ln-ln OLS slope must not move when every price is scaled by a
        constant (ln shift cancels in the covariance) — the defining
        property of an elasticity."""
        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES

        base = {
            r.brand: r.elasticity
            for r in QUERIES["price_elasticity_by_brand"].fn(spark, self.SF).collect()
        }
        # rebuild the query with prices x100 via a view-level rewrite
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_stats import (
            price_elasticity_by_brand,
        )
        from real___time_fraud_detection_using_apache_kafka_spark.sources import tables

        orig = tables.load_table

        def scaled(spark_, sf_dir, name):
            df = orig(spark_, sf_dir, name)
            if name == "lineitem":
                df = df.withColumn(
                    "l_extendedprice", F.col("l_extendedprice") * 100.0
                )
            return df

        import real___time_fraud_detection_using_apache_kafka_spark.plans.queries_stats as qs

        old = qs.load_table
        qs.load_table = scaled
        try:
            scaled_r = {
                r.brand: r.elasticity
                for r in price_elasticity_by_brand(spark, self.SF).collect()
            }
        finally:
            qs.load_table = old
        assert set(base) == set(scaled_r)
        for b in base:
            # 9-dp ln quantization + 6-dp output round -> tiny slack
            assert abs(base[b] - scaled_r[b]) <= 2e-5, b


class TestCommonNeighborsCapped:
    """Degree-capped candidate tier (VERDICT r5 item 3): with the cap
    above the max degree the tiers are bit-identical; with a binding
    cap on a hub-skewed graph, scores never exceed the exact tier's
    and the hub mediates nothing."""

    def _hub_graph(self, spark):
        # two hubs (0 and 200) so hub-only pairs reach n_common = 2; a
        # clique of 1..6 plus two satellites (100, 101) attached to
        # 1..5 provide genuine low-degree common neighbors
        edges = [(0, i) for i in range(1, 40)]
        edges += [(i, 200) for i in range(10, 40)]
        edges += [(i, j) for i in range(1, 7) for j in range(i + 1, 7)]
        edges += [(i, s) for i in range(1, 6) for s in (100, 101)]
        return spark.createDataFrame(edges, "a long, b long")

    def test_capped_parity_when_cap_exceeds_max_degree(self, spark):
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_graph import (
            common_neighbors_from_edges,
        )

        edges = self._hub_graph(spark)
        exact = sorted(
            map(tuple, common_neighbors_from_edges(edges, None).collect())
        )
        capped = sorted(
            map(tuple, common_neighbors_from_edges(edges, 1000).collect())
        )
        assert exact == capped and len(exact) == 20

    def test_binding_cap_drops_hub_evidence_only(self, spark):
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_graph import (
            common_neighbors_from_edges,
        )

        edges = self._hub_graph(spark)
        exact = {
            (r.a, r.b): r.n_common
            for r in common_neighbors_from_edges(edges, None)
            .limit(1000)
            .collect()
        }
        capped = {
            (r.a, r.b): r.n_common
            for r in common_neighbors_from_edges(edges, 16).collect()
        }
        # capped scores are a subset with counts <= exact (hub terms
        # dropped, nothing added)
        for pair, n in capped.items():
            assert pair in exact and n <= exact[pair], (pair, n)
        # the hub (degree 39 > 16) mediates nothing: pairs whose ONLY
        # common neighbor set was {hub} are gone entirely — e.g.
        # (20, 21) share only node 0
        assert all(
            not ({a, b} <= set(range(10, 40))) for (a, b) in capped
        )

    def test_catalog_cap_matches_oracle_cap(self):
        """The Spark tier and the SQL oracle must state the SAME cap —
        a drifted constant would silently re-open the hub surface on
        one side only."""
        import inspect

        from real___time_fraud_detection_using_apache_kafka_spark.plans import QUERIES
        from real___time_fraud_detection_using_apache_kafka_spark.plans.queries_graph import (
            common_neighbors_capped,
        )

        assert "max_degree=16" in inspect.getsource(common_neighbors_capped)
        assert "g.d <= 16" in QUERIES["common_neighbors_capped"].oracle
