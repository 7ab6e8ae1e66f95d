"""QueryService — the reference's interactive session surface (E2/E3):
prepare-once caching, widget helpers, the four parametrized plot
queries, refresh invalidation, and the plan shapes that keep each
interaction to its own work."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.service import QueryService

DAY = dt.date(1997, 6, 15)


def _svc(spark, sf_dir):
    return QueryService(spark, sf_dir)


@pytest.fixture(autouse=True)
def _release_caches(spark):
    """Each test builds its own QueryService: drop its caches so they do
    not pile up in the shared session."""
    yield
    spark.catalog.clearCache()


def _plots(svc):
    some_cust = svc.prepare().select("o_custkey").first()[0]
    return {
        "plot1": svc.plot1_priority_histogram(DAY),
        "plot2": svc.plot2_nation_breakdown(DAY, svc.nation_options()[:2]),
        "plot3": svc.plot3_entity_gantt(some_cust),
        "plot4": svc.plot4_daily_series(),
    }


def test_prepare_is_cached_and_stable(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    df1 = svc.prepare()
    df2 = svc.prepare()
    assert df1 is df2  # memoized, like st.session_state.df
    assert df1.storageLevel.useMemory
    n = df1.count()
    assert n > 0
    svc.refresh()
    assert svc.prepare().count() == n


def test_widget_helpers(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    lo, hi = svc.date_bounds()
    assert lo <= hi
    legend = svc.priority_legend()
    assert sum(legend.values()) == svc.prepare().count()
    nations = svc.nation_options()
    assert nations == sorted(nations) and len(nations) > 0


def test_plot1_counts_each_customer_once(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    out = svc.plot1_priority_histogram(DAY)
    total = sum(r["nb_customers"] for r in out.collect())
    active_customers = (
        svc.prepare()
        .filter((F.col("debut") <= F.lit(DAY)) & (F.lit(DAY) <= F.col("fin")))
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert total == active_customers


def test_plot2_keeps_all_nations(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    out = svc.plot2_nation_breakdown(DAY).collect()
    assert len(out) == len(svc.nation_options())
    assert all(r["nb_customers"] >= 0 for r in out)
    # IN-list narrowing
    pick = svc.nation_options()[:2]
    narrowed = svc.plot2_nation_breakdown(DAY, nations=pick)
    active = {r["nation"] for r in narrowed.collect() if r["nb_customers"] > 0}
    assert active <= set(pick)


def test_plot2_matches_left_join_reference(spark, sf_dir, plan_nodes):
    """The union fold equals the reference's left join + fillna over
    the nation list, and builds no broadcast per interaction."""
    from technical_test_data_engineer_spark.operators.windows import top1_per_group
    from technical_test_data_engineer_spark.sources.parquet_source import load_table

    svc = _svc(spark, sf_dir)
    pick = svc.nation_options()[:3]
    active = svc.prepare().filter(
        (F.col("debut") <= F.lit(DAY))
        & (F.lit(DAY) <= F.col("fin"))
        & F.col("n_name").isin(pick)
    )
    top = top1_per_group(
        active, ["o_custkey"], [F.asc("o_orderpriority"), F.desc("o_orderkey")]
    )
    per_nation = top.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("nb_customers"),
        F.min("o_orderpriority").alias("top_priority"),
    )
    want = (
        load_table(spark, sf_dir, "nation")
        .select(F.col("n_name").alias("nation"))
        .join(per_nation, "nation", "left")
        .fillna({"nb_customers": 0, "top_priority": "none"})
        .orderBy("nation")
        .collect()
    )
    got = svc.plot2_nation_breakdown(DAY, nations=pick)
    assert got.collect() == want
    assert plan_nodes(got, "executed")["BroadcastExchangeExec"] == 0


def test_plot3_single_entity(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    some_cust = svc.prepare().select("o_custkey").first()[0]
    rows = svc.plot3_entity_gantt(some_cust).collect()
    assert rows
    assert all(r["duration_days"] >= 1 for r in rows)


def test_plot4_matches_pointwise_count(spark, sf_dir):
    """The delta/prefix-sum series at a sampled day must equal a direct
    interval-containment count for that day."""
    svc = _svc(spark, sf_dir)
    series = svc.plot4_daily_series()
    got = {
        r["c_mktsegment"]: r["n_active"]
        for r in series.filter(F.col("day") == F.lit(DAY)).collect()
    }
    direct = {
        r["c_mktsegment"]: r["n"]
        for r in svc.prepare()
        .filter((F.col("debut") <= F.lit(DAY)) & (F.lit(DAY) <= F.col("fin")))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == direct


def test_plots_sort_in_one_partition(spark, sf_dir, plan_nodes):
    """Every plot result is dimension-bounded: it sorts after a
    single-partition exchange, never through a range-sampled global
    sort."""
    svc = _svc(spark, sf_dir)
    for name, df in _plots(svc).items():
        assert plan_nodes(df, "executed")["RangePartitioning"] == 0, name


def test_top1_window_reads_cache_partitioning(spark, sf_dir, plan_nodes):
    """The fact is cached hash-partitioned by customer, so the top-1
    window adds no exchange: only the per-priority/per-nation
    aggregate and the single-partition sort shuffle."""
    svc = _svc(spark, sf_dir)
    plots = _plots(svc)
    for name in ("plot1", "plot2"):
        assert plan_nodes(plots[name], "executed")["ShuffleExchangeExec"] == 2, name


def test_plot4_is_computed_once(spark, sf_dir, plan_nodes):
    svc = _svc(spark, sf_dir)
    first = svc.plot4_daily_series()
    assert svc.plot4_daily_series() is first
    assert first.storageLevel.useMemory
    assert plan_nodes(first, "executed")["ShuffleExchangeExec"] == 0


def test_refresh_releases_plot4_with_the_fact(spark, sf_dir):
    """A refresh swaps the session's caches instead of adding to them,
    and the rebuilt series is the same."""
    svc = _svc(spark, sf_dir)
    jsc = spark.sparkContext._jsc
    svc.prepare().count()
    before = svc.plot4_daily_series().collect()
    n_cached = jsc.getPersistentRDDs().size()
    svc.refresh()
    after = svc.plot4_daily_series().collect()
    assert jsc.getPersistentRDDs().size() == n_cached
    assert after == before
