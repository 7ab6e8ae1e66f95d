"""Interactive query service — the engine's equivalent of the
reference's Streamlit session surface (SURVEY.md §3 E2/E3).

The reference prepares one joined table per user session, memoizes it
(``st.session_state.df``, visualization.py:89-90), and re-runs four
parametrized analytical queries on every widget interaction
(visualization.py:241-263). This class is that lifecycle on Spark:

- ``prepare()`` builds the canonical joined fact table as ONE lazy
  Catalyst plan and ``.cache()``s it (first action materializes;
  every later interaction reads the in-memory columnar cache);
- the four ``plot*`` methods mirror the reference's plot queries,
  parametrized exactly like the widgets (as-of date, entity filters);
- ``refresh()`` mirrors the scrape button: drop the caches, rebuild.

Interactive latency at scale comes from the cache: filters/windows/aggs
over an in-memory columnar relation, never a re-scan of storage — the
upgrade over the reference, which recomputed a row-wise pandas apply
per interaction (visualization.py:186). Three rules keep each
interaction to its own work:

1. The fact is cached PARTITIONED ON THE ENTITY KEY (``o_custkey``):
   the per-customer top-1 window of plots 1 and 2 reads the cache's
   own partitioning, so no interaction shuffles the active orders.
2. Every plot result is bounded by a dimension (priorities, nations,
   one customer's orders, days × segments), so it sorts in ONE
   partition: ``.repartition(1).orderBy(...)`` instead of a global
   ``orderBy``, which costs a range-sampling job plus a range exchange.
   Never ``coalesce(1)``: it is narrow, so it would pull the whole
   upstream (plot 3's scan and filter of the cached fact) into a
   single task.
3. A parameter-free interaction (plot 4) is computed once per prepared
   fact and cached; ``refresh()`` releases it together with the fact,
   so a long-lived session holds exactly two caches.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.relational import (
    point_in_interval,
)
from technical_test_data_engineer_spark.operators.windows import top1_per_group
from technical_test_data_engineer_spark.sources.catalog import (
    collect_dict,
    collect_distinct_sorted,
)
from technical_test_data_engineer_spark.sources.parquet_source import load_table


class QueryService:
    """Session-scoped analytical surface over the star schema.

    Orders play the reference's ``arretes`` (interval facts: validity =
    [o_orderdate, o_orderdate + o_orderkey % 90 days]); customer/nation
    play ``zones``/``departements`` (dimensions).
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._prepared: DataFrame | None = None
        self._plot4: DataFrame | None = None

    # -- E2: session bootstrap -------------------------------------------

    def prepare(self) -> DataFrame:
        """The prep_data equivalent: one lazy plan, cached partitioned
        by customer (the key of the plots' top-1 window)."""
        if self._prepared is not None:
            return self._prepared
        orders = load_table(self.spark, self.sf_dir, "orders")
        cust = load_table(self.spark, self.sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_mktsegment"
        )
        nation = load_table(self.spark, self.sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
        fact = (
            orders.select(
                "o_orderkey",
                "o_custkey",
                "o_orderpriority",
                "o_totalprice",
                F.col("o_orderdate").cast("date").alias("debut"),
                F.date_add(
                    F.col("o_orderdate").cast("date"),
                    (F.col("o_orderkey") % 90).cast("int"),
                ).alias("fin"),
            )
            .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .withColumn("duration_days", F.datediff("fin", "debut") + 1)
        )
        self._prepared = fact.repartition("o_custkey").cache()
        return self._prepared

    def refresh(self) -> DataFrame:
        """The scrape-button equivalent: invalidate + rebuild."""
        for df in (self._plot4, self._prepared):
            if df is not None:
                df.unpersist()
        self._plot4 = None
        self._prepared = None
        return self.prepare()

    # -- widget helpers (S6/S7) ------------------------------------------

    def date_bounds(self) -> tuple[dt.date, dt.date]:
        row = self.prepare().agg(F.min("debut"), F.max("fin")).collect()[0]
        return row[0], row[1]

    def priority_legend(self) -> dict:
        df = (
            self.prepare()
            .groupBy("o_orderpriority")
            .count()
            .orderBy("o_orderpriority")
        )
        return collect_dict(df, "o_orderpriority", "count")

    def nation_options(self) -> list[str]:
        return collect_distinct_sorted(self.prepare(), "n_name")

    # -- E3: the four plot queries ---------------------------------------

    def plot1_priority_histogram(self, day: dt.date) -> DataFrame:
        """Plot 1 (visualization.py:100-113): entities per alert level at
        a date → customers per top priority among their active orders."""
        active = point_in_interval(self.prepare(), day, "debut", "fin")
        top = top1_per_group(
            active,
            ["o_custkey"],
            [F.asc("o_orderpriority"), F.desc("o_orderkey")],
        )
        return (
            top.groupBy("o_orderpriority")
            .agg(F.count("*").alias("nb_customers"))
            .repartition(1)
            .orderBy(F.desc("nb_customers"), "o_orderpriority")
        )

    def plot2_nation_breakdown(
        self, day: dt.date, nations: list[str] | None = None
    ) -> DataFrame:
        """Plot 2 (visualization.py:123-165): per-région alert map →
        per-nation top-priority breakdown with IN-list selection, keeping
        empty nations at 0 / ``'none'`` (fillna equivalent). The nation
        list is unioned in and folded in the sort's single partition
        instead of left-joined, so an interaction builds no broadcast."""
        nation = load_table(self.spark, self.sf_dir, "nation").select(
            F.col("n_name").alias("nation"),
            F.lit(0).cast("bigint").alias("nb_customers"),
            F.lit(None).cast("string").alias("top_priority"),
        )
        active = point_in_interval(self.prepare(), day, "debut", "fin")
        if nations:
            active = active.filter(F.col("n_name").isin(nations))
        top = top1_per_group(
            active,
            ["o_custkey"],
            [F.asc("o_orderpriority"), F.desc("o_orderkey")],
        )
        per_nation = top.groupBy(F.col("n_name").alias("nation")).agg(
            F.count("*").alias("nb_customers"),
            F.min("o_orderpriority").alias("top_priority"),
        )
        return (
            nation.unionByName(per_nation)
            .repartition(1)
            .groupBy("nation")
            .agg(
                F.sum("nb_customers").alias("nb_customers"),
                F.coalesce(F.min("top_priority"), F.lit("none")).alias(
                    "top_priority"
                ),
            )
            .orderBy("nation")
        )

    def plot3_entity_gantt(self, custkey: int) -> DataFrame:
        """Plot 3 (visualization.py:169-182): one entity's interval
        history (equality filter + duration projection)."""
        return (
            self.prepare()
            .filter(F.col("o_custkey") == custkey)
            .select("o_orderkey", "debut", "fin", "duration_days", "o_orderpriority")
            .repartition(1)
            .orderBy("debut", "o_orderkey")
        )

    def plot4_daily_series(self) -> DataFrame:
        """Plot 4 (visualization.py:184-202): daily aggregate series via
        the delta/prefix-sum plan (see plans/star_queries.flagship) —
        active order count per day per segment. It takes no parameters,
        so it is computed once per prepared fact and cached: every call
        until ``refresh()`` returns the same DataFrame."""
        from pyspark.sql.window import Window

        if self._plot4 is not None:
            return self._plot4
        fact = self.prepare()
        deltas = (
            fact.select(
                "c_mktsegment",
                F.explode(
                    F.array(
                        F.struct(
                            F.col("debut").alias("day"),
                            F.lit(1).cast("bigint").alias("dn"),
                        ),
                        F.struct(
                            F.date_add("fin", 1).alias("day"),
                            F.lit(-1).cast("bigint").alias("dn"),
                        ),
                    )
                ).alias("_d"),
            )
            .select("c_mktsegment", "_d.day", "_d.dn")
            .groupBy("day", "c_mktsegment")
            .agg(F.sum("dn").alias("dn"))
        )
        wcum = (
            Window.partitionBy("c_mktsegment")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wlead = Window.partitionBy("c_mktsegment").orderBy("day")
        seg = deltas.select(
            "day",
            "c_mktsegment",
            F.sum("dn").over(wcum).alias("n_active"),
            F.lead("day").over(wlead).alias("_next"),
        )
        self._plot4 = (
            seg.filter(F.col("n_active") > 0)
            .select(
                F.explode(
                    F.sequence(
                        "day",
                        F.date_sub(F.coalesce("_next", F.date_add("day", 1)), 1),
                        F.expr("interval 1 day"),
                    )
                ).alias("day"),
                "c_mktsegment",
                "n_active",
            )
            .repartition(1)
            .orderBy("day", "c_mktsegment")
            .cache()
        )
        return self._plot4
