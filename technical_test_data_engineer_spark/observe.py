"""Measurement core of the Spark tools (bench.py, bench_solo.py,
bench_ab.py, capture_plan.py, audit_scans.py, verify_local.py): one
untimed warm-up, one release between queries, one timed run and one
per-table scan count, so every tool measures and isolates queries the
same way. No query plan, operator or ``service.py`` imports this
module.
"""

from __future__ import annotations

import re
import time
import uuid
from collections import Counter

from pyspark.sql import DataFrame

# a parquet scan's file index in the formatted plan, capturing the table
_SCAN = re.compile(
    r"InMemoryFileIndex\s*(?:\(\d+ paths\))?\s*\[[^\]]*?/(\w+)\.parquet"
)


def _noop(df: DataFrame) -> None:
    # noop write: evaluates every column of every row JVM-side with zero
    # sink cost — count() would column-prune the query body
    df.write.format("noop").mode("overwrite").save()


def warm(spark, cpus: int) -> None:
    """Burn in the session's one-time costs outside any timed region, so
    a timed query measures its steady-state plan cost instead of paying
    for whichever code shape it happened to reach first: Python worker
    spawn, and the HotSpot warm-up of every expression family Catalyst
    evaluates outside whole-stage codegen. Every new non-codegen family
    a query migrates to gets its burn-in here, in the same change."""
    import random

    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from technical_test_data_engineer_spark.operators.dedup import (
        band_table,
        simhash_packed,
    )
    from technical_test_data_engineer_spark.operators.similarity import (
        exact_dot,
        int_scaled_dot,
        ivf_assignment_udf,
        ivfpq_encode_udf,
        pq_encode_udf,
    )
    from technical_test_data_engineer_spark.operators.windows import (
        grouped_ewma,
    )

    # one Python worker per core spawns on first pandas_udf use
    identity = pandas_udf(lambda s: s, "long")
    spark.range(cpus * 4).repartition(cpus).select(identity("id")).count()
    # Higher-order functions (aggregate / zip_with / transform) run
    # outside whole-stage codegen, so the decimal-exact dot fold runs on
    # BigDecimal paths HotSpot only optimizes after ~10⁴ invocations:
    # the first query to push real volume through it paid 10-20 s
    # (embedding_near_dups_lsh_exact 21.6 s cold vs 2.6 s warm, same
    # plan). The integer-scaled fold (zip_with round-to-BIGINT sum) is a
    # distinct shape (knn_bruteforce: 7.4 s cold vs 1.1 s warm at sf0.1).
    rng = random.Random(0)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(160)],
        "vec_id long, embedding array<float>",
    )
    for dot in (exact_dot, int_scaled_dot):
        _noop(
            vecs.crossJoin(vecs.selectExpr("embedding AS _e2")).select(
                dot(F.col("embedding"), F.col("_e2")).alias("d")
            )
        )
    # the MinHash (both hash families) and SimHash signature pipelines
    docs = spark.createDataFrame(
        [(i, f"warm {i} " + " ".join(f"w{j}" for j in range(40)))
         for i in range(200)],
        "doc_id long, text string",
    )
    for portable in (False, True):
        _noop(band_table(docs, portable=portable))
    _noop(docs.select(simhash_packed("text").alias("_s")))
    # the numpy-backed pandas-UDF families (IVF assignment, PQ/IVF-PQ
    # encode): their first use pays a per-worker numpy import plus Arrow
    # setup. Spread across all workers.
    cents = [[1.0 if j == i else 0.0 for j in range(64)] for i in range(4)]
    books = np.zeros((8, 4, 8))
    spread = vecs.repartition(cpus)
    _noop(spread.select(ivf_assignment_udf(cents)("embedding")))
    _noop(spread.select(pq_encode_udf(books)("embedding")))
    _noop(spread.select(ivfpq_encode_udf(cents, books)("embedding")))
    # the array-of-struct HOF family (transform over suffix slices +
    # flatten + explode: the basket-pair generator)
    bask = spark.range(512).selectExpr(
        "id % 64 AS g", "CAST(id AS LONG) AS v"
    ).groupBy("g").agg(F.array_sort(F.collect_set("v")).alias("items"))
    pairs = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    _noop(bask.select(F.explode(pairs)))
    # the grouped-map path
    _noop(
        grouped_ewma(
            spark.createDataFrame(
                [(i % 8, i, float(i)) for i in range(64)],
                "k long, t long, v double",
            ),
            ["k"], ["t"], "v", alpha=0.5,
        )
    )
    # the interpolated-percentile ImperativeAggregate: one grouped and
    # one global percentile (daily_revenue_repeated_median's residual
    # driver gap was this family's JIT, not its plan)
    pct = spark.range(200_000).selectExpr(
        "id % 512 AS g", "CAST(id AS DOUBLE) / 7.0 AS v"
    )
    _noop(
        pct.groupBy("g")
        .agg(F.percentile("v", F.lit(0.5)).alias("m"))
        .agg(F.percentile("m", F.lit(0.5)).alias("mm"))
    )


def release(spark) -> None:
    """Free everything a query persisted, so the next one runs in
    isolation: clearCache frees DataFrame persists but NOT
    localCheckpoint RDDs (iterative operators), so every persistent RDD
    is unpersisted too; then nudge the JVM to collect, or heap pressure
    from earlier queries taxes later ones."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark._jvm.System.gc()


def run_once(spark, fn, sf_dir: str) -> tuple[float, float, int]:
    """Build ``fn(spark, sf_dir)``, materialize every column through the
    noop sink, then ``release``. Returns ``(build_s, total_s, jobs)``:
    construction seconds (Python, analysis, eager driver jobs), seconds
    from the build's start until the write returns, and the Spark jobs
    both ran. The job count and the release are outside the timed
    region."""
    sc = spark.sparkContext
    group = f"observe.run_once:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        _noop(df)
        t2 = time.time()
    finally:
        sc._jsc.clearJobGroup()
    # job starts reach the status tracker through the asynchronous
    # listener bus: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    release(spark)
    return t1 - t0, t2 - t0, jobs


def formatted_plan(df: DataFrame) -> str:
    """``df.explain('formatted')`` as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def scan_counts(df: DataFrame) -> Counter:
    """Parquet scans per table in ``df``'s formatted plan. A persisted
    frame's definition prints once per reference, so a count can exceed
    the scans that run."""
    return Counter(_SCAN.findall(formatted_plan(df)))
