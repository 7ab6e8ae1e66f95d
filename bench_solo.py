"""Solo per-query bench: same session, warmups and timing protocol as
bench.py, but only the named queries. Usage:
  python bench_solo.py q1 q2 ...   [reps via SPARK_GRAFT_SOLO_REPS, default 2]
Prints per-query rep times to stderr and one JSON line to stdout.
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    reps = int(os.environ.get("SPARK_GRAFT_SOLO_REPS", "2"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from technical_test_data_engineer_spark.plans.star_queries import QUERIES
    from technical_test_data_engineer_spark.session import get_spark

    spark = get_spark(
        "bench_solo", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup block as bench.py (worker spawn + HOF families)
    from pyspark.sql.functions import pandas_udf

    identity = pandas_udf(lambda s: s, "long")
    spark.range(int(cpus) * 4).repartition(int(cpus)).select(
        identity("id")
    ).count()
    import random as _random

    from pyspark.sql import functions as F

    from technical_test_data_engineer_spark.operators.dedup import (
        band_table,
        simhash_packed,
    )
    from technical_test_data_engineer_spark.operators.similarity import (
        exact_dot,
        int_scaled_dot,
    )

    _rng = _random.Random(0)
    _vecs = spark.createDataFrame(
        [(i, [_rng.uniform(-1, 1) for _ in range(64)]) for i in range(160)],
        "vec_id long, embedding array<float>",
    )
    for fn_ in (exact_dot, int_scaled_dot):
        _vecs.crossJoin(_vecs.selectExpr("embedding AS _e2")).select(
            fn_(F.col("embedding"), F.col("_e2")).alias("d")
        ).write.format("noop").mode("overwrite").save()
    _docs = spark.createDataFrame(
        [(i, f"warm {i} " + " ".join(f"w{j}" for j in range(40)))
         for i in range(200)],
        "doc_id long, text string",
    )
    for _portable in (False, True):
        band_table(_docs, portable=_portable).write.format("noop").mode(
            "overwrite"
        ).save()
    _docs.select(simhash_packed("text").alias("_s")).write.format(
        "noop"
    ).mode("overwrite").save()
    from technical_test_data_engineer_spark.operators.linalg import (
        embedding_moments,
    )

    _sums, _cross, _ = embedding_moments(_vecs)
    _cross.write.format("noop").mode("overwrite").save()
    _sums.write.format("noop").mode("overwrite").save()
    from technical_test_data_engineer_spark.operators.similarity import (
        ivf_assignment_udf,
        ivfpq_encode_udf,
        pq_encode_udf,
    )
    import numpy as _np

    _cents = [[1.0 if j == i else 0.0 for j in range(64)] for i in range(4)]
    _books = _np.zeros((8, 4, 8))
    _vw = _vecs.repartition(int(cpus))
    _vw.select(ivf_assignment_udf(_cents)("embedding")).write.format(
        "noop"
    ).mode("overwrite").save()
    _vw.select(pq_encode_udf(_books)("embedding")).write.format(
        "noop"
    ).mode("overwrite").save()
    _vw.select(ivfpq_encode_udf(_cents, _books)("embedding")).write.format(
        "noop"
    ).mode("overwrite").save()
    _bask = spark.range(512).selectExpr(
        "id % 64 AS g", "CAST(id AS LONG) AS v"
    ).groupBy("g").agg(F.array_sort(F.collect_set("v")).alias("items"))
    _pairs = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    _bask.select(F.explode(_pairs)).write.format("noop").mode(
        "overwrite"
    ).save()
    from technical_test_data_engineer_spark.operators.windows import (
        grouped_ewma,
    )

    grouped_ewma(
        spark.createDataFrame(
            [(i % 8, i, float(i)) for i in range(64)],
            "k long, t long, v double",
        ),
        ["k"], ["t"], "v", alpha=0.5,
    ).write.format("noop").mode("overwrite").save()
    _pct = spark.range(200_000).selectExpr(
        "id % 512 AS g", "CAST(id AS DOUBLE) / 7.0 AS v"
    )
    _pct.groupBy("g").agg(
        F.percentile("v", F.lit(0.5)).alias("m")
    ).agg(F.percentile("m", F.lit(0.5)).alias("mm")).write.format(
        "noop"
    ).mode("overwrite").save()

    def _run_once(fn, name="") -> float:
        st = spark.sparkContext.statusTracker()
        jobs0 = len(st.getJobIdsForGroup(None) or [])
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        elapsed = time.time() - t0
        jobs1 = len(st.getJobIdsForGroup(None) or [])
        print(
            f"#   build {t1 - t0:.3f}s write {time.time() - t1:.3f}s"
            f" jobs {jobs1 - jobs0}",
            file=sys.stderr,
        )
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark._jvm.System.gc()
        return elapsed

    out: dict[str, list[float]] = {}
    for n in names:
        fn = QUERIES[n]
        ts = []
        for _ in range(reps):
            ts.append(round(_run_once(fn), 3))
        out[n] = ts
        print(f"# {n}: min {min(ts):.3f}  reps {ts}", file=sys.stderr)
    print(json.dumps({n: min(t) for n, t in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
