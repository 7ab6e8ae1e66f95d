"""The measurement core the Spark tools share (observe.py)."""

from __future__ import annotations

import time

from technical_test_data_engineer_spark.observe import release, run_once, warm


def test_run_once_releases_persists_and_local_checkpoints(spark, sf_dir):
    # release frees every persistent RDD in the session, including any
    # an earlier test left behind: start from a released session
    release(spark)
    jsc = spark.sparkContext._jsc
    n0 = jsc.getPersistentRDDs().size()
    held = []

    def fn(spark, sf_dir):
        cached = spark.range(200).persist()
        cached.count()
        checkpointed = spark.range(100).localCheckpoint()
        held.append(jsc.getPersistentRDDs().size())
        return cached.join(checkpointed, "id")

    build, total, jobs = run_once(spark, fn, sf_dir)
    assert held[0] >= n0 + 2, (n0, held)
    assert jsc.getPersistentRDDs().size() == n0
    assert 0 <= build <= total
    # the count, the checkpoint and the noop write each run a job
    assert jobs >= 3, jobs


def test_warm_completes(spark):
    # warm() imports and runs one operator of every burned-in family:
    # a renamed or deleted operator fails here, not in a bench run
    t0 = time.time()
    warm(spark, 4)
    print(f"warm(spark, 4): {time.time() - t0:.1f} s")
