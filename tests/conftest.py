from __future__ import annotations

import json
from collections import Counter

import pytest
from pyspark.sql import DataFrame

from technical_test_data_engineer_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _count_classes(node, counts: Counter) -> None:
    if isinstance(node, list):
        for v in node:
            _count_classes(v, counts)
    elif isinstance(node, dict):
        cls = node.get("class", "")
        if cls:
            counts[cls.rsplit(".", 1)[-1]] += 1
        for k, v in node.items():
            # an InMemoryRelation serializes its cached physical plan
            # (more than once under AQE) — its nodes are not this plan's
            if k != "cacheBuilder":
                _count_classes(v, counts)


@pytest.fixture(scope="session")
def plan_nodes():
    """``plan_nodes(df, phase="optimized")`` →
    Counter of plan and expression node classes (simple names, e.g.
    ``XxHash64``, ``Aggregate``, ``ShuffleExchangeExec``) in one phase
    (``analyzed``/``optimized``/``executed``) of ``df``'s query
    execution — or of a JVM QueryExecution, e.g. a streaming query's
    ``lastExecution()`` — read from the plan's JSON tree. THE plan-shape
    pin: it counts node types, so it survives changes to explain text."""

    def count(df, phase: str = "optimized") -> Counter:
        qe = df._jdf.queryExecution() if isinstance(df, DataFrame) else df
        plan = {
            "analyzed": qe.analyzed,
            "optimized": qe.optimizedPlan,
            "executed": qe.executedPlan,
        }[phase]()
        if plan.nodeName() == "AdaptiveSparkPlan":
            # AQE's JSON holds only its input plan, before exchanges
            # are planned: count the current physical plan instead
            plan = plan.executedPlan()
        counts: Counter = Counter()
        _count_classes(json.loads(plan.toJSON()), counts)
        return counts

    return count
