from __future__ import annotations

import itertools

import pytest

from datafusion_python_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_ctx():
    from datafusion_python_spark import SessionContext

    return SessionContext()


_group_ids = itertools.count()


def build_jobs(spark, build) -> tuple[int, object]:
    """(jobs run by ``build()``, its result), counted under a fresh job
    group after the listener bus has drained."""
    sc = spark.sparkContext
    gid = f"plan-build-{next(_group_ids)}"
    sc.setJobGroup(gid, gid)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid)), out


def plan_tree(plan: str) -> str:
    """The operator-tree section of a formatted explain (stops before
    the per-node detail section, whose text repeats operator names)."""
    return plan.split("\n\n(1)", 1)[0]


def count_executed_shuffles(df) -> int:
    """ShuffleExchangeExec count in the EXECUTED plan (call after an
    action) — walks AQE's final plan and materialized query stages the
    same way tools/shuffle_audit.py does, counting reused exchanges
    once."""

    def walk(node, seen: set) -> int:
        if node.id() in seen:
            return 0
        seen.add(node.id())
        cls = node.getClass().getSimpleName()
        n = 1 if cls == "ShuffleExchangeExec" else 0
        if cls == "AdaptiveSparkPlanExec":
            return n + walk(node.executedPlan(), seen)
        if cls.endswith("QueryStageExec"):
            return n + walk(node.plan(), seen)
        if cls == "ReusedExchangeExec":
            return n
        it = node.children().iterator()
        while it.hasNext():
            n += walk(it.next(), seen)
        return n

    return walk(df._jdf.queryExecution().executedPlan(), set())
