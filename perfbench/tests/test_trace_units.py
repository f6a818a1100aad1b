"""Pin the units of the SQL metrics the per-layer numbers are built
from: pythonTotalTime and pythonBootTime in ms, shuffleWriteTime in ns,
peakMemory in bytes. Each is checked by its declared type and by
magnitude."""

import time

import pandas as pd
from pyspark.sql import functions as F

from spans import PlanTotals, _metrics, _seq

SLEEP_S = 0.25
IDLE_S = 2.0


def _nodes(plan):
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _nodes(plan.finalPhysicalPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _nodes(plan.plan())
        return
    yield plan
    for c in _seq(plan.children()):
        yield from _nodes(c)


def _metric(plan, node_prefix, name):
    for n in _nodes(plan):
        if n.nodeName().startswith(node_prefix):
            m = n.metrics().get(name)
            if m.isDefined():
                return m.get()
    raise AssertionError(f"{node_prefix}.{name} not in plan")


def test_python_total_time_is_milliseconds(spark):
    @F.pandas_udf("long")
    def slow(x: pd.Series) -> pd.Series:
        time.sleep(SLEEP_S)
        return x

    df = spark.range(0, 10, 1, 1).select(slow("id").alias("y"))
    df.collect()
    m = _metric(df._jdf.queryExecution().executedPlan(), "ArrowEvalPython",
                "pythonTotalTime")
    assert m.metricType() == "timing"
    assert SLEEP_S * 1e3 <= m.value() < SLEEP_S * 1e3 * 100


def test_shuffle_write_time_is_ns_and_peak_memory_is_bytes(spark):
    df = (spark.range(0, 200_000, 1, 2).select((F.col("id") % 1000).alias("k"), "id")
          .groupBy("k").agg(F.sum("id").alias("s")))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    w = _metric(plan, "Exchange", "shuffleWriteTime")
    assert w.metricType() == "nsTiming"
    assert w.value() > 10_000  # a real shuffle write takes > 10 us
    p = _metric(plan, "HashAggregate", "peakMemory")
    assert p.metricType() == "size"
    assert p.value() >= 64 * 1024  # at least one memory page, in bytes
    totals = PlanTotals({})
    totals.walk_execution(df._jdf.queryExecution())
    assert totals.sums["shuffle_write_ns"] == sum(
        _metrics(n).get("shuffleWriteTime", 0.0) for n in _nodes(plan)
        if n.nodeName() == "Exchange")


def test_python_boot_time_is_ms_and_init_time_counts_idle_workers(spark):
    @F.pandas_udf("long")
    def ident(x: pd.Series) -> pd.Series:
        return x

    def collect():
        df = spark.range(0, 100, 1, 2).select(ident("id").alias("y"))
        t0 = time.perf_counter()
        df.collect()
        return df, time.perf_counter() - t0

    collect()  # the workers now exist and are idle
    time.sleep(IDLE_S)
    df, wall = collect()
    plan = df._jdf.queryExecution().executedPlan()
    boot = _metric(plan, "ArrowEvalPython", "pythonBootTime")
    init = _metric(plan, "ArrowEvalPython", "pythonInitTime")
    assert boot.metricType() == "timing" and init.metricType() == "timing"
    totals = PlanTotals({})
    totals.walk_execution(df._jdf.queryExecution())
    boot_ms = sum(v["boot_ms"] for v in totals.python.values())
    cores = spark.sparkContext.defaultParallelism
    # what session.python_init_s sums fits in the tasks' slot time
    assert 0 <= boot_ms <= cores * wall * 1e3
    # why pythonInitTime is left out: a reused worker's idle time is in it
    assert init.value() >= IDLE_S * 1e3 > cores * wall * 1e3
