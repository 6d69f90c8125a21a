"""DataFrame pipeline layer: lazy fusion, observation metrics, retrying
actions, funnel/tee composition."""

from __future__ import annotations

from pyspark.sql import functions as F

from gasket_rs_spark.pipeline.dataframe_pipeline import DFPipeline, funnel, tee
from gasket_rs_spark.pipeline.metrics import render_prometheus
from gasket_rs_spark.pipeline.retries import RetryPolicy
from gasket_rs_spark.tables import load


def test_pipeline_composes_lazily_and_observes(spark, sf_dir):
    pipe = (
        DFPipeline()
        .stage("filter", lambda df: df.where(F.col("l_quantity") > 10), observe_rows=True)
        .stage("project", lambda df: df.select("l_orderkey", "l_quantity"))
    )
    rows = pipe.run(load(spark, sf_dir, "lineitem"))
    assert len(rows) > 0
    readings = pipe.metrics.collect_readings()
    assert readings["filter.rows"] == len(rows)
    assert readings["attempts"] == 1


def test_pipeline_single_fused_plan(spark, sf_dir):
    """Stages must fuse: no exchange between filter and project."""
    pipe = (
        DFPipeline()
        .stage("filter", lambda df: df.where(F.col("l_quantity") > 10))
        .stage("project", lambda df: df.select("l_orderkey"))
    )
    plan = pipe.build(load(spark, sf_dir, "lineitem"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow ops fused into one codegen stage


def test_pipeline_retries_action(spark, sf_dir):
    attempts = {"n": 0}

    def flaky_action(df):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return df.count()

    pipe = DFPipeline().stage("identity", lambda df: df)
    n = pipe.run(
        load(spark, sf_dir, "region"),
        action=flaky_action,
        policy=RetryPolicy(max_retries=3, backoff_unit=0.001),
    )
    assert n == 5
    assert attempts["n"] == 3


def test_funnel_and_tee(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    a, b = tee(
        events,
        lambda df: df.where(F.col("value") > 0).select("event_id"),
        lambda df: df.where(F.col("value") <= 0).select("event_id"),
    )
    merged = funnel(a, b)
    assert merged.count() == events.count()


def test_prometheus_rendering():
    text = render_prometheus({"s1": {"tick_count": 3, "rows": 10.0}})
    assert 'tick_count{stage="s1"} 3' in text
    assert 'rows{stage="s1"} 10.0' in text
