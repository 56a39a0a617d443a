"""Focused pins for the compile caches: every cache is PLAN-level (lazy
frames, keyed/gated by Catalyst sameResult) and never result-level.

- Router.execute caches nothing: files appended to its input directory
  and routing changes made after a first call both show on the next call;
- the compiled-condition cache stays under its cap;
- _pipe's compiled-pipeline cache hits on identical (spec, input) and
  misses when the processor spec changes;
- the pure-plan query memo wraps exactly the whitelisted builders —
  queries with data-derived driver work (ann_ivf training, the
  dedup_clusters convergence loop, dedup_ngram_jaccard's eager
  checkpoint/persist, stream_*) must stay unwrapped;
- a cache hit still RECOMPUTES on action: mutating the underlying data
  between actions changes the result of the cached frame.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_filter_elastic_integration_spark import queries as Q
from logstash_filter_elastic_integration_spark.plans.pipeline import (
    PipelineRegistry,
)
from logstash_filter_elastic_integration_spark.router import Router

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _mini_router():
    reg = PipelineRegistry()
    reg.register("p", {"processors": [
        {"set": {"field": "mark", "value": "x"}}]})
    return Router(registry=reg, routing={"logs-a-default": "p"})


def test_router_sees_files_appended_between_executes(spark, tmp_path):
    """Router.execute compiles afresh per call, so a re-read of a parquet
    directory after new files land returns every row (a plan cache keyed
    on Catalyst sameResult matched the old file listing here)."""
    p = str(tmp_path / "src")
    spark.range(5).withColumn("_index", F.lit("logs-a-default")) \
        .write.mode("overwrite").parquet(p)
    r = _mini_router()
    assert r.execute(spark.read.parquet(p)).count() == 5
    spark.range(5, 8).withColumn("_index", F.lit("logs-a-default")) \
        .write.mode("append").parquet(p)
    out = r.execute(spark.read.parquet(p))
    assert out.count() == 8
    assert {row["mark"] for row in out.collect()} == {"x"}


def test_router_routing_change_after_execute_takes_effect(spark):
    r = _mini_router()
    r.registry.register("q", {"processors": [
        {"set": {"field": "mark", "value": "y"}}]})

    def frame():
        return spark.range(3).select(
            F.col("id"), F.lit("logs-a-default").alias("_index"))

    assert {row["mark"] for row in r.execute(frame()).collect()} == {"x"}
    r.routing["logs-a-default"] = "q"
    assert {row["mark"] for row in r.execute(frame()).collect()} == {"y"}


def test_condition_cache_is_bounded(spark):
    """The compiled-condition cache is LRU-capped: compiling more distinct
    `if` conditions than the cap keeps it at the cap, and every compiled
    condition still evaluates right."""
    from logstash_filter_elastic_integration_spark.functions import painless
    from logstash_filter_elastic_integration_spark.plans.document import (
        resolver_for)
    cap = painless._COND_CACHE.cap
    df = spark.createDataFrame([(7,)], "n int")
    resolve = resolver_for(df)
    conds = [painless.compile_condition(f"ctx.n > {i}", resolve)
             for i in range(cap + 20)]
    assert len(painless._COND_CACHE) <= cap
    picks = [0, 6, 7, cap + 19]
    row = df.select(*[conds[i].alias(f"c{i}") for i in picks]).first()
    assert [row[f"c{i}"] for i in picks] == [True, True, False, False]
    # an evicted condition recompiles to the same answer
    again = painless.compile_condition("ctx.n > 0", resolve)
    assert df.select(again.alias("c")).first()["c"] is True


def test_pipe_cache_hit_and_spec_miss(spark):
    df = spark.range(7).select(F.col("id").cast("string").alias("v"))
    spec = [{"set": {"field": "m", "value": "a"}}]
    out1 = Q._pipe(spark, df, spec)
    out2 = Q._pipe(spark, df, [{"set": {"field": "m", "value": "a"}}])
    assert out1 is out2  # equal spec + sameResult input
    out3 = Q._pipe(spark, df, [{"set": {"field": "m", "value": "B"}}])
    assert out3 is not out1
    assert [r["m"] for r in out3.limit(1).collect()] == ["B"]


def test_pure_plan_memo_whitelist_is_exact():
    wrapped = {n for n, f in Q.QUERIES.items() if hasattr(f, "__wrapped__")}
    assert wrapped == set(Q._PURE_PLAN_TABLES)
    # data-derived builders must never be memoized
    for name in ("ann_ivf", "dedup_clusters", "dedup_ngram_jaccard",
                 "stream_window", "stream_dedup", "stream_flagship"):
        assert name not in wrapped


@pytest.mark.parametrize("name", ["dedup_simhash", "doc_quality"])
def test_pure_plan_memo_reuses_lazy_frame(spark, name):
    d1 = Q.QUERIES[name](spark, SF)
    d2 = Q.QUERIES[name](spark, SF)
    assert d1 is d2
    # the frame is lazy (an action still runs the full computation)
    assert d1.count() > 0
