"""Pins for the package's driver-side caches and their absence.

- Router.execute caches nothing: files appended to its input directory
  and routing changes made after a first call both show on the next call;
- the demo query builders cache nothing either: a QUERIES call after
  files land in a table directory answers over the new listing, and
  dedup_ngram_jaccard leaves nothing in Spark's CacheManager that a later
  build could be served from;
- the compiled-condition cache stays under its cap;
- no package module gates a cache on Catalyst sameResult (it compares
  file-source relations by root path, not by file listing), and every
  module-level cache or memo is a size-capped LRU.
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


def _write_part(sf, table, part, shift=0, texts=False):
    """Write the test scale factor's ``table`` as part file ``part`` of
    the table directory under ``sf``, keys shifted by ``shift`` and, when
    ``texts`` is set, every text changed (identical texts collapse in the
    exact-dedup pre-pass)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    key = {"events": "event_id", "documents": "doc_id"}[table]
    t = pq.read_table(f"{SF}/{table}.parquet")
    t = t.set_column(t.schema.get_field_index(key), key,
                     pc.add(t[key], shift))
    if texts:
        t = t.set_column(t.schema.get_field_index("text"), "text",
                         pc.binary_join_element_wise(
                             t["text"], "appended", " "))
    d = sf / f"{table}.parquet"
    d.mkdir(parents=True, exist_ok=True)
    pq.write_table(t, str(d / f"part-{part}.parquet"))


@pytest.mark.parametrize("name, table, texts, before", [
    ("pipe_grok_typed", "events", False, None),
    ("dedup_exact", "documents", True, None),
    ("route_fanout", "events", False, None),
    ("dedup_minhash_lsh", "documents", True, "dedup_ngram_jaccard"),
])
def test_queries_see_files_appended_between_calls(
        spark, tmp_path, name, table, texts, before):
    """Each QUERIES call builds its plan over the table directory's
    current listing: after a shifted-key part file is appended, the next
    call returns what a fresh build over both parts returns."""
    sf, ref = tmp_path / "sf", tmp_path / "ref"
    _write_part(sf, table, 0)
    if before:
        Q.QUERIES[before](spark, str(sf)).count()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    n1 = Q.QUERIES[name](spark, str(sf)).count()
    _write_part(sf, table, 1, 10 ** 6, texts)
    n2 = Q.QUERIES[name](spark, str(sf)).count()
    _write_part(ref, table, 0)
    _write_part(ref, table, 1, 10 ** 6, texts)
    assert n2 == Q.QUERIES[name](spark, str(ref)).count()
    assert n2 > n1


def test_no_same_result_gate_and_every_cache_is_bounded():
    """Guard: no package source gates on sameResult, and every module
    global named like a cache or memo is an LRU."""
    import importlib
    import pathlib
    import pkgutil
    import re
    import logstash_filter_elastic_integration_spark as pkg
    from logstash_filter_elastic_integration_spark.functions.lru import LRU
    root = pathlib.Path(pkg.__file__).parent
    gated = [str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
             if "sameResult" in p.read_text()]
    unbounded = []
    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        if m.name.endswith("__main__"):
            continue
        mod = importlib.import_module(m.name)
        unbounded += [f"{m.name}.{k}" for k, v in vars(mod).items()
                      if re.match(r"_\w*(CACHE|MEMO)", k)
                      and not isinstance(v, LRU)]
    assert (gated, unbounded) == ([], [])
