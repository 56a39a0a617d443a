"""Compiling a pipeline runs no Spark job.

Lookup dims are driver-local rows (``LocalDim``), so a compile — a fresh
registry's ``Router.execute``, a facade's ``filter``, a geoip database
directory, the enrich demo queries' builds — only builds a plan.  The reference likewise loads its lookup
databases once, at startup, and never queries a cluster to compile.
Jobs are counted per call with a job group and the status tracker."""

import os
import uuid

import pytest
from pyspark.sql import functions as F
from test_plan_cache import SF

from logstash_filter_elastic_integration_spark import flagship, queries
from logstash_filter_elastic_integration_spark.engine import SparkIngestFilter
from logstash_filter_elastic_integration_spark.sources.datagen import (
    tool_dim, transcripts)
from logstash_filter_elastic_integration_spark.sources.mmdb import write_mmdb


def _jobs(spark, fn):
    """(fn's result, ids of the Spark jobs started while it ran)."""
    sc = spark.sparkContext
    group = f"compile-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "compile")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_registry_flagship_execute_runs_no_job(spark):
    df = flagship.with_datastream(transcripts(spark, 500))
    out, jobs = _jobs(spark, lambda: flagship.build_router(spark).execute(df))
    assert jobs == []
    assert out.count() == 500


def test_facade_filter_over_example_pipelines_runs_no_job(spark):
    frame = (transcripts(spark, 200)
             .withColumn("ua", F.lit("curl/8.4.0"))
             .withColumn("data_stream.type", F.lit("logs"))
             .withColumn("data_stream.dataset", F.lit("web.access"))
             .withColumn("data_stream.namespace", F.lit("default")))
    pipelines = os.path.join(os.path.dirname(__file__), "..", "examples",
                             "pipelines")
    out, jobs = _jobs(spark, lambda: SparkIngestFilter(
        pipelines=pipelines, dims={"tool_dim": tool_dim(spark)},
        routing={"logs-web.access-default": "logs-web",
                 "logs-web.tools-*": "logs-tools"}).filter(frame))
    assert jobs == []
    assert out.count() == 200


def test_geoip_database_directory_facade_runs_no_job(spark, tmp_path):
    write_mmdb(str(tmp_path / "GeoDir.mmdb"), [
        ("8.8.8.0/24", {"country": {"iso_code": "US"}}),
        ("10.0.0.0/8", {"net": "corp"})])
    df = spark.createDataFrame([("8.8.8.8",), ("10.1.1.1",)], "ip string")
    out, jobs = _jobs(spark, lambda: SparkIngestFilter(
        pipelines={"p": {"processors": [
            {"geoip": {"field": "ip", "database_file": "GeoDir.mmdb",
                       "target_field": "geo"}}]}},
        pipeline_name="p",
        geoip_database_directory=str(tmp_path)).filter(df))
    assert jobs == []
    by = {r["ip"]: r for r in out.collect()}
    assert by["8.8.8.8"]["geo.country_iso_code"] == "US"
    assert by["10.1.1.1"]["geo.net"] == "corp"


@pytest.mark.parametrize("name", ["enrich_lookup", "enrich_geoip_range"])
def test_enrich_demo_query_build_runs_no_job(spark, monkeypatch, name):
    """The lookup dims of the enrich demo queries are ``LocalDim``s.  The
    table is loaded first: ``spark.read.parquet`` reads its footer schema
    in a job of its own, before any pipeline is compiled."""
    events = queries.load(spark, SF, "events")
    monkeypatch.setattr(queries, "load", lambda *_: events)
    out, jobs = _jobs(spark, lambda: queries.QUERIES[name](spark, SF))
    assert jobs == []
    assert out.count() > 0
