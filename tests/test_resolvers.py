"""Event->pipeline-name override resolvers: sprintf templates and
field-value resolution (SprintfTemplateEventToPipelineNameResolver.java:
32-60 + its test matrix; FieldValueEventToPipelineNameResolver.java).
The override bypasses index-based routing; per row, as the reference
(EventProcessor.java:113-168): unresolvable rows pass through unmodified,
`_none` bypasses, and a name that is not loaded fails the row.

The sprintf cases run through both front doors: ``Router`` and the
``SparkIngestFilter`` facade, which must resolve identically."""

import pytest

from logstash_filter_elastic_integration_spark.engine import SparkIngestFilter
from logstash_filter_elastic_integration_spark.plans import PipelineRegistry
from logstash_filter_elastic_integration_spark.router import Router

_PIPELINES = {
    "always": {"processors": [
        {"set": {"field": "mark", "value": "always-ran"}}]},
    "this-TTHHAATT-thang": {"processors": [
        {"set": {"field": "mark", "value": "template-ran"}}]},
    "from-field": {"processors": [
        {"set": {"field": "mark", "value": "field-ran"}}]},
}


def _registry(pipelines=_PIPELINES):
    reg = PipelineRegistry()
    for name, definition in pipelines.items():
        reg.register(name, definition)
    return reg


def _via_router(template, pipelines=_PIPELINES, routing=None):
    return Router(_registry(pipelines), routing or {},
                  pipeline_name=template).execute


def _via_facade(template, pipelines=_PIPELINES, routing=None):
    return SparkIngestFilter(pipelines=pipelines, routing=routing,
                             pipeline_name=template).filter


@pytest.fixture(params=[_via_router, _via_facade], ids=["router", "facade"])
def front_door(request):
    """template (+ pipelines, routing) -> DataFrame transform."""
    return request.param


def test_sprintf_constant(spark, front_door):
    """from("always"): no %{ -> constant resolver."""
    df = spark.createDataFrame([("x",)], "msg string")
    rows = [r.asDict() for r in front_door("always")(df).collect()]
    assert rows[0]["mark"] == "always-ran"


def test_sprintf_fully_resolved(spark, front_door):
    """this-%{that}-%{[another][thing]} with both fields set."""
    run = front_door("this-%{that}-%{[another][thing]}")
    df = spark.createDataFrame([("TTHHAATT", "thang")],
                               "that string, `another.thing` string")
    rows = [r.asDict() for r in run(df).collect()]
    assert rows[0]["mark"] == "template-ran"


def test_sprintf_partially_resolved_passes_through(spark, front_door):
    """A template referencing a missing field resolves empty -> the event
    passes through unmodified (no pipeline, no failure)."""
    run = front_door("this-%{that}-%{[another][thing]}")
    df = spark.createDataFrame([("TTHHAATT",)], "that string")
    rows = [r.asDict() for r in run(df).collect()]
    assert rows[0].get("mark") is None
    assert (rows[0]["tags"] or []) == []


def test_sprintf_null_value_passes_through(spark, front_door):
    """A present column that is NULL on a row leaves the template
    unresolved for that row only."""
    df = spark.createDataFrame(
        [("always", "a"), (None, "b")], "p string, msg string")
    rows = {r["msg"]: r.asDict() for r in front_door("%{p}")(df).collect()}
    assert rows["a"]["mark"] == "always-ran"
    assert rows["b"].get("mark") is None


def test_sprintf_none_bypasses(spark, front_door):
    """A template resolving to `_none` bypasses every pipeline, untagged."""
    df = spark.createDataFrame(
        [("always", "a"), ("_none", "b")], "p string, msg string")
    rows = {r["msg"]: r.asDict() for r in front_door("%{p}")(df).collect()}
    assert rows["a"]["mark"] == "always-ran"
    assert rows["b"].get("mark") is None
    assert (rows["b"]["tags"] or []) == []


def test_sprintf_unloaded_name_fails_row(spark, front_door):
    """A template resolving to a name that isn't registered: the original
    event comes back tagged with "pipeline not loaded"."""
    df = spark.createDataFrame(
        [("always", "a"), ("nope", "b")], "p string, msg string")
    rows = {r["msg"]: r.asDict(recursive=True)
            for r in front_door("%{p}")(df).collect()}
    assert rows["a"]["mark"] == "always-ran"
    assert "_ingest_pipeline_failure" in (rows["b"]["tags"] or [])
    assert (rows["b"]["_ingest_pipeline_failure"]["message"]
            == "pipeline not loaded [nope]")
    assert rows["b"]["mark"] is None and rows["b"]["p"] == "nope"


def test_sprintf_reroute_runs_destination(spark, front_door):
    """A template-selected pipeline reroutes to a routed dataset: the
    destination pipeline runs on the next hop and the row's sink is the
    new index."""
    pipelines = {
        "entry": {"processors": [{"reroute": {"dataset": "dest"}}]},
        "dest-pipe": {"processors": [
            {"set": {"field": "mark", "value": "dest-ran"}}]},
    }
    run = front_door("%{p}", pipelines, {"logs-dest-default": "dest-pipe"})
    df = spark.createDataFrame([("entry",)], "p string")
    row = run(df).collect()[0].asDict()
    assert row["mark"] == "dest-ran"
    assert row["__sink"] == "logs-dest-default"


def test_field_value_resolver(spark):
    router = Router(_registry(), routing={}, pipeline_field="route_to")
    df = spark.createDataFrame(
        [("from-field", "a"), (None, "b")], "route_to string, msg string")
    rows = {r["msg"]: r.asDict() for r in router.execute(df).collect()}
    assert rows["a"]["mark"] == "field-ran"
    assert rows["b"].get("mark") is None


def test_override_resolving_to_unloaded_pipeline_fails_row(spark):
    """Override resolves to a name that isn't registered: reference emits
    the original event + 'pipeline not loaded' failure."""
    router = Router(_registry(), routing={}, pipeline_field="route_to")
    df = spark.createDataFrame([("nope-pipe", "a")],
                               "route_to string, msg string")
    rows = [r.asDict() for r in router.execute(df).collect()]
    assert "_ingest_pipeline_failure" in (rows[0]["tags"] or [])
