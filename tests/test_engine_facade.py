from logstash_filter_elastic_integration_spark.engine import SparkIngestFilter


def test_sprintf_template_resolution_and_none_bypass(spark):
    eng = SparkIngestFilter(
        pipelines={"svc-a": {"processors": [
            {"set": {"field": "handled", "value": "a"}}]}},
        pipeline_name="%{[service]}")
    df = spark.createDataFrame(
        [("svc-a", "x"), ("svc-b", "y"), (None, "z"), ("_none", "n")],
        "service string, payload string")
    out = {r["payload"]: r.asDict(recursive=True)
           for r in eng.filter(df).collect()}
    assert out["x"]["handled"] == "a"
    # resolved to unregistered 'svc-b' -> the original event, failed with
    # "pipeline not loaded" (EventProcessor.java:160-168)
    assert out["y"]["handled"] is None
    assert "_ingest_pipeline_failure" in (out["y"]["tags"] or [])
    assert (out["y"]["_ingest_pipeline_failure"]["message"]
            == "pipeline not loaded [svc-b]")
    # unresolved field -> skip: passes through, untagged
    assert out["z"]["handled"] is None
    assert (out["z"]["tags"] or []) == []
    # `_none` -> bypass, untagged
    assert out["n"]["handled"] is None
    assert (out["n"]["tags"] or []) == []


def test_directory_registration(spark, tmp_path):
    (tmp_path / "p1.json").write_text(
        '{"processors": [{"set": {"field": "via", "value": "dir"}}]}')
    eng = SparkIngestFilter(pipelines=str(tmp_path),
                            routing={"logs-x-default": "p1"})
    df = spark.createDataFrame([("logs-x-default",)], "_index string")
    r = eng.filter(df).collect()[0]
    assert r["via"] == "dir"
    assert r["__sink"] == "logs-x-default"


def test_cli_end_to_end(spark, tmp_path):
    """python -m logstash_filter_elastic_integration_spark — the spark-submit deployment
    surface, run as a subprocess over real data."""
    import json
    import os
    import subprocess
    import sys

    from logstash_filter_elastic_integration_spark.sources.datagen import transcripts
    src = str(tmp_path / "in")
    transcripts(spark, 500).repartition(2).write.parquet(src)
    (tmp_path / "pipes").mkdir()
    (tmp_path / "pipes" / "p1.json").write_text(
        '{"processors": [{"set": {"field": "via", "value": "cli"}}]}')
    out = subprocess.run(
        [sys.executable, "-m", "logstash_filter_elastic_integration_spark",
         "--input", src, "--pipelines", str(tmp_path / "pipes"),
         "--routing", "logs-generic-default=p1",
         "--warehouse", str(tmp_path / "wh"),
         "--run-dir", str(tmp_path / "run"), "--cores", "4"],
        capture_output=True, text=True,
        cwd=os.path.join(os.path.dirname(__file__), ".."), timeout=300)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["status"] == "ok" and res["files"] == 2, out.stderr[-500:]
    back = spark.read.parquet(str(tmp_path / "wh" / "sinks"))
    assert back.count() == 500
    assert back.filter("via = 'cli'").count() == 500


def test_painless_containskey(spark):
    from tests.conftest import run_one
    from logstash_filter_elastic_integration_spark.plans import PipelineRegistry
    out = run_one(spark, PipelineRegistry(),
                  [{"set": {"field": "has_it", "value": "yes",
                            "if": "ctx.containsKey('maybe')"}}],
                  [("v",), (None,)], "maybe string")
    by = {r["maybe"]: r for r in out}
    assert by["v"]["has_it"] == "yes"
    assert by[None]["has_it"] is None


# Dataset-creating JVM calls: each one re-analyses the whole plan, so
# their count is what a compile costs (py4j round trips besides these are
# cheap).  Counted, not timed, so the pin is deterministic on a noisy host.
_DATASET_CALLS = {"withColumn", "withColumns", "select", "drop", "join",
                  "filter"}


def test_warm_facade_compile_budget(spark, tmp_path):
    """A warm facade compile of examples/pipelines (the integration-mix
    shape: routing table, reroute hop, grok, user_agent, painless loop,
    lookup) stays within 40 Dataset-creating calls and collects nothing:
    the lookup dim is driver-local rows."""
    import os

    from pyspark.sql import functions as F

    from logstash_filter_elastic_integration_spark.sources.datagen import (
        tool_dim, transcripts)

    src = str(tmp_path / "mix")
    (transcripts(spark, 200)
     .withColumn("ua", F.lit("curl/8.4.0")).write.parquet(src))
    frame = (spark.read.parquet(src)
             .withColumn("data_stream.type", F.lit("logs"))
             .withColumn("data_stream.dataset", F.lit("web.access"))
             .withColumn("data_stream.namespace", F.lit("default")))
    pipelines = os.path.join(os.path.dirname(__file__), "..", "examples",
                             "pipelines")
    dims = {"tool_dim": tool_dim(spark)}

    def compile_once():
        return SparkIngestFilter(
            pipelines=pipelines, dims=dims,
            routing={"logs-web.access-default": "logs-web",
                     "logs-web.tools-*": "logs-tools"}).filter(frame)

    compile_once()  # cold
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    calls: list[str] = []

    def send_command(command, *a, **kw):
        parts = command.split("\n")
        if len(parts) > 2 and parts[0] == "c" and parts[1].startswith("o"):
            calls.append(parts[2])
        return orig(command, *a, **kw)

    client.send_command = send_command
    try:
        out = compile_once()
    finally:
        client.send_command = orig
    dataset = [c for c in calls if c in _DATASET_CALLS]
    assert len(dataset) <= 40, sorted(dataset)
    assert calls.count("collectToPython") == 0
    assert out.count() == 200
