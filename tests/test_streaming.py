"""Structured Streaming: the same compiled pipeline + router driven by
readStream/foreachBatch (availableNow trigger), exactly-once via checkpoint."""

import glob
import itertools
import os

import pytest
from pyspark.sql import functions as F

from logstash_filter_elastic_integration_spark.flagship import (
    build_router, with_datastream)
from logstash_filter_elastic_integration_spark.jobs import run_batch
from logstash_filter_elastic_integration_spark.plans import PipelineRegistry
from logstash_filter_elastic_integration_spark.router import Router
from logstash_filter_elastic_integration_spark.sources.catalog import Catalog
from logstash_filter_elastic_integration_spark.sources.datagen import (
    tool_dim, transcripts)
from logstash_filter_elastic_integration_spark.streaming import stream_pipeline
from logstash_filter_elastic_integration_spark.streaming.stream import (
    PipelineReloader)


def test_stream_pipeline_availablenow(spark, tmp_path):
    src = str(tmp_path / "src")
    transcripts(spark, 1000).repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    router = build_router(spark)
    catalog = Catalog(spark, str(tmp_path / "wh"))

    class DSRouter:
        """Adds datastream columns per micro-batch before routing."""
        def execute(self, batch_df):
            return router.execute(with_datastream(batch_df))
        commit = staticmethod(router.commit)

    q = stream_pipeline(spark, src, schema, DSRouter(), catalog,
                        str(tmp_path / "ck"))
    q.awaitTermination(300)
    written = glob.glob(str(tmp_path / "wh" / "sinks_stream" / "**" / "*.parquet"),
                        recursive=True)
    assert written
    total = spark.read.parquet(*sorted({p for p in written})).count()
    assert total == 1000


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer: within-batch gaps close sessions
    (emitted); the trailing open session stays in state, then closes via
    event-time timeout once the watermark advances past it."""
    import datetime as dt

    from logstash_filter_elastic_integration_spark.streaming.stream import (
        sessionize_stream)

    src = str(tmp_path / "ev_in")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def t(mins):
        return base + dt.timedelta(minutes=mins)

    rows = [
        (1, t(0)), (1, t(5)), (1, t(10)),      # session A (3 events)
        (1, t(90)), (1, t(95)),                # >30min gap -> session B
        (2, t(0)),                             # single-event session
        (2, t(200)),                           # far later -> closes first
        # watermark driver: a dummy user far in the future pushes the
        # watermark beyond every session's timeout
        (99, t(2000)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df.coalesce(1).write.parquet(src)

    out = sessionize_stream(
        spark.readStream.schema("user_id long, ts timestamp").parquet(src),
        gap_s=1800, watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("sessions")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["n_events"])
           for r in spark.sql("SELECT * FROM sessions").collect()}
    # closed by in-batch gaps: user1 A(3), user2 first(1); closed by the
    # event-time TIMEOUT once the watermark (driven by user99's t+2000min
    # event) passed their end+gap: user1 B(2), user2 second(1)
    assert {(1, 3), (1, 2), (2, 1)} <= got
    # user99's own session is newer than the watermark -> still open in
    # state, not emitted
    assert (99, 1) not in got


def test_stream_checkpoint_restart_no_dupes(spark, tmp_path):
    """Resumability on the STREAMING side (north rule: resumable from
    checkpoints): run availableNow over the initial files, stop, land more
    files, restart with the SAME checkpoint location — the restarted query
    processes only the new files; total sink rows = input rows exactly
    (no loss, no double-processing)."""
    src = str(tmp_path / "src")
    whole = transcripts(spark, 1000).localCheckpoint(eager=True)
    wave1 = whole.filter(F.crc32(F.concat_ws("|", "conv_id", "turn_idx")) % 5 < 3)
    wave2 = whole.exceptAll(wave1)
    wave1.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    router = build_router(spark)
    catalog = Catalog(spark, str(tmp_path / "wh"))

    class DSRouter:
        def execute(self, batch_df):
            return router.execute(with_datastream(batch_df))
        commit = staticmethod(router.commit)

    ck = str(tmp_path / "ck")
    q1 = stream_pipeline(spark, src, schema, DSRouter(), catalog, ck)
    q1.awaitTermination(300)
    # second wave of files lands after the first run committed
    wave2.repartition(2).write.mode("append").parquet(src)
    q2 = stream_pipeline(spark, src, schema, DSRouter(), catalog, ck)
    q2.awaitTermination(300)
    written = glob.glob(str(tmp_path / "wh" / "sinks_stream" / "**" / "*.parquet"),
                        recursive=True)
    out = spark.read.parquet(*sorted({p for p in written}))
    assert out.count() == 1000
    # per-turn identity: every (conv_id, turn_idx) appears exactly once
    assert out.select("conv_id", "turn_idx").distinct().count() == 1000


def test_stream_flagship_counts_equal_batch_and_checkpoint_restart(spark):
    """North-rule streaming parity: the driver's stream_flagship query
    (router compiled onto the stream, foreachBatch aggregates) must
    produce per-sink counts equal to the batch route_fanout run; and a
    RESTART from the same checkpoint over the same source must process
    zero new batches (exactly-once)."""
    import tempfile

    from logstash_filter_elastic_integration_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    stream_counts = {(r.sink, r.severity): r.n
                     for r in Q.q_stream_flagship(spark, sf).collect()}
    batch_counts = {(r["sink"], r["severity"]): r["n"]
                    for r in Q.q_route_fanout(spark, sf)
                    .groupBy("sink", "severity")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert stream_counts == batch_counts

    # restart semantics: same checkpoint, same source -> nothing replayed
    d = Q._events_stream_dir(sf)
    schema = spark.read.parquet(f"{sf}/events.parquet").schema
    ckpt = tempfile.mkdtemp(prefix="ckpt_restart_")
    seen = []

    def run_once():
        src = spark.readStream.schema(schema).parquet(d)
        q = (src.writeStream
             .foreachBatch(lambda df, _id: seen.append(df.count()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    first = list(seen)
    assert sum(first) > 0
    run_once()  # restart: checkpoint says the file is already committed
    assert seen == first


def test_pipeline_reloader_es_semantics(tmp_path):
    # ES CacheReloadService contract: interval gate, confirmed-same is a
    # no-op, changed defs rebuild, failed rebuild keeps the stale router
    d = tmp_path / "pipes"
    d.mkdir()
    (d / "p.json").write_text('{"processors": []}')
    clock = {"t": 0.0}
    built = {"n": 0}
    fail = {"on": False}

    def factory():
        if fail["on"]:
            raise RuntimeError("bad pipeline json")
        built["n"] += 1
        return f"router-v{built['n']}"

    r = PipelineReloader(str(d), factory, "router-v0",
                         reload_interval_s=60, clock=lambda: clock["t"])
    assert r.current() == "router-v0"          # within interval
    clock["t"] = 61
    assert r.current() == "router-v0"          # due but confirmed-same
    (d / "p.json").write_text('{"processors": [{"set": {"field": "x", "value": 1}}]}')
    clock["t"] = 200
    assert r.current() == "router-v1"          # changed -> rebuilt
    assert r.reloads == 1
    fail["on"] = True
    (d / "p.json").write_text('{"processors": [BROKEN')
    clock["t"] = 300
    assert r.current() == "router-v1"          # failure -> keep stale
    assert r.failed_reloads == 1
    fail["on"] = False
    clock["t"] = 400
    assert r.current() == "router-v2"          # recovers on next tick


def _stage(df, src: str, tag: str, n_files: int = 2) -> None:
    """Land ``df`` in the stream's source directory as whole files: write
    them elsewhere, then rename each into place."""
    tmp = src + f".{tag}"
    df.repartition(n_files).write.parquet(tmp)
    os.makedirs(src, exist_ok=True)
    for name in sorted(os.listdir(tmp)):
        if name.endswith(".parquet"):
            os.rename(os.path.join(tmp, name),
                      os.path.join(src, f"{tag}-{name}"))


def _waves(df, n: int) -> list:
    key = F.crc32(F.concat_ws("|", "conv_id", "turn_idx"))
    return [df.filter(F.pmod(key, F.lit(n)) == k) for k in range(n)]


def _batch_ids(q) -> list[int]:
    return sorted({p["batchId"] for p in q.recentProgress
                   if p["numInputRows"] > 0})


def test_stream_compiles_once_per_query_start(spark, tmp_path, monkeypatch):
    """A running query's plan cannot change, so the router's chain is
    compiled once, onto the streaming frame, when the query starts — not
    once per micro-batch.  Three micro-batches, one Router.execute, and
    every staged row reaches a sink."""
    calls = []
    execute = Router.execute

    def spy(self, df):
        calls.append(df.isStreaming)
        return execute(self, df)

    monkeypatch.setattr(Router, "execute", spy)
    whole = with_datastream(transcripts(spark, 900)).localCheckpoint()
    waves = _waves(whole, 3)
    src = str(tmp_path / "src")
    _stage(waves[0], src, "w0")
    q = stream_pipeline(spark, src, whole.schema, build_router(spark),
                        Catalog(spark, str(tmp_path / "wh")),
                        str(tmp_path / "ck"), trigger_once=False)
    try:
        q.processAllAvailable()
        for k in (1, 2):
            _stage(waves[k], src, f"w{k}")
            q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is None
    assert len(_batch_ids(q)) == 3
    assert calls == [True]
    sinks = spark.read.parquet(str(tmp_path / "wh" / "sinks_stream"))
    assert sinks.count() == 900


def test_stream_pipeline_reloads_definitions_between_microbatches(
        spark, tmp_path):
    """With a PipelineReloader the chain is compiled per micro-batch: a
    definition edited between two micro-batches applies from the next
    micro-batch on, and not to rows already processed."""
    pipes = tmp_path / "pipes"
    pipes.mkdir()
    v1 = '{"processors": [{"set": {"field": "stage", "value": "v1"}}]}'
    v2 = ('{"processors": [{"set": {"field": "stage", "value": "v1"}}, '
          '{"set": {"field": "reloaded", "value": "yes"}}]}')
    (pipes / "turns.json").write_text(v1)

    def factory():
        reg = PipelineRegistry()
        reg.register_dir(str(pipes))
        return Router(registry=reg,
                      routing={"logs-agent.turns-default": "turns"})

    ticks = itertools.count()
    reloader = PipelineReloader(str(pipes), factory, factory(),
                                reload_interval_s=0,
                                clock=lambda: next(ticks))
    whole = with_datastream(transcripts(spark, 400)).localCheckpoint()
    first, second = _waves(whole, 2)
    src = str(tmp_path / "src")
    wh = tmp_path / "wh"
    _stage(first, src, "a")
    q = stream_pipeline(spark, src, whole.schema, reloader.router,
                        Catalog(spark, str(wh)), str(tmp_path / "ck"),
                        trigger_once=False, reloader=reloader)
    try:
        q.processAllAvailable()
        (pipes / "turns.json").write_text(v2)
        _stage(second, src, "b")
        q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is None
    assert reloader.reloads == 1
    ids = _batch_ids(q)
    assert len(ids) == 2
    before, after = (spark.read.parquet(str(wh / "sinks_stream" / f"__run={b}"))
                     for b in ids)
    assert before.count() == first.count()
    assert before.filter(F.col("stage") == "v1").count() == before.count()
    assert "reloaded" not in before.columns
    assert after.count() == second.count()
    assert after.filter(F.col("reloaded") == "yes").count() == after.count()


#: user agents for the example pipelines' user_agent processor; a null
#: value takes its ignore_missing path
_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "curl/8.4.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
]
EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "examples", "pipelines")
_MIX_ROUTING = {"logs-web.access-default": "logs-web",
                "logs-web.tools-*": "logs-tools"}


def _value_hash(df) -> tuple[int, int]:
    """Row count and an order-independent hash of every output value
    except the ingest timestamp (the processing time, which a batch run
    and each micro-batch stamp differently)."""
    cols = [F.col(f"`{c}`").dropFields("timestamp").alias(c)
            if c == "@metadata._ingest_document" else F.col(f"`{c}`")
            for c in sorted(df.columns)]
    row_hash = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")
    n, h = df.agg(F.count(F.lit(1)), F.sum(row_hash)).first()
    return n, int(h)


def test_stream_matches_batch_on_example_pipelines(spark, tmp_path):
    """No divergence between a batch job and the compiled-once stream, each
    committing through ``Router.commit``, over the example pipelines (grok,
    user_agent — whose streaming branch skips the distinct-parse join — the
    painless loop script as a pandas UDF, lookup, reroute and pipeline-level
    on_failure): equal rows and counts per sink and equal output values,
    over two micro-batches and twelve one-file runs."""
    def router():
        reg = PipelineRegistry()
        reg.register_dir(EXAMPLES)
        reg.dims["tool_dim"] = tool_dim(spark)
        return Router(registry=reg, routing=dict(_MIX_ROUTING))

    # one pick past the end: a null ua
    pick = (F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(len(_AGENTS) + 1))
            + 1).cast("int")
    events = (transcripts(spark, 600)
              .withColumn("ua", F.try_element_at(
                  F.array(*[F.lit(a) for a in _AGENTS]), pick))
              .withColumn("data_stream.type", F.lit("logs"))
              .withColumn("data_stream.dataset", F.lit("web.access"))
              .withColumn("data_stream.namespace", F.lit("default")))
    src = str(tmp_path / "src")
    _stage(events, src, "all", n_files=12)  # 8 files per trigger -> 2 batches

    q = stream_pipeline(spark, src, events.schema, router(),
                        Catalog(spark, str(tmp_path / "wh_stream")),
                        str(tmp_path / "ck"))
    q.awaitTermination(300)
    assert q.exception() is None
    assert len(_batch_ids(q)) == 2

    r = run_batch(spark, router(), src, str(tmp_path / "wh_batch"),
                  str(tmp_path / "run_batch"))
    assert r["status"] == "ok" and r["files"] == 12

    streamed = spark.read.parquet(
        str(tmp_path / "wh_stream" / "sinks_stream")).drop("__run")
    batched = spark.read.parquet(
        str(tmp_path / "wh_batch" / "sinks")).drop("__run")
    assert sorted(streamed.columns) == sorted(batched.columns)

    def rows_per_sink(df):
        return dict(df.groupBy("__sink").count().collect())

    def counted_per_sink(table):
        df = spark.read.parquet(str(tmp_path / table))
        return dict(df.groupBy("sink").agg(F.sum("n")).collect())

    sinks = rows_per_sink(batched)
    assert set(sinks) == {"logs-web.access-default", "logs-web.tools-default"}
    assert rows_per_sink(streamed) == sinks
    assert (counted_per_sink("wh_stream/sink_counts_stream")
            == counted_per_sink("wh_batch/sink_counts") == sinks)
    # every covered processor fired, so equal hashes are not vacuous
    fired = batched.agg(*[F.count(F.col(f"`{c}`")).alias(c) for c in (
        "error.kind", "token_count", "tool_meta.tool_category",
        "user_agent.name")]).first()
    assert all(fired), fired.asDict()
    assert _value_hash(streamed) == _value_hash(batched)
