"""Structured Streaming execution of the same compiled pipelines.

The reference is a pull-batch filter inside a running Logstash pipeline —
continuous ingestion.  The Spark-native equivalent is Structured Streaming:
``readStream`` on the transcript table/directory, the IDENTICAL compiled
processor-chain transform (a narrow projection plus stream-static broadcast
joins, so it is streaming-safe with no watermark needed), and
``foreachBatch`` committing each micro-batch as one run (``__run`` = batch
id) through the batch job's ``Router.commit`` — a replayed micro-batch
replaces its run, so with the checkpoint location writes are exactly-once.

The chain is compiled once per query start, on the streaming frame, so a
micro-batch pays only its own commit; it is compiled per micro-batch only
when a ``PipelineReloader`` is passed, since swapping definitions between
micro-batches is the reloader's purpose and a running query's plan cannot
change.

Windowed per-sink aggregates in *continuous* mode (with late data) use the
event-time watermark variant below.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class PipelineReloader:
    """Hot-reload of pipeline definitions for long-running streams — the
    ES CacheReloadService semantics (SimpleResolverCache.java:128-160,
    docs/index.asciidoc:270-279): poll on an interval; confirmed-same
    resets the clock; changed definitions recompile the router; a FAILED
    recompile keeps the stale (last-good) router running.

    The batch engine needs none of this (compile-per-run, SURVEY §3.3);
    a stream's router outlives definition edits, so the reference's
    reload contract applies here.
    """

    def __init__(self, pipeline_dir: str, router_factory, router,
                 reload_interval_s: float = 60.0, clock=time.monotonic):
        self.pipeline_dir = pipeline_dir
        self.router_factory = router_factory
        self.router = router
        self.interval = reload_interval_s
        self.clock = clock
        self._sig = self._signature()
        self._checked = clock()
        self.reloads = 0
        self.failed_reloads = 0

    def _signature(self):
        out = []
        for name in sorted(os.listdir(self.pipeline_dir)):
            p = os.path.join(self.pipeline_dir, name)
            st = os.stat(p)
            out.append((name, st.st_mtime_ns, st.st_size))
        return tuple(out)

    def current(self):
        """The router to use for this micro-batch (reloading if due)."""
        now = self.clock()
        if now - self._checked < self.interval:
            return self.router
        self._checked = now
        sig = self._signature()
        if sig == self._sig:           # confirmed-same -> TTL reset only
            return self.router
        try:
            self.router = self.router_factory()
            self._sig = sig
            self.reloads += 1
        except Exception:              # reload failure -> keep stale
            self.failed_reloads += 1
        return self.router


def stream_pipeline(spark: SparkSession, source_dir: str, schema,
                    router, catalog, checkpoint_dir: str,
                    trigger_once: bool = True,
                    reloader: PipelineReloader | None = None):
    """File-source streaming run of a Router over arriving transcript
    parquet files.  Returns the started StreamingQuery.  The router's
    chain is compiled once here, onto the streaming frame; pass a
    ``PipelineReloader`` instead to re-resolve pipeline definitions on the
    ES 60s-reload contract while the stream runs (compiled per
    micro-batch)."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 8)
              .parquet(source_dir))
    if reloader is None:
        stream = router.execute(stream)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        live = router
        if reloader is not None:
            live = reloader.current()
            batch_df = live.execute(batch_df)
        live.commit(batch_df.withColumn("__run", F.lit(batch_id)), catalog,
                    [batch_id], tables=("sinks_stream", "sink_counts_stream"))

    writer = (stream.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts_stream(stream_df: DataFrame, window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed per-role/tool counts with late-data handling —
    the streaming analogue of Router.sink_counts."""
    return (stream_df
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window)["start"].alias("ts_window"),
                     "role", "tool")
            .agg(F.count(F.lit(1)).alias("n")))


def sessionize_stream(stream_df: DataFrame, gap_s: int = 1800,
                      watermark: str = "2 hours") -> DataFrame:
    """Custom STATEFUL streaming operator (brief: applyInPandasWithState):
    per-user session assembly with an inactivity gap.  State = the open
    session (start/end epoch, event count); a batch's events extend or
    close sessions; closed sessions are EMITTED (append mode) and the open
    one stays in state until the event-time timeout fires after the
    watermark passes ``gap_s`` beyond its last event.

    Scale shape: state is partitioned by the group key (user), so the
    operator shards across executors with no driver involvement; the
    pandas kernel sees one user's micro-batch slice at a time."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("user_id LONG, session_start TIMESTAMP, "
                  "session_end TIMESTAMP, n_events LONG")
    state_schema = "start LONG, end LONG, n LONG"

    def fn(key, pdfs, state):
        import pandas as pd
        (uid,) = key
        closed = []
        if state.hasTimedOut:
            start, end, n = state.get
            closed.append((uid, start, end, n))
            state.remove()
        else:
            start, end, n = state.get if state.exists else (None, None, 0)
            ts_all = []
            for pdf in pdfs:
                ts_all.extend(
                    int(t.timestamp()) for t in pd.to_datetime(pdf["ts"]))
            for t in sorted(ts_all):
                if end is not None and t - end > gap_s:
                    closed.append((uid, start, end, n))
                    start, n = None, 0
                if start is None:
                    start = t
                end = t
                n += 1
            if n:
                state.update((start, end, n))
                state.setTimeoutTimestamp((end + gap_s) * 1000)
        if closed:
            # dtypes pinned explicitly: per-dict construction lets pandas
            # infer object columns and spams FutureWarnings through the
            # Arrow serializer on some batch shapes
            yield pd.DataFrame({
                "user_id": pd.Series([u for u, _, _, _ in closed],
                                     dtype="int64"),
                "session_start": pd.to_datetime(
                    [s for _, s, _, _ in closed], unit="s"),
                "session_end": pd.to_datetime(
                    [e for _, _, e, _ in closed], unit="s"),
                "n_events": pd.Series([c for _, _, _, c in closed],
                                      dtype="int64"),
            })

    return (stream_df.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                fn, out_schema, state_schema, "append",
                GroupStateTimeout.EventTimeTimeout))
