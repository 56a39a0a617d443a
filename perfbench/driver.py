"""One fresh ``local[4]`` driver process of the ingest benchmark.

Started by ``run.py`` with a JSON config path.  It sets up (imports,
``get_spark``, registry/dims or facade), runs the workload's passes in a
closed loop (one op at a time: a whole pass, or a micro-batch on the
stream), checks every op's output against the DuckDB re-derivation, and
writes what it measured to the config's ``result`` path.  With
``trace`` set it also wraps the package's public functions (see
``tracing.py``) and records per-layer figures per op.

Setup time runs from the parent's spawn timestamp (``PERFBENCH_T0``) to
ready, so interpreter start and imports count.
"""

from __future__ import annotations

import os
import time

T_SPAWN = float(os.environ.get("PERFBENCH_T0", time.time()))

import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from tracing import Py4jCounter, StageReader, Tracer, plan_shape  # noqa: E402

from logstash_filter_elastic_integration_spark import (  # noqa: E402
    engine, flagship, jobs, session, streaming)
from logstash_filter_elastic_integration_spark.router import Router  # noqa: E402
from logstash_filter_elastic_integration_spark.sources import datagen  # noqa: E402
from logstash_filter_elastic_integration_spark.sources.catalog import Catalog  # noqa: E402
from logstash_filter_elastic_integration_spark.sources.checkpoint import (  # noqa: E402
    CheckpointManifest)
from pyspark.sql import functions as F  # noqa: E402

MIX_ROUTING = {"logs-web.access-default": "logs-web",
               "logs-web.tools-*": "logs-tools"}
STREAM_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
                 "tool string, ts timestamp, `data_stream.type` string, "
                 "`data_stream.dataset` string, `data_stream.namespace` string")
FILES_PER_TRIGGER = 8  # fixed by streaming.stream_pipeline


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Workload:
    """Closed-loop op runner shared by the three workloads."""

    def __init__(self, spark, cfg: dict, tracer: Tracer | None):
        self.spark = spark
        self.cfg = cfg
        self.tracer = tracer
        self.work = cfg["work"]
        self.input = cfg["input"]
        self.rows = cfg["rows"]
        self.reader = StageReader(spark) if tracer else None
        self.plan_seen = False

    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def run(self, seconds: float) -> list[dict]:
        ops: list[dict] = []
        warmup = self.cfg["warmup"]
        measured = 0.0
        n_measured = 0
        i = 0
        while True:
            phase = ("cold" if i == 0 else
                     "warmup" if i <= warmup else "measured")
            # at least min_ops measured ops, so a slow host phase that
            # makes one op outlast --seconds still leaves a median
            if (phase == "measured" and measured >= seconds
                    and n_measured >= self.cfg["min_ops"]):
                break
            op = self.op(i, phase)
            if op is None:  # input exhausted
                break
            ops.append(op)
            if phase == "measured":
                measured += op["wall_s"]
                n_measured += 1
            i += 1
        self.finish(ops)
        return ops

    def finish(self, ops: list[dict]) -> None:
        pass

    # -- tracing helpers ------------------------------------------------
    def begin(self, i: int, phase: str) -> dict:
        """Mark op ``i`` as the one in progress; the first measured op also
        records the shape of the plan it compiles."""
        if self.tracer is None:
            return {}
        self.tracer.op = i
        if phase == "measured" and not self.plan_seen:
            self.tracer.capture_plan = self.plan_seen = True
        return {"sql0": self.reader.sql_count()}

    def end(self, i: int, mark: dict, job_ids) -> dict:
        if self.tracer is None:
            return {}
        layers = self.reader.stage_sums(job_ids)
        layers.update(self.reader.python_sums(mark["sql0"],
                                              self.reader.sql_count()))
        self.tracer.op = None
        return layers


class PassWorkload(Workload):
    """A workload whose op is one whole pass over the input."""

    def op(self, i: int, phase: str) -> dict:
        d = _fresh(os.path.join(self.work, "pass"))
        mark = self.begin(i, phase)
        group = f"op-{i}"
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        with self.span("pass"):
            detail = self.one_pass(d)
        wall = time.perf_counter() - t0
        layers = self.end(i, mark, self.reader.group_jobs(group)
                          if self.tracer else ())
        if self.tracer is not None and phase == "measured":
            layers.update(self.traced_extras(d))
        error = self.check(d, detail)
        return {"i": i, "phase": phase, "wall_s": wall, "rows": self.rows,
                "ok": error is None, "error": error, "layers": layers}


class BatchJob(PassWorkload):
    """``jobs.run_batch`` of the flagship router over a multi-file table."""

    def setup(self):
        with self.span("registry.build"):
            self.registry = flagship.build_registry(self.spark)
        self.expected = oracle.sum_expected(self.cfg["expected"],
                                            self.cfg["expected"].keys())

    def router(self) -> Router:
        return Router(registry=self.registry, routing=dict(flagship.ROUTING))

    def one_pass(self, d: str):
        return jobs.run_batch(self.spark, self.router(), self.input,
                              os.path.join(d, "wh"), os.path.join(d, "run"),
                              prepare_df=flagship.with_datastream)

    def check(self, d: str, detail: dict) -> str | None:
        if detail.get("status") != "ok":
            return f"run_batch status {detail.get('status')}"
        with open(detail["lineage"]) as f:
            lineage = json.load(f)
        actual = oracle.flagship_actual(
            os.path.join(d, "wh", "sinks"), os.path.join(d, "wh", "sink_counts"),
            lineage["stages"]["pipeline"].get("failed"))
        return oracle.flagship_mismatch(self.expected, actual)

    def traced_extras(self, d: str) -> dict:
        size, files = _dir_bytes(os.path.join(d, "wh", "sinks"))
        frame = self.router().execute(flagship.with_datastream(
            self.spark.read.parquet(self.input)))
        with self.span("exec.noop"):
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            noop = time.perf_counter() - t0
        return {"exec.noop_s": noop, "sink.bytes": size, "sink.files": files}


class IntegrationMix(PassWorkload):
    """The ``SparkIngestFilter`` facade over a directory of JSON pipelines,
    its output written to one parquet table."""

    def setup(self):
        with self.span("registry.build"):
            self.dims = {"tool_dim": datagen.tool_dim(self.spark)}
            self.facade()
        self.expected = self.cfg["expected"]

    def facade(self) -> engine.SparkIngestFilter:
        return engine.SparkIngestFilter(pipelines=self.cfg["pipelines"],
                                        routing=dict(MIX_ROUTING),
                                        dims=self.dims)

    def frame(self):
        return (self.spark.read.parquet(self.input)
                .withColumn("data_stream.type", F.lit("logs"))
                .withColumn("data_stream.dataset", F.lit("web.access"))
                .withColumn("data_stream.namespace", F.lit("default")))

    def one_pass(self, d: str):
        out = self.facade().filter(self.frame())
        with self.span("sink.write"):
            out.write.mode("overwrite").parquet(os.path.join(d, "out"))
        return None

    def check(self, d: str, detail) -> str | None:
        return oracle.mix_mismatch(self.expected,
                                   oracle.mix_actual(os.path.join(d, "out")))

    def traced_extras(self, d: str) -> dict:
        size, files = _dir_bytes(os.path.join(d, "out"))
        frame = self.facade().filter(self.frame())
        with self.span("exec.noop"):
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            noop = time.perf_counter() - t0
        return {"exec.noop_s": noop, "sink.bytes": size, "sink.files": files}


class StreamMicrobatch(Workload):
    """``streaming.stream_pipeline`` of the flagship router: one query whose
    op is a micro-batch.  The benchmark stages the next eight input files
    (hard links, so each appears whole) and waits for the query to process
    them before staging more."""

    def setup(self):
        with self.span("registry.build"):
            self.registry = flagship.build_registry(self.spark)
        self.names = sorted(self.cfg["expected"])
        self.staged: list[str] = []
        self.query = None

    def op(self, i: int, phase: str) -> dict | None:
        batch = self.names[i * FILES_PER_TRIGGER:(i + 1) * FILES_PER_TRIGGER]
        if len(batch) < FILES_PER_TRIGGER:
            return None
        mark = self.begin(i, phase)
        jobs_before = self.stream_jobs()
        t0 = time.perf_counter()
        if self.query is None:
            d = self.work
            self.src = _fresh(os.path.join(d, "src"))
            for sub in ("wh", "ck"):
                shutil.rmtree(os.path.join(d, sub), ignore_errors=True)
            router = Router(registry=self.registry,
                            routing=dict(flagship.ROUTING))
            with self.span("stream.start"):
                self.query = streaming.stream_pipeline(
                    self.spark, self.src, STREAM_SCHEMA, router,
                    Catalog(self.spark, os.path.join(d, "wh")),
                    os.path.join(d, "ck"), trigger_once=False)
        for name in batch:
            os.link(os.path.join(self.input, name), os.path.join(self.src, name))
        self.staged.extend(batch)
        with self.span("stream.batch"):
            self.query.processAllAvailable()
        wall = time.perf_counter() - t0
        progress = [p for p in self.query.recentProgress
                    if p["numInputRows"] > 0]
        last = progress[-1]
        layers = self.end(i, mark, self.stream_jobs() - jobs_before)
        if self.tracer is not None:
            dur = last["durationMs"]
            layers["stream.trigger_s"] = dur.get("triggerExecution", 0) / 1e3
            layers["stream.add_batch_s"] = dur.get("addBatch", 0) / 1e3
            if phase == "measured":
                size, files = _dir_bytes(os.path.join(
                    self.work, "wh", "sinks_stream", f"batch={last['batchId']}"))
                layers.update({"sink.bytes": size, "sink.files": files})
        return {"i": i, "phase": phase, "wall_s": wall,
                "trigger_s": last["durationMs"]["triggerExecution"] / 1e3,
                "batch_id": last["batchId"], "rows": last["numInputRows"],
                "ok": True, "error": None, "layers": layers}

    def stream_jobs(self) -> set[int]:
        if self.tracer is None or self.query is None:
            return set()
        return self.reader.group_jobs(str(self.query.runId))

    def finish(self, ops: list[dict]) -> None:
        """Stop the query and check the summed micro-batch output against
        the files staged; a mismatch fails every micro-batch."""
        if self.query is None:
            return
        self.query.stop()
        error = None
        if self.query.exception() is not None:
            error = f"query failed: {self.query.exception()}"
        elif len({op["batch_id"] for op in ops}) != len(ops):
            error = "micro-batches did not map one to one onto staged files"
        else:
            expected = oracle.sum_expected(self.cfg["expected"], self.staged)
            actual = oracle.flagship_actual(
                os.path.join(self.work, "wh", "sinks_stream"),
                os.path.join(self.work, "wh", "sink_counts_stream"))
            error = oracle.flagship_mismatch(expected, actual)
        if error is not None:
            for op in ops:
                op.update(ok=False, error=error)


WORKLOADS = {"batch_job": BatchJob, "integration_mix": IntegrationMix,
             "stream_microbatch": StreamMicrobatch}


def install_tracing(tracer: Tracer) -> None:
    def keep_plan(record, args, kwargs, result):
        if tracer.capture_plan:
            tracer.capture_plan = False
            record["plan"] = plan_shape(result)

    def table(record, args, kwargs, result):
        record["table"] = kwargs.get("table", args[2] if len(args) > 2 else None)

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(Router, "execute", "router.execute", keep_plan)
    tracer.wrap(Router, "write_fanout", "router.write_fanout")
    tracer.wrap(Router, "sink_counts", "router.sink_counts")
    tracer.wrap(Catalog, "write", "catalog.write", table)
    tracer.wrap(CheckpointManifest, "input_files", "jobs.input_files")
    tracer.wrap(jobs, "run_batch", "jobs.run_batch")
    tracer.wrap(engine.SparkIngestFilter, "filter", "engine.filter", keep_plan)


def heap_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = Tracer() if cfg["trace"] else None
    if tracer is not None:
        tracer.op = "setup"
        install_tracing(tracer)
    spark = session.get_spark(cores=4)
    try:
        if tracer is not None:
            tracer.py4j = Py4jCounter(spark)
        wl = WORKLOADS[cfg["workload"]](spark, cfg, tracer)
        wl.setup()
        setup_s = time.time() - T_SPAWN
        result = {"setup_s": setup_s, "ops": wl.run(cfg["seconds"])}
        if tracer is not None:
            result["heap_mb"] = heap_mb(spark)
            tracer.unwrap_all()
            result["spans"] = tracer.spans
    finally:
        spark.stop()
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
    # the result is written and the session stopped; skip the interpreter's
    # slow teardown (run.py stops the JVM and waits for it to end)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)
