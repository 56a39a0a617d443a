"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what we would set cluster-side: AQE on (runtime
coalescing + skew-join splitting), Arrow on (every UDF is pandas/Arrow
batched — the input_hint forbids per-row Python), shuffle partitions sized
to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "logstash_filter_elastic_integration_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, int(n))
    # glibc malloc tuning for the Arrow/pandas worker fleet: N workers
    # churning millions of short-lived strings per batch trigger an
    # mmap/munmap storm (measured 80% SYSTEM cpu at local[32] on the grok
    # stage; kernel zone-lock contention).  Pin arenas and disable trim so
    # freed batch memory is reused instead of returned page-by-page.  Must
    # be in the environment BEFORE the JVM forks the pyspark worker daemon.
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "134217728")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # dynamic-partition fan-out writes: concurrent writers instead of
        # the sort-based writer (the route column has few distinct values,
        # so a handful of open files per task beats sorting wide rows)
        .config("spark.sql.maxConcurrentOutputFileWriters", "16")
        # deep compiled pipelines fuse into ONE whole-stage method; above
        # ~8KB bytecode HotSpot refuses to JIT it and the whole stage runs
        # interpreted (measured 3x flagship slowdown once the JVM grok
        # lowering removed the ArrowEvalPython stage split).  8000 matches
        # the JIT's HugeMethodLimit: larger stages fall back to
        # per-operator codegen, which the JIT does compile.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # InferFiltersFromGenerate clones every explode's generator child
        # into a `size(e) > 0` Filter that predicate pushdown then sinks
        # below exchanges — for the shingle/trigram explodes the cloned
        # expression is an interpreted higher-order transform() that ends
        # up re-evaluated per row in the (often single-split) scan stage.
        # The inferred filter only pre-drops rows that would generate zero
        # output rows anyway, so excluding the rule never changes results;
        # measured (interleaved ABBA, sf0.1, local[32]):
        # dedup_minhash_lsh 3.46s -> 1.35s, decontaminate_ngram
        # 2.31s -> 0.46s, everything else unchanged.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # static session default (r5 ADVICE fix): the json processor's
        # allow_duplicate_keys=true needs the variant parser to accept
        # duplicates; setting it here once keeps p_json from mutating the
        # shared conf mid-session (the strict duplicate REJECTION is an
        # explicit conf-independent check in operators/parse.py)
        .config("spark.sql.variant.allowDuplicateKeys", "true")
        # PySpark wraps every DataFrame/Column call in call-site capture
        # (getActiveSession, a conf read, and a JVM PySparkCurrentOrigin
        # set + clear per call) only to label error messages with the
        # Python line.  The compiler makes thousands of such calls per
        # pipeline chain: measured on a 4-core host at local[4], a warm
        # flagship Router.execute went from 6,072 py4j round trips and
        # ~1.1 s to 2,122 and ~0.8 s with capture off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
