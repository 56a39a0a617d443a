"""Resumable batch runner: first run processes everything, second is a
no-op, and a partially-completed manifest resumes only pending files.
Each input file is a run that ``Router.commit`` replaces whole, and an
incremental run aggregates only its own rows.  A run's cost does not grow
with the files completed before it."""

import glob
import hashlib
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from logstash_filter_elastic_integration_spark.flagship import (
    build_router, with_datastream)
from logstash_filter_elastic_integration_spark.jobs import run_batch
from logstash_filter_elastic_integration_spark.router import Router
from logstash_filter_elastic_integration_spark.sources.catalog import Catalog
from logstash_filter_elastic_integration_spark.sources.checkpoint import (
    CheckpointManifest)
from logstash_filter_elastic_integration_spark.sources.datagen import transcripts
from tests.test_compile_jobs import _jobs


def test_run_batch_and_resume(spark, tmp_path):
    src = str(tmp_path / "in")
    transcripts(spark, 2000).repartition(4).write.parquet(src)
    router = build_router(spark)
    wh, run = str(tmp_path / "wh"), str(tmp_path / "run")

    r1 = run_batch(spark, router, src, wh, run, prepare_df=with_datastream)
    assert r1["status"] == "ok" and r1["files"] == 4
    total_after_full = spark.read.parquet(wh + "/sinks").count()
    assert total_after_full > 0

    r2 = run_batch(spark, router, src, wh, run, prepare_df=with_datastream)
    assert r2["status"] == "up-to-date"

    # simulate a partial run: forget two files, resume processes only them
    m = CheckpointManifest(run)
    with open(m.path) as f:
        lines = f.readlines()
    with open(m.path, "w") as f:
        f.writelines(lines[:2])
    r3 = run_batch(spark, router, src, wh, str(tmp_path / "run"),
                   prepare_df=with_datastream)
    assert r3["status"] == "ok" and r3["files"] == 2
    # the resumed run must not clobber output of the files already done
    # (ADVICE r1 high: plain overwrite lost them permanently): replacing
    # only the resumed files' runs keeps totals exact, no loss and no dupes
    assert spark.read.parquet(wh + "/sinks").count() == total_after_full


def test_run_batch_incremental_appends(spark, tmp_path):
    """New input files arriving after a completed run land BESIDE the
    previous run's output; reprocessing the same files is idempotent."""
    src = str(tmp_path / "in")
    transcripts(spark, 1000).repartition(2).write.parquet(src)
    router = build_router(spark)
    wh, run = str(tmp_path / "wh"), str(tmp_path / "run")
    run_batch(spark, router, src, wh, run, prepare_df=with_datastream)
    n1 = spark.read.parquet(wh + "/sinks").count()

    # two more files arrive (disjoint conv ids so rows are distinguishable)
    extra = transcripts(spark, 500).withColumn(
        "conv_id", F.concat(F.lit("late-"), "conv_id"))
    extra.repartition(2).write.mode("append").parquet(src)
    r = run_batch(spark, router, src, wh, run, prepare_df=with_datastream)
    assert r["status"] == "ok" and r["files"] == 2
    sinks = spark.read.parquet(wh + "/sinks")
    n2 = sinks.count()
    assert n2 > n1  # old rows kept, new rows added
    assert sinks.filter(~F.col("conv_id").startswith("late-")).count() == n1


def _die_after_commit_once(monkeypatch):
    """The next ``mark_done`` raises: the job dies after its commit, before
    the manifest records the files."""
    mark_done = CheckpointManifest.mark_done

    def die(self, *a, **kw):
        monkeypatch.setattr(CheckpointManifest, "mark_done", mark_done)
        raise RuntimeError("killed between commit and mark_done")

    monkeypatch.setattr(CheckpointManifest, "mark_done", die)


def _sink_totals(spark, wh):
    """(rows in ``sinks``, summed ``n`` in ``sink_counts``)."""
    return (spark.read.parquet(wh + "/sinks").count(),
            spark.read.parquet(wh + "/sink_counts").agg(F.sum("n")).first()[0])


def test_recommit_replaces_whole_run(spark, tmp_path, monkeypatch):
    """A resumed file whose rows now route to another sink keeps nothing of
    its first attempt: the re-commit replaces the file's whole run, not
    only the (run, sink) partitions it writes again."""
    src = str(tmp_path / "in")
    transcripts(spark, 600).repartition(2).write.parquet(src)
    n_in = spark.read.parquet(src).count()
    router = build_router(spark)
    wh, run = str(tmp_path / "wh"), str(tmp_path / "run")

    _die_after_commit_once(monkeypatch)
    with pytest.raises(RuntimeError, match="killed"):
        run_batch(spark, router, src, wh, run, prepare_df=with_datastream)
    assert _sink_totals(spark, wh) == (n_in, n_in)

    def elsewhere(df):
        return with_datastream(df).withColumn("data_stream.namespace",
                                              F.lit("other"))

    r = run_batch(spark, router, src, wh, run, prepare_df=elsewhere)
    assert r["status"] == "ok" and r["files"] == 2
    assert _sink_totals(spark, wh) == (n_in, n_in)
    sinks = {row["__sink"] for row in spark.read.parquet(wh + "/sinks")
             .select("__sink").distinct().collect()}
    assert sinks == {"logs-agent.turns-other"}


def test_incremental_runs_aggregate_only_their_own_rows(
        spark, tmp_path, monkeypatch):
    """k = 3 one-file arrivals, the second killed between its commit and
    ``mark_done`` and then resumed.  No run reads the sink tables back;
    ``sink_counts`` holds one ``__run`` partition per input file, and its
    counts sum to a from-scratch aggregate over the whole ``sinks`` table;
    no row and no count is doubled."""
    src = str(tmp_path / "in")
    router = build_router(spark)
    wh, run = str(tmp_path / "wh"), str(tmp_path / "run")
    reads = []
    read = Catalog.read

    def spy(self, table):
        reads.append(table)
        return read(self, table)

    monkeypatch.setattr(Catalog, "read", spy)
    n_in = 0
    for k in range(3):
        arrival = transcripts(spark, 300).withColumn(
            "conv_id", F.concat(F.lit(f"a{k}-"), "conv_id"))
        arrival.coalesce(1).write.mode("append").parquet(src)
        n_in += arrival.count()
        if k == 1:
            _die_after_commit_once(monkeypatch)
            with pytest.raises(RuntimeError, match="killed"):
                run_batch(spark, router, src, wh, run,
                          prepare_df=with_datastream)
        r = run_batch(spark, router, src, wh, run, prepare_df=with_datastream)
        assert r["status"] == "ok" and r["files"] == 1
    assert reads == []
    monkeypatch.setattr(Catalog, "read", read)

    def run_dirs(table):
        return sorted(os.path.basename(p).removeprefix("__run=")
                      for p in glob.glob(os.path.join(wh, table, "__run=*")))

    # the driver's run ids are the ones Spark tagged the rows with
    done = CheckpointManifest(run).completed_files()
    assert len(done) == 3
    python_runs = sorted(hashlib.md5(f.encode()).hexdigest()[:12]
                         for f in done)
    spark_runs = sorted(r[0] for r in spark.read.parquet(src).select(
        F.substring(F.md5(F.input_file_name()), 1, 12)).distinct().collect())
    assert python_runs == spark_runs
    assert run_dirs("sink_counts") == run_dirs("sinks") == python_runs

    catalog = Catalog(spark, wh)
    sinks = catalog.read("sinks")
    assert sinks.count() == n_in
    assert sinks.select("conv_id", "turn_idx").distinct().count() == n_in
    keys = ["sink", "conv_bucket", "role", "tool", "ts_window"]

    def summed(df):
        return {tuple(r[:-1]): r[-1] for r in
                df.groupBy(*keys).agg(F.sum("n")).collect()}

    incremental = summed(catalog.read("sink_counts"))
    assert sum(incremental.values()) == n_in
    assert incremental == summed(
        router.sink_counts(sinks, dropped_filtered=True))


def test_commit_sidecar_appends_one_line_per_write(spark, tmp_path):
    src = str(tmp_path / "in")
    router = build_router(spark)
    wh, run = str(tmp_path / "wh"), str(tmp_path / "run")
    for k in range(3):
        transcripts(spark, 100).coalesce(1).write.mode("append").parquet(src)
        run_batch(spark, router, src, wh, run, prepare_df=with_datastream)
    for table in ("sinks", "sink_counts"):
        with open(os.path.join(wh, table, "_meta.jsonl")) as f:
            entries = [json.loads(line) for line in f]
        assert len(entries) == 3
        assert all(e["mode"] == "append" and len(e["runs"]) == 1
                   for e in entries)


def _run_dirs(wh, table):
    return sorted(os.path.basename(p).removeprefix("__run=")
                  for p in glob.glob(os.path.join(wh, table, "__run=*")))


def test_incremental_run_cost_does_not_grow_with_history(
        spark, tmp_path, monkeypatch):
    """k = 1..20 one-file arrivals.  At every k a run takes at most 4 Spark
    jobs (the pending file's footer-schema read and the commit), an
    immediate re-run is up-to-date with none, the frame handed to
    ``Router.execute`` has one analyzed plan size (expression ids aside),
    and the manifest only grows by appends."""
    src = str(tmp_path / "in")
    router = build_router(spark)
    wh, run = str(tmp_path / "wh"), str(tmp_path / "run")
    plans = []
    execute = Router.execute

    def spy(self, df):
        plan = df._jdf.queryExecution().analyzed().toString()
        plans.append(len(re.sub(r"#\d+", "#", plan)))
        return execute(self, df)

    monkeypatch.setattr(Router, "execute", spy)

    def batch():
        return run_batch(spark, router, src, wh, run,
                         prepare_df=with_datastream)

    manifest, before = CheckpointManifest(run).path, b""
    for k in range(1, 21):
        transcripts(spark, 400).coalesce(1).write.mode("append").parquet(src)
        r, jobs = _jobs(spark, batch)
        assert r["status"] == "ok" and r["files"] == 1, k
        assert len(jobs) <= 4, (k, jobs)
        r, jobs = _jobs(spark, batch)
        assert r["status"] == "up-to-date" and jobs == [], k
        with open(manifest, "rb") as f:
            after = f.read()
        assert len(after) > len(before) and after.startswith(before), k
        before = after
    assert len(plans) == 20 and plans[1] == plans[19], plans


def test_run_batch_reads_odd_file_names(spark, tmp_path):
    """Files under a ``k=v x`` partition directory whose names hold a space,
    ``%``, ``=`` and ``[`` are all processed and keep their partition
    column; their runs are the manifest entries' md5 prefixes, and a
    second run is up-to-date."""
    src = tmp_path / "in"
    part = src / "k=v x"
    part.mkdir(parents=True)
    for i, name in enumerate(["a b.parquet", "p%41.parquet", "x=y.parquet",
                              "br[1].parquet"]):
        out = str(tmp_path / f"w{i}")
        transcripts(spark, 150).withColumn(
            "conv_id", F.concat(F.lit(f"f{i}-"), "conv_id")) \
            .coalesce(1).write.parquet(out)
        os.rename(glob.glob(out + "/part-*.parquet")[0], str(part / name))
    router = build_router(spark)
    wh, run = str(tmp_path / "wh"), str(tmp_path / "run")

    r = run_batch(spark, router, str(src), wh, run, prepare_df=with_datastream)
    assert r["status"] == "ok" and r["files"] == 4
    sinks = spark.read.parquet(wh + "/sinks")
    assert sinks.count() == 600
    assert [row["k"] for row in sinks.select("k").distinct().collect()] \
        == ["v x"]
    done = CheckpointManifest(run).completed_files()
    assert sorted(hashlib.md5(f.encode()).hexdigest()[:12] for f in done) \
        == _run_dirs(wh, "sinks") == _run_dirs(wh, "sink_counts")
    r = run_batch(spark, router, str(src), wh, run, prepare_df=with_datastream)
    assert r["status"] == "up-to-date"
