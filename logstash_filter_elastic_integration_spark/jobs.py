"""Batch job runner: checkpointed, metered, resumable execution of a
Router over an input table (north rule: "resumable from per-partition
checkpoints with lineage + per-stage throughput metrics").

One call = one incremental run:
  1. list the input path on the driver, minus the checkpoint manifest's
     completed files, and read only those pending files
  2. execute the compiled pipeline fixpoint (narrow, shuffle-free)
  3. ``Router.commit``: fan-out + per-sink aggregate of only these files
  4. mark the processed files done; write lineage JSON

Killing the process between (3) and (4) re-processes only those files on
restart, and their re-commit replaces their first attempt whole.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import SparkSession, functions as F

from .metrics import RunMetrics
from .router import Router
from .sources.catalog import Catalog
from .sources.checkpoint import CheckpointManifest, read_files


def run_batch(spark: SparkSession, router: Router, input_path: str,
              warehouse: str, run_dir: str,
              prepare_df=None, salt_partitions: int | None = None) -> dict:
    catalog = Catalog(spark, warehouse)
    manifest = CheckpointManifest(run_dir)
    metrics = RunMetrics(run_dir)

    files = manifest.input_files(spark, input_path)
    if not files:
        return {"status": "up-to-date", "files": 0}

    # Tag every row with its source file's hash BEFORE any transform: the
    # manifest's unit of resumability, the input file, is the commit's run.
    pending_df = read_files(spark, input_path, files).withColumn(
        "__run", F.substring(F.md5(F.input_file_name()), 1, 12))
    runs = [hashlib.md5(f.encode()).hexdigest()[:12] for f in files]
    executed = router.execute(pending_df if prepare_df is None
                              else prepare_df(pending_df))
    observed = metrics.observe(executed, "pipeline",
                               failed_col="_ingest_pipeline_failure",
                               dropped_col="__dropped")
    t0 = time.time()
    with metrics.stage("pipeline"):
        router.commit(observed, catalog, runs,
                      salt_partitions=salt_partitions)
    wall = time.time() - t0
    manifest.mark_done(files, {"wall_s": round(wall, 3)})
    lineage = metrics.write_lineage({
        "input_path": input_path, "files": len(files),
        "warehouse": warehouse})
    return {"status": "ok", "files": len(files), "wall_s": round(wall, 3),
            "lineage": lineage}
