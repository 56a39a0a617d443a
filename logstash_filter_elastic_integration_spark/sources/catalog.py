"""Table catalog: Iceberg-shaped API, parquet-backed in this sandbox.

Production target is Iceberg (``spark.read.format("iceberg")``, snapshot-
based checkpointing, commit metadata for lineage) — the sandbox ships no
Iceberg runtime jar, so the same API writes partitioned parquet directories
and appends commit metadata to a ``_meta.jsonl`` sidecar.  Swapping
``FORMAT`` to "iceberg" (plus catalog conf) is the only change needed on a
real cluster; all call sites go through this class.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    FORMAT = "parquet"  # -> "iceberg" on a cluster with the runtime jar

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def read(self, table: str) -> DataFrame:
        return self.spark.read.format(self.FORMAT).load(self.path(table))

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: list[str] | None = None,
              meta: dict | None = None) -> None:
        w = df.write.format(self.FORMAT).mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self.path(table))
        # commit-metadata sidecar (stand-in for Iceberg snapshot summary)
        append_jsonl(os.path.join(self.path(table), "_meta.jsonl"),
                     [{"mode": mode, "ts": time.time(),
                       "partition_by": partition_by or [], **(meta or {})}])

    def overwrite_runs(self, df: DataFrame, table: str, runs,
                       partition_by: list[str]) -> None:
        """Iceberg's ``df.writeTo(t).overwrite(F.col("__run").isin(runs))``:
        delete each ``__run=<r>`` directory, whatever sinks it holds, then
        append ``df``.  Not atomic on parquet; a crash is mended by
        re-committing the runs."""
        for r in runs:
            shutil.rmtree(os.path.join(self.path(table), f"__run={r}"),
                          ignore_errors=True)
        self.write(df, table, mode="append", partition_by=partition_by,
                   meta={"runs": list(runs)})


def append_jsonl(path: str, entries: list[dict]) -> None:
    """Append one JSON line per entry: a long-lived writer never re-reads
    the log (the commit sidecar, the checkpoint manifest)."""
    with open(path, "a") as f:
        f.write("".join(json.dumps(e) + "\n" for e in entries))
