"""Per-input-file checkpoint manifest -> resumable, incremental runs.

Unit of resumability = the *input file* (stable across runs, unlike Spark
partition ids).  A run appends one JSON line per completed file to
``manifest.jsonl``; the next lists the input path on the driver and reads
only the files the manifest lacks (Spark's file-stream source log, Delta's
commit log), so neither its plan nor its manifest write grows with history.
"""

from __future__ import annotations

import json
import os
import re
import time
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, types as T

from .catalog import append_jsonl


class CheckpointManifest:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.path = os.path.join(run_dir, "manifest.jsonl")

    def completed_files(self) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as f:
            return {json.loads(line)["file"] for line in f}

    def input_files(self, spark: SparkSession, input_path: str) -> list[str]:
        """Input files not yet completed, sorted, as ``input_file_name()``
        spells them.  A given schema lists the path on the driver with no
        footer job; over 32 directories on one level cost a listing job."""
        listed = spark.read.schema(T.StructType()).parquet(input_path)
        return sorted(set(listed.inputFiles()) - self.completed_files())

    def mark_done(self, files: list[str], stats: dict | None = None) -> None:
        append_jsonl(self.path, [{"file": fl, "ts": time.time(),
                                  **(stats or {})} for fl in files])


def read_files(spark: SparkSession, input_path: str,
               files: list[str]) -> DataFrame:
    """Read only ``files``, URIs from :meth:`CheckpointManifest.input_files`,
    with ``input_path``'s partition columns.  Spark globs read paths, so each
    is percent-decoded and glob-escaped; ``input_file_name()`` gives back the
    URI.  Over 32 files (a first run over a backlog) cost a listing job."""
    paths = [re.sub(r"[\[\]{}*?\\]", r"\\\g<0>", unquote(f)) for f in files]
    return spark.read.option("basePath", input_path).parquet(*paths)
