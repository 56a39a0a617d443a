"""User-facing facade — the API surface a user of the reference plugin
lands on when switching to Spark.

Mirrors the plugin's configuration surface (lib/logstash/filters/
elastic_integration.rb): pipeline definitions (a dict or a local directory
of JSON files — the LocalDirectoryPipelineConfigurationResolver shape),
lookup dims (geoip databases analogue), and a ``filter`` method standing
in for ``multi_filter``.  Event->pipeline resolution is the ``Router``'s,
the one path behind every entry point: the ``pipeline_name`` option (a
constant or sprintf template, SprintfTemplateEventToPipelineNameResolver.
java:32-60) or else the datastream index routing table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .plans.pipeline import LocalDim, PipelineRegistry
from .router import Router
from .sources.mmdb import load_mmdb_dim


class SparkIngestFilter:
    """Drop-in-shaped engine: configure once, call :meth:`filter` per batch
    DataFrame (the ``multi_filter`` analogue — every input row comes back,
    transformed / failure-tagged / cancelled-flagged).

    Plugin-option parity (docs/index.asciidoc:375-396): ``pipeline_name``,
    ``geoip_database_directory``, and the pipeline/template sources map
    1:1.  ``pipeline_name`` is handed to the ``Router`` as is, so it
    resolves exactly as the reference does (EventProcessor.java:113-168):
    an unresolved template passes the row through, ``_none`` bypasses, and
    a name that is not loaded returns the original row tagged
    ``_ingest_pipeline_failure`` ("pipeline not loaded").  The remaining
    reference options — ``hosts``/``cloud_id``/``api_key``/``username``/
    ``password``/``proxy``/``ssl_*`` — exist only to FETCH pipeline
    definitions and databases from a live Elasticsearch cluster; this
    engine takes those same artifacts locally (``pipelines=`` dir/dict,
    ``dims=``, ``geoip_database_directory=``), so connectivity/auth options
    have no analogue by construction rather than as a gap.  Lookup dims
    are driver-local (``LocalDim``, or a DataFrame that the first compile
    collects once), so ``filter`` only builds a plan and runs no Spark
    job."""

    def __init__(self,
                 pipelines: dict | str | None = None,
                 routing: dict[str, str] | None = None,
                 pipeline_name: str | None = None,
                 dims: dict[str, LocalDim | DataFrame] | None = None,
                 geoip_database_directory: str | None = None,
                 max_hops: int = 3):
        self.registry = PipelineRegistry()
        if isinstance(pipelines, str):
            self.registry.register_dir(pipelines)
        elif pipelines:
            for name, definition in pipelines.items():
                self.registry.register(name, definition)
        if dims:
            self.registry.dims.update(dims)
        # plugin option geoip_database_directory (elastic_integration.rb:99):
        # every *.mmdb in the directory becomes a lookup dim keyed by its
        # FILENAME — exactly how the reference matches a processor's
        # database_file.  Parsed here, on the driver, like the reference's
        # load at plugin start.
        if geoip_database_directory is not None:
            for fn in sorted(os.listdir(geoip_database_directory)):
                if fn.endswith(".mmdb") and fn not in self.registry.dims:
                    self.registry.dims[fn] = load_mmdb_dim(
                        os.path.join(geoip_database_directory, fn))
        self.router = Router(registry=self.registry, routing=routing or {},
                             max_hops=max_hops, pipeline_name=pipeline_name)

    def filter(self, df: DataFrame) -> DataFrame:
        return self.router.execute(df)
