"""User-facing facade — the API surface a user of the reference plugin
lands on when switching to Spark.

Mirrors the plugin's configuration surface (lib/logstash/filters/
elastic_integration.rb): pipeline definitions (a dict or a local directory
of JSON files — the LocalDirectoryPipelineConfigurationResolver shape),
an event->pipeline resolution strategy (sprintf template with `_none`
bypass, SprintfTemplateEventToPipelineNameResolver.java:32-60, OR the
datastream index routing table), lookup dims (geoip databases analogue),
and a ``filter`` method standing in for ``multi_filter``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from .plans.document import Step, fcol
from .plans.pipeline import PipelineRegistry, run_pipeline
from .router import Router

_SPRINTF = re.compile(r"%\{\[?([^}\]]+)\]?\}")


def sprintf_column(df: DataFrame, template: str):
    """Logstash sprintf template ('pipe-%{[service]}') -> Column; returns
    None for any row with an unresolved field (the reference SKIPS such
    events — SprintfTemplateEventToPipelineNameResolver contract)."""
    parts = []
    pos = 0
    missing = F.lit(False)
    for m in _SPRINTF.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos:m.start()]))
        ref = m.group(1).replace("][", ".")
        if ref in df.columns:
            parts.append(fcol(ref).cast("string"))
            missing = missing | fcol(ref).isNull()
        else:
            missing = F.lit(True)
            parts.append(F.lit(""))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    col = F.concat(*parts) if parts else F.lit(template)
    return F.when(~missing, col)


class SparkIngestFilter:
    """Drop-in-shaped engine: configure once, call :meth:`filter` per batch
    DataFrame (the ``multi_filter`` analogue — every input row comes back,
    transformed / failure-tagged / cancelled-flagged).

    Plugin-option parity (docs/index.asciidoc:375-396): ``pipeline_name``
    (sprintf/field templates), ``geoip_database_directory``, and the
    pipeline/template sources map 1:1.  The remaining reference options —
    ``hosts``/``cloud_id``/``api_key``/``username``/``password``/
    ``proxy``/``ssl_*`` — exist only to FETCH pipeline definitions and
    databases from a live Elasticsearch cluster; this engine takes those
    same artifacts locally (``pipelines=`` dir/dict, ``dims=``,
    ``geoip_database_directory=``), so connectivity/auth options have no
    analogue by construction rather than as a gap."""

    def __init__(self,
                 pipelines: dict | str | None = None,
                 routing: dict[str, str] | None = None,
                 pipeline_name: str | None = None,
                 dims: dict[str, DataFrame] | None = None,
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
        # database_file.  Loaded lazily on first filter() (needs a session).
        self._geoip_dir = geoip_database_directory
        self.pipeline_name = pipeline_name  # sprintf template override
        self.router = Router(registry=self.registry, routing=routing or {},
                             max_hops=max_hops)

    def filter(self, df: DataFrame) -> DataFrame:
        if self._geoip_dir is not None:
            import os

            from .sources.mmdb import load_mmdb_dim
            for fn in sorted(os.listdir(self._geoip_dir)):
                if fn.endswith(".mmdb") and fn not in self.registry.dims:
                    self.registry.dims[fn] = load_mmdb_dim(
                        df.sparkSession, os.path.join(self._geoip_dir, fn))
            self._geoip_dir = None
        if self.pipeline_name is not None:
            return self._filter_by_template(df)
        return self.router.execute(df)

    def _filter_by_template(self, df: DataFrame) -> DataFrame:
        """Template resolution path: resolve per-row pipeline name; `_none`
        or unresolved rows pass through untouched
        (EventProcessor.java:128-139)."""
        from .plans.pipeline import compile_pipeline, finalize, prepare

        st = Step(df)
        st.write("__pipeline", sprintf_column(df, self.pipeline_name))
        prepare(st)
        df = st.done()
        for name, pipe in self.registry.pipelines.items():
            gate = fcol("__pipeline") == name
            df = compile_pipeline(pipe, self.registry, extra_gate=gate)(df)
        st = Step(df)
        finalize(st)
        st.drop("__pipeline")
        return st.done()
