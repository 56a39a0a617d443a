"""Composition/routing processors: nested ``pipeline`` and ``reroute``.

``pipeline`` (ingest/PipelineProcessor.java:24-116): invokes a named
sub-pipeline; mustache-templated names; ``ignore_missing_pipeline``;
recursion => per-row "Cycle detected" failure (runtime parity with
IngestDocument.executePipeline, exercised by SmokeTest.java:162-238).
Spark mapping: compile-time inlining.  A *dynamic* (templated) name is
handled by compiling EVERY registered pipeline as a branch gated on
``resolved_name == <name>`` — static plan, bounded pipeline vocabulary.

``reroute`` (EventProcessorBuilder.java:106; loop EventProcessor.java:
190-228): rewrites the target datastream/_index and ends the current
pipeline; the driver-side fixpoint loop in router.py re-resolves and
re-runs, with index-history cycle detection.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.document import INDEX_HISTORY, REROUTED, Step, fcol
from .common import _MUSTACHE, template_column


def p_pipeline(df, spec, ctx):
    from ..plans.pipeline import compile_pipeline  # late: avoid cycle

    cfg = spec.config
    name_tmpl = cfg["name"]
    ignore_missing = cfg.get("ignore_missing_pipeline", False)
    active = ctx.active(df, spec)
    is_dynamic = bool(_MUSTACHE.search(name_tmpl))

    if not is_dynamic:
        name = name_tmpl
        if name == "_none":
            return df
        if name in ctx.compile_stack:
            return ctx.fail(
                df, active, spec,
                f"Cycle detected for pipeline: {name}")
        if name not in ctx.registry.pipelines:
            if ignore_missing:
                return df
            return ctx.fail(df, active, spec,
                            f"Pipeline processor configured for non-existent "
                            f"pipeline [{name}]")
        sub = ctx.registry.pipelines[name]
        gate = active
        return compile_pipeline(sub, ctx.registry,
                                compile_stack=ctx.compile_stack,
                                extra_gate=gate)(df)

    # dynamic name: branch per registered pipeline, gated on resolved value
    resolved = template_column(df, name_tmpl)
    marker = "__subpipe_name"
    df = df.withColumn(marker, F.when(active, resolved))
    matched_any = F.lit(False)
    for name, sub in ctx.registry.pipelines.items():
        if name in ctx.compile_stack:
            df = ctx.fail(df, fcol(marker) == name, spec,
                          f"Cycle detected for pipeline: {name}")
            continue
        gate = fcol(marker) == name
        df = compile_pipeline(sub, ctx.registry,
                              compile_stack=ctx.compile_stack,
                              extra_gate=gate)(df)
        matched_any = matched_any | gate
    none_gate = fcol(marker) == "_none"
    if not ignore_missing:
        df = ctx.fail(
            df,
            fcol(marker).isNotNull() & ~matched_any & ~none_gate,
            spec,
            "Pipeline processor configured for non-existent pipeline "
            "[" + name_tmpl + "]")
    return df.drop(marker)


def p_reroute(df, spec, ctx):
    """destination | dataset/namespace variants
    (SmokeTest.java:267-388 matrix)."""
    cfg = spec.config
    active = ctx.active(df, spec)

    if "destination" in cfg:
        new_index = template_column(df, cfg["destination"])
        updates = {"_index": new_index}
    else:
        ds_type = (fcol("data_stream.type").cast("string")
                   if "data_stream.type" in df.columns else F.lit("logs"))
        dataset = template_column(df, cfg.get("dataset", "{{data_stream.dataset}}")) \
            if cfg.get("dataset") else (
            fcol("data_stream.dataset").cast("string")
            if "data_stream.dataset" in df.columns else F.lit("generic"))
        namespace = template_column(df, cfg.get("namespace", "{{data_stream.namespace}}")) \
            if cfg.get("namespace") else (
            fcol("data_stream.namespace").cast("string")
            if "data_stream.namespace" in df.columns else F.lit("default"))
        new_index = F.concat_ws("-", ds_type, dataset, namespace)
        updates = {
            "_index": new_index,
            "data_stream.type": ds_type,
            "data_stream.dataset": dataset,
            "data_stream.namespace": namespace,
        }
    # string options render to strings, and concat_ws is one
    texts = all(isinstance(cfg.get(k, ""), str)
                for k in ("destination", "dataset", "namespace"))
    st = Step(df)
    st.guarded(active, updates,
               {k: T.StringType() for k in updates} if texts else None)
    st.write(INDEX_HISTORY, F.when(active, F.concat(
        F.coalesce(fcol(INDEX_HISTORY), F.array().cast("array<string>")),
        F.array(new_index))).otherwise(fcol(INDEX_HISTORY)))
    st.write(REROUTED, fcol(REROUTED) | active)
    return st.done()
