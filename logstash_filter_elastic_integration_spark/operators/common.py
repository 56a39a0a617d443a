"""Shared helpers for processor implementations."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..plans.document import Step, fcol

_MUSTACHE = re.compile(r"\{\{\{?([^}]+?)\}?\}\}")


def template_column(df: DataFrame, template) -> Column:
    """Mustache template -> Column (concat of literals and field refs).

    The reference renders mustache via the embedded script service
    (EventProcessorBuilder.java:236); values like ``{{field}}`` /
    ``{{{field}}}`` interpolate document fields.  Non-string values pass
    through as literals.
    """
    if not isinstance(template, str):
        return F.lit(template)
    parts: list[Column] = []
    pos = 0
    for m in _MUSTACHE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos:m.start()]))
        ref = m.group(1).strip()
        if ref == "_ingest.timestamp":
            # ES IngestDocument metadata: the pipeline's ingest instant
            # (UTC ISO-8601); current_timestamp is per-query-constant,
            # the Spark analogue of the per-batch ingest time.  Rendered
            # explicitly in UTC (r5 ADVICE: to_utc_timestamp(...,'UTC')
            # was a no-op and date_format used the SESSION zone, so a
            # non-UTC session produced local time + local offset):
            # convert_timezone yields a TIMESTAMP_NTZ carrying the UTC
            # wall clock, which date_format renders zone-independently.
            parts.append(F.date_format(
                F.convert_timezone(F.current_timezone(), F.lit("UTC"),
                                   F.current_timestamp()),
                "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
        elif ref.startswith("_ingest.on_failure") and ref in df.columns:
            parts.append(F.coalesce(fcol(ref).cast("string"), F.lit("")))
        elif ref in df.columns:
            parts.append(F.coalesce(fcol(ref).cast("string"), F.lit("")))
        else:
            parts.append(F.lit(""))
        pos = m.end()
    if not parts:
        return F.lit(template)
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def str_targets(df: DataFrame, spec, ctx, fn, elementwise: bool = True):
    """Common shape for scalar string processors (trim/lower/upper/gsub/…):
    field (str|list), optional target_field, ignore_missing; arrays get the
    fn mapped over elements via a higher-order function (stays JVM-side)."""
    cfg = spec.config
    fields = cfg["field"] if isinstance(cfg["field"], list) else [cfg["field"]]
    target = cfg.get("target_field")
    ignore_missing = cfg.get("ignore_missing", False)
    active = ctx.active(df, spec)
    st = Step(df)
    for f_name in fields:
        dst = target or f_name
        dt = st.field_type(f_name)
        # rows an earlier field failed keep their values (the processor
        # stopped there)
        live = st.alive(active)
        if dt is None:
            if not ignore_missing:
                ctx.fail(st, active, spec,
                         f"field [{f_name}] not present as part of path [{f_name}]")
            continue
        src = st.col(f_name)
        if isinstance(dt, T.ArrayType) and elementwise:
            new = F.transform(src, fn)
        else:
            new = fn(src)
        if not ignore_missing:
            ctx.fail(st, active & src.isNull(), spec,
                     f"field [{f_name}] is null, cannot be processed")
        st.guarded(live & src.isNotNull(), {dst: new})
    return st.done()
