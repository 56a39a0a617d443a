"""Pipeline DSL model + driver-side compiler.

Mirrors the reference's compile path — pipeline JSON -> PipelineConfiguration
-> compiled Pipeline (IngestPipelineFactory.java:48-58,
PipelineConfigurationFactory.java:33-50) — except the compilation target is a
pure DataFrame transform: an ordered composition of Column-expression
updates, each gated per-row on

    active = __failure IS NULL AND NOT __terminated AND NOT __dropped
             AND NOT __rerouted AND <painless `if` condition>

Failure semantics replicate EventProcessor.java:171-252: the FIRST failure
wins (`__failure` set once), and at finalize time failed rows are restored
to their pristine pre-pipeline snapshot with tag `_ingest_pipeline_failure`
and an `_ingest_pipeline_failure` metadata struct — no partial transforms
leak (SmokeTest.java:114-138 golden).

Cross-cutting per-processor options (docs/index.asciidoc:357-367):
`if`, `tag`, `ignore_failure`, `on_failure` (compiled sub-chain gated on the
just-failed rows).  Nested `pipeline` processors are inlined at compile time
with cycle detection (runtime "Cycle detected" parity with
ingest/PipelineProcessor.java + SmokeTest recursion golden).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from .document import (
    DROPPED, FAILURE, FAILURE_TYPE, INDEX_HISTORY, PRISTINE, REROUTED,
    RESERVED, TERMINATED, Step, fcol, resolver_for, staging_name,
)
from ..functions.painless import compile_condition


@dataclass
class ProcessorSpec:
    type: str
    config: dict

    @property
    def tag(self) -> str | None:
        return self.config.get("tag")

    @property
    def if_(self) -> str | None:
        return self.config.get("if")

    @property
    def ignore_failure(self) -> bool:
        return bool(self.config.get("ignore_failure", False))

    @property
    def on_failure(self) -> list["ProcessorSpec"]:
        return [_parse_processor(p) for p in self.config.get("on_failure", [])]


def _parse_processor(obj: dict) -> ProcessorSpec:
    if len(obj) != 1:
        raise ValueError(f"processor object must have exactly one key: {obj}")
    (ptype, config), = obj.items()
    return ProcessorSpec(type=ptype, config=config or {})


@dataclass
class IngestPipeline:
    """Parsed pipeline definition (name + ordered processor specs)."""

    name: str
    processors: list[ProcessorSpec]
    on_failure: list[ProcessorSpec] = dc_field(default_factory=list)

    @classmethod
    def from_json(cls, name: str, definition: str | dict) -> "IngestPipeline":
        d = json.loads(definition) if isinstance(definition, str) else definition
        return cls(
            name=name,
            processors=[_parse_processor(p) for p in d.get("processors", [])],
            on_failure=[_parse_processor(p) for p in d.get("on_failure", [])],
        )


@dataclass(frozen=True)
class LocalDim:
    """A lookup dim held on the driver: ``rows`` are tuples in ``schema``
    order.  Compiling a lookup against it runs no Spark job — the
    reference likewise loads its databases once, at startup
    (geoip/IpDatabaseProvider.java:36-99), and never queries a cluster to
    compile a pipeline."""

    rows: list[tuple]
    schema: T.StructType

    @property
    def columns(self) -> list[str]:
        return self.schema.fieldNames()


class PipelineRegistry:
    """Named pipelines + processor implementations (the Spark analogue of
    the resolver/factory pair EventProcessorBuilder.java:242-266)."""

    def __init__(self):
        self.pipelines: dict[str, IngestPipeline] = {}
        # lookup dims (geoip/lookup processors): name -> LocalDim, or a
        # DataFrame that the first compile reading it collects and
        # replaces with its LocalDim (a snapshot from then on)
        self.dims: dict[str, object] = {}
        # stored scripts (ES _scripts store analogue): the script
        # processor's `id` option resolves here instead of `source`
        self.scripts: dict[str, str] = {}
        from ..operators import PROCESSOR_IMPLS  # late import: avoid cycle
        self.impls: dict[str, Callable] = dict(PROCESSOR_IMPLS)

    def register(self, name: str, definition: str | dict) -> IngestPipeline:
        p = IngestPipeline.from_json(name, definition)
        self.pipelines[name] = p
        return p

    def register_dir(self, path: str) -> None:
        """Load every ``*.json`` in a directory — either one pipeline per
        file named ``<stem>`` (the reference's local-directory resolver,
        LocalDirectoryPipelineConfigurationResolver.java) or the
        Elasticsearch GET ``_ingest/pipeline`` API response format
        (``{"id": {definition}, ...}``, possibly several per file — the
        reference's elasticsearch-api-format-pipelines fixtures), which
        registers each id."""
        import json as _json
        import pathlib
        for f in sorted(pathlib.Path(path).glob("*.json")):
            text = f.read_text()
            parsed = _json.loads(text)
            if (isinstance(parsed, dict) and parsed
                    and "processors" not in parsed
                    and all(isinstance(v, dict) and "processors" in v
                            for v in parsed.values())):
                for pid, definition in parsed.items():
                    self.register(pid, definition)
            else:
                self.register(f.stem, text)


@dataclass
class CompileContext:
    registry: PipelineRegistry
    pipeline_name: str
    compile_stack: tuple[str, ...] = ()
    # extra gate ANDed into every processor's active condition (used by
    # on_failure sub-chains and inlined nested pipelines)
    extra_gate: Column | None = None

    def base_active(self, df: DataFrame) -> Column:
        # the engine-state condition is frame-independent (unresolved
        # column refs by fixed names) — build it once per context instead
        # of ~10 py4j calls per processor (r6 driver-time trim)
        cond = getattr(self, "_state_cond", None)
        if cond is None:
            cond = (
                fcol(FAILURE).isNull()
                & ~fcol(TERMINATED)
                & ~fcol(DROPPED)
                & ~fcol(REROUTED)
            )
            object.__setattr__(self, "_state_cond", cond)
        if self.extra_gate is not None:
            cond = cond & self.extra_gate
        return cond

    def active(self, df: DataFrame, spec: ProcessorSpec) -> Column:
        cond = self.base_active(df)
        if spec.if_:
            cond = cond & compile_condition(
                spec.if_, resolver_for(df), spec.config.get("params"))
        return cond

    def fail(self, target, cond: Column, spec: ProcessorSpec,
             message: Column | str):
        """Row-level processor failure, folded into the :class:`Step`
        ``target`` (a DataFrame ``target`` gets a step of its own and comes
        back as a DataFrame).  Honors ignore_failure / on_failure; otherwise
        stamps __failure (first failure wins)."""
        if isinstance(target, DataFrame):
            st = Step(target)
            self.fail(st, cond, spec, message)
            return st.done()
        st = target
        if spec.ignore_failure:
            return st
        msg = F.lit(message) if isinstance(message, str) else message
        handlers = spec.on_failure
        if handlers:
            # run the on_failure sub-chain only on the rows that just failed:
            # the marker and the step so far must be real columns first
            marker = staging_name("__pfail_", self.compile_stack,
                                  self.pipeline_name, spec.type, spec.config)
            st.flush()
            hit = F.coalesce(cond, F.lit(False))
            st.write(marker, hit)
            meta = {
                "_ingest.on_failure_message": msg,
                "_ingest.on_failure_processor_type": F.lit(spec.type),
                "_ingest.on_failure_processor_tag": F.lit(spec.tag),
                # ES IngestDocument ON_FAILURE_PIPELINE_FIELD: the
                # pipeline the failing processor belonged to
                "_ingest.on_failure_pipeline": F.lit(self.pipeline_name),
            }
            st.guarded(hit, meta)
            sub_ctx = CompileContext(
                registry=self.registry,
                pipeline_name=self.pipeline_name,
                compile_stack=self.compile_stack,
                extra_gate=(fcol(marker) if self.extra_gate is None
                            else self.extra_gate & fcol(marker)),
            )
            st.rebase(_compile_chain(st.flush(), handlers, sub_ctx))
            st.drop(marker, *meta)
            return st
        st.fail(cond, F.struct(
            F.lit(self.pipeline_name).alias("pipeline"),
            F.lit(spec.type).alias("processor_type"),
            F.lit(spec.tag).alias("processor_tag"),
            msg.alias("message"),
        ))
        return st


def _compile_chain(df: DataFrame, specs: list[ProcessorSpec],
                   ctx: CompileContext) -> DataFrame:
    for spec in specs:
        impl = ctx.registry.impls.get(spec.type)
        if impl is None:
            # parity with the reference's unsupported-processor behavior:
            # the whole pipeline fails for every routed row
            # (spec/integration/elastic_integration_spec.rb:1515-1570)
            df = ctx.fail(
                df, ctx.base_active(df), spec,
                f"No processor type exists with name [{spec.type}]")
            continue
        df = impl(df, spec, ctx)
    return df


def compile_pipeline(pipeline: IngestPipeline, registry: PipelineRegistry,
                     compile_stack: tuple[str, ...] = (),
                     extra_gate: Column | None = None):
    """-> df transform running the pipeline's processor chain."""

    def transform(df: DataFrame) -> DataFrame:
        ctx = CompileContext(
            registry=registry,
            pipeline_name=pipeline.name,
            compile_stack=compile_stack + (pipeline.name,),
            extra_gate=extra_gate,
        )
        out = _compile_chain(df, pipeline.processors, ctx)
        if pipeline.on_failure:
            # pipeline-level on_failure: handles rows failed inside this
            # pipeline; clears the failure, then runs the handler chain.
            # The marker MUST be materialized into a column before FAILURE
            # is cleared (a lazy expression would re-evaluate against the
            # cleared column and never fire).
            st = Step(out)
            plf = (fcol(FAILURE).isNotNull()
                   & (fcol(FAILURE)["pipeline"] == pipeline.name))
            st.write("__plf", plf)
            st.write(FAILURE, F.when(plf, F.lit(None).cast(FAILURE_TYPE))
                     .otherwise(fcol(FAILURE)))
            gate = fcol("__plf")
            hctx = CompileContext(
                registry=registry, pipeline_name=pipeline.name,
                compile_stack=compile_stack + (pipeline.name,),
                extra_gate=(gate if extra_gate is None else extra_gate & gate))
            out = _compile_chain(st.done(), pipeline.on_failure, hctx)
            out = out.drop("__plf")
        return out

    return transform


def prepare(st: Step) -> None:
    """Add engine state columns + pristine snapshot (the analogue of keeping
    the original Event alive while the IngestDocument mutates —
    EventProcessor.java:176-184 needs it back on failure).  Written into
    the caller's step, so columns the caller wrote before (the router's
    ``_index``) are part of the snapshot.

    Input ``tags`` shape enforcement (IngestDuplexMarshaller.java:486-509
    sanitizeEventOptionalTags): a string becomes a one-element list, a
    string-array passes through, and any non-coercible shape moves to
    ``_tags`` (the engine's required tags column is recreated empty) —
    BEFORE the pristine snapshot, so failure-restore keeps the sanitized
    view."""
    if "tags" in st.columns:
        dt = st.field_type("tags")
        if isinstance(dt, T.StringType):
            st.write("tags", F.array(st.col("tags")))
        elif not (isinstance(dt, T.ArrayType)
                  and isinstance(dt.elementType, T.StringType)):
            st.write("_tags", st.col("tags"), dt)
            st.write("tags", F.lit(None).cast("array<string>"))
    user_cols = [c for c in st.columns if c not in RESERVED]
    st.write(PRISTINE, F.struct(*[st.col(c).alias(c) for c in user_cols]))
    if "tags" not in st.columns:
        st.write("tags", F.lit(None).cast("array<string>"))
    st.write(FAILURE, F.lit(None).cast(FAILURE_TYPE), FAILURE_TYPE)
    for flag in (TERMINATED, DROPPED, REROUTED):
        st.write(flag, F.lit(False), T.BooleanType())
    st.write(INDEX_HISTORY,
             F.array(st.col("_index")) if "_index" in st.columns
             else F.lit(None).cast("array<string>"))


def finalize(st: Step) -> None:
    """Post-pipeline failure restoration: failed rows revert to the pristine
    snapshot, gain tag `_ingest_pipeline_failure` and the failure metadata
    struct (EventProcessor.java:246-252; docs/index.asciidoc metadata table).
    Success rows get `target_ingest_pipeline = _none`
    (EventProcessor.java:60-61,233-234).  Written into the caller's step;
    later writes read the restored values through ``st.col``."""
    failed = fcol(FAILURE).isNotNull()
    pristine_dt = {f.name: f.dataType
                   for f in st.field_type(PRISTINE).fields}
    rewrapped: list[str] = []
    for c in st.columns:
        if c in RESERVED or c == "tags":
            continue
        cur = st.field_type(c)
        if c in pristine_dt:
            restored = fcol(PRISTINE)[c]
            # a processor may have retyped the column (e.g. append's
            # scalar->array promotion): coerce the pristine value to match
            if pristine_dt[c] != cur:
                if (isinstance(cur, T.ArrayType)
                        and cur.elementType == pristine_dt[c]):
                    restored = F.when(restored.isNotNull(), F.array(restored))
                    rewrapped.append(c)
                else:
                    restored = restored.cast(cur)
            st.write(c, F.when(failed, restored).otherwise(fcol(c)), cur)
        else:
            st.write(c, F.when(failed, F.lit(None)).otherwise(fcol(c)), cur)
    pristine_tags = (fcol(PRISTINE)["tags"] if "tags" in pristine_dt
                     else F.lit(None).cast("array<string>"))
    st.write("tags", F.when(
        failed,
        F.array_union(F.coalesce(pristine_tags, F.array()),
                      F.array(F.lit("_ingest_pipeline_failure"))),
    ).otherwise(fcol("tags")))
    for c in rewrapped:
        # restored pristine value is a wrapped scalar — per-row registry
        # keeps it rendering/reading as the scalar it was
        st.scalarset_update(c, added=failed, cleared=F.lit(False))
    st.write("_ingest_pipeline_failure", F.when(failed, F.struct(
        fcol(FAILURE)["pipeline"].alias("pipeline"),
        fcol(FAILURE)["message"].alias("message"),
        fcol(FAILURE)["processor_type"].alias("exception"),
    )))
    st.write("target_ingest_pipeline", F.when(~failed, F.lit("_none")))
    sanitize_reserved(st)
    surface_ingest_document_metadata(st)
    st.drop(PRISTINE)


def _ts_fallback(st: Step):
    """@timestamp fallback chain (IngestDuplexMarshaller.java
    sanitizeEventRequiredTimestamp): `event.created` -> ingest timestamp
    (current_timestamp is evaluated once per query — the Spark analogue of
    the document's init/ingest time)."""
    now_s = F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    chain = []
    if isinstance(st.field_type("event.created"), T.StringType):
        ec = st.col("event.created")
        chain.append(F.when(F.try_to_timestamp(ec).isNotNull(), ec))
    chain.append(now_s)
    return F.coalesce(*chain)


def sanitize_reserved(st: Step) -> None:
    """Reserved-field sanitization on the way out (SURVEY §1.3;
    IngestDuplexMarshaller.java:237-252,357-509 + docs/index.asciidoc
    fallback table):

    - ``@timestamp`` that is not a coercible timestamp moves to
      ``_@timestamp`` (dissect golden, spec/integration/
      elastic_integration_spec.rb:323) and the required value falls back
      to ``event.created`` then the ingest timestamp;
    - ``@version`` must be a string-encoded integer else it moves to
      ``_@version`` and the default "1" applies;
    - ``@metadata`` must be map-shaped (MapType/StructType in the static
      model) else it moves to ``_@metadata`` and an empty map applies.
    """
    if "@timestamp" in st.columns:
        dt = st.field_type("@timestamp")
        v = st.col("@timestamp")
        if isinstance(dt, T.StringType):
            coercible = F.coalesce(
                F.try_to_timestamp(v),
                F.try_to_timestamp(v, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
                F.try_to_timestamp(v, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
            ).isNotNull()
            st.write("_@timestamp", F.when(v.isNotNull() & ~coercible, v))
            st.write("@timestamp",
                     F.when(coercible, v).otherwise(_ts_fallback(st)))
        elif not isinstance(dt, (T.TimestampType, T.DateType)):
            # non-string, non-temporal: the reference brute-forces
            # toString -> Timestamp(...), which fails for these shapes ->
            # original to _@timestamp, required value from the fallbacks
            st.write("_@timestamp", v, dt)
            st.write("@timestamp", _ts_fallback(st))
    if "@version" in st.columns:
        v = st.col("@version").cast("string")
        ok = v.rlike("^[0-9]+$")
        st.write("_@version", F.when(v.isNotNull() & ~ok, v))
        st.write("@version", F.when(ok, v).otherwise(F.lit("1")))
    if "@metadata" in st.columns:
        dt = st.field_type("@metadata")
        if not isinstance(dt, (T.MapType, T.StructType)):
            st.write("_@metadata", st.col("@metadata"), dt)
            st.write("@metadata", F.create_map().cast("map<string,string>"))


def surface_ingest_document_metadata(st: Step) -> None:
    """``[@metadata][_ingest_document]`` surfacing
    (IngestDuplexMarshaller.java:331-346 normalizeIngestDocumentMetadata):
    the document's index/id/version/version_type/routing plus the ingest
    timestamp become the flat struct column ``@metadata._ingest_document``
    (the flat-model spelling of the nested path).  Only metadata columns
    present in the frame are included (nulls are removed in the
    reference); ``version`` defaults to 1 and ``timestamp`` is always
    set."""
    parts = []
    for out_name, col_name in (("index", "_index"), ("id", "_id"),
                               ("version_type", "_version_type"),
                               ("routing", "_routing")):
        if col_name in st.columns:
            parts.append(st.col(col_name).alias(out_name))
    version = (st.col("_version").cast("long") if "_version" in st.columns
               else F.lit(1).cast("long"))
    parts.append(version.alias("version"))
    parts.append(F.date_format(
        F.current_timestamp(),
        "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias("timestamp"))
    st.write("@metadata._ingest_document", F.struct(*parts))


def run_pipeline(df: DataFrame, name: str, registry: PipelineRegistry,
                 keep_state: bool = False) -> DataFrame:
    """One-shot: prepare -> compiled chain -> finalize.  For the router's
    reroute fixpoint use the pieces directly (router.py keeps state across
    iterations)."""
    pipeline = registry.pipelines[name]
    st = Step(df)
    prepare(st)
    out = compile_pipeline(pipeline, registry)(st.done())
    st = Step(out)
    finalize(st)
    if not keep_state:
        st.drop(FAILURE, TERMINATED, REROUTED, INDEX_HISTORY)
    return st.done()
