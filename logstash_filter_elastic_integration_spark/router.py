"""Router: datastream resolution -> pipeline execution -> reroute fixpoint
-> multi-sink fan-out with per-sink aggregates.

Mirrors, Spark-first, the per-event orchestration of EventProcessor.java:
 - index resolution from ``data_stream.{type,dataset,namespace}``
   (DatastreamEventToIndexNameResolver.java:27-54)
 - index -> default pipeline via a routing table (the analogue of the
   ``_simulate_index`` template lookup, ElasticsearchIndexNameToPipeline-
   NameResolver.java:38-70) — compiled to a broadcast-free WHEN-chain since
   the table is a small driver-side dict
 - ``_none`` bypass + unresolved-index passthrough
   (EventProcessor.java:128-139)
 - the reroute loop with index-history cycle detection
   (EventProcessor.java:190-228) — compiled as ``max_hops`` STATIC rounds of
   gated pipeline application, so the whole fixpoint is ONE narrow
   shuffle-free plan: no driver-side data inspection, no per-hop jobs
 - fan-out: one pass computing the route column, one partitioned write
   (no per-sink re-scan), plus the per-sink aggregate table the north rule
   verifies (counts by conv bucket / role / tool / ts window).  ``commit``,
   the one sink commit of batch jobs and streams, replaces both per run.

Scale notes (100 TB): the processor chain is a narrow projection — the only
shuffles in the whole job are (a) the per-sink aggregate (partial+final
hash agg) and (b) the optional salted repartition before the fan-out write
that defuses hot-conversation / hot-sink skew in output file sizes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from .plans.document import (
    DROPPED, FAILURE, INDEX_HISTORY, REROUTED, TERMINATED, Step, fcol,
)
from .plans.pipeline import (
    CompileContext, PipelineRegistry, ProcessorSpec, compile_pipeline,
    finalize, prepare,
)


@dataclass
class Router:
    registry: PipelineRegistry
    # routing table: _index exact name or 'prefix-*' pattern -> pipeline name
    routing: dict[str, str]
    max_hops: int = 3
    bucket_count: int = 16
    ts_window: str = "1 hour"
    # pipeline-name override resolvers (plugin `pipeline_name` option).
    # pipeline_name: a constant or sprintf template ("logs-%{[svc]}") that
    # BYPASSES index-based resolution (SprintfTemplateEventToPipelineName-
    # Resolver.java:32-60).  Per row, as the reference (EventProcessor.java:
    # 113-168): a template that doesn't fully resolve passes the row
    # through unmodified, `_none` bypasses, and a name that is not loaded
    # returns the original row failure-tagged "pipeline not loaded [name]".
    # pipeline_field: take the name from a field's string value (FieldValue-
    # EventToPipelineNameResolver.java), same semantics.  Reroute hops still
    # re-resolve via the index, like the reference's reroute loop.
    pipeline_name: str | None = None
    pipeline_field: str | None = None
    def _index_expr(self, st: Step) -> Column:
        """``_index`` from ``data_stream.{type,dataset,namespace}``."""
        parts = []
        for c, default in (("data_stream.type", "logs"),
                           ("data_stream.dataset", "generic"),
                           ("data_stream.namespace", "default")):
            parts.append(F.coalesce(st.col(c).cast("string"), F.lit(default))
                         if c in st.columns else F.lit(default))
        return F.concat_ws("-", *parts)

    def _resolve_pipeline_name(self, st: Step) -> Column:
        """Initial per-row pipeline name: override resolvers first
        (sprintf template / field value), else the index routing table.
        Null = unresolved -> the row passes through unmodified."""
        if self.pipeline_name is not None:
            return self._sprintf_expr(self.pipeline_name, st)
        if self.pipeline_field is not None:
            if self.pipeline_field not in st.columns:
                return F.lit(None).cast("string")
            return st.col(self.pipeline_field).cast("string")
        return self._pipeline_for_index(st.col("_index"))

    _SPRINTF = __import__("re").compile(r"%\{([^}]+)\}")

    def _sprintf_expr(self, template: str, st: Step) -> Column:
        """Logstash sprintf template -> Column.  Field refs ``%{name}`` /
        ``%{[a][b]}`` map to (dotted) flat columns; a reference to a
        missing column or a null value leaves the template unresolved for
        that row (the reference checks for a leftover ``%{`` and returns
        empty -> passthrough)."""
        parts: list[Column] = []
        unresolved = F.lit(False)
        pos = 0
        for m in self._SPRINTF.finditer(template):
            if m.start() > pos:
                parts.append(F.lit(template[pos:m.start()]))
            ref = m.group(1)
            name = ref.strip("[]").replace("][", ".")
            if name in st.columns:
                col = st.col(name).cast("string")
                unresolved = unresolved | col.isNull()
                parts.append(F.coalesce(col, F.lit("")))
            else:
                unresolved = F.lit(True)
            pos = m.end()
        if pos < len(template):
            parts.append(F.lit(template[pos:]))
        value = F.concat(*parts) if parts else F.lit("")
        return F.when(~unresolved, value)

    def _pipeline_for_index(self, index: Column) -> Column:
        """Routing WHEN-chain: exact entries first, then '*' prefixes by
        specificity.  Null = unresolved -> passthrough."""
        out = F.lit(None).cast("string")
        exact = {k: v for k, v in self.routing.items() if not k.endswith("*")}
        prefixes = sorted((k for k in self.routing if k.endswith("*")),
                          key=len, reverse=True)
        chain = F.when(F.lit(False), F.lit(None).cast("string"))
        for k, v in exact.items():
            chain = chain.when(index == k, F.lit(v))
        for k in prefixes:
            chain = chain.when(index.startswith(k[:-1]), F.lit(self.routing[k]))
        return chain.otherwise(out)

    # ------------------------------------------------ reroute analysis ----
    def _pipeline_reroutes(self, name: str) -> list[dict]:
        """Static scan: reroute processor configs reachable from a pipeline
        (including literal nested `pipeline` calls)."""
        out: list[dict] = []
        seen: set[str] = set()

        def scan(pname: str):
            if pname in seen or pname not in self.registry.pipelines:
                return
            seen.add(pname)
            stack = list(self.registry.pipelines[pname].processors)
            while stack:
                spec = stack.pop()
                if spec.type == "reroute":
                    out.append(spec.config)
                elif spec.type == "pipeline":
                    sub = spec.config.get("name", "")
                    if "{{" not in sub:
                        scan(sub)
                stack.extend(spec.on_failure)

        scan(name)
        return out

    def _next_hop_pipelines(self, current: list[str]) -> list[str]:
        """Pipelines reachable via the reroutes of `current` (superset-safe:
        dynamic/templated targets fall back to every routed pipeline)."""
        nxt: list[str] = []

        def add(p):
            if p and p != "_none" and p not in nxt:
                nxt.append(p)

        for name in current:
            for cfg in self._pipeline_reroutes(name):
                dest = cfg.get("destination")
                if dest is not None:
                    if "{{" in str(dest):
                        return self._reachable_pipelines()
                    add(self._match_routing(dest))
                    continue
                dataset, namespace = cfg.get("dataset"), cfg.get("namespace")
                if "{{" in str(dataset) or "{{" in str(namespace):
                    return self._reachable_pipelines()
                # match routing keys against the literal dataset/namespace
                for key, pipe in self.routing.items():
                    parts = key.rstrip("*").split("-")
                    ds_ok = dataset is None or (len(parts) > 1 and parts[1] in (dataset, ""))
                    ns_ok = namespace is None or key.endswith("*") or (
                        len(parts) > 2 and parts[2] in (namespace, ""))
                    if ds_ok and ns_ok:
                        add(pipe)
        return nxt

    def _match_routing(self, index: str) -> str | None:
        for k, v in self.routing.items():
            if not k.endswith("*") and k == index:
                return v
        for k in sorted((k for k in self.routing if k.endswith("*")),
                        key=len, reverse=True):
            if index.startswith(k[:-1]):
                return self.routing[k]
        return None

    def execute(self, df: DataFrame) -> DataFrame:
        """prepare -> [resolve -> gated pipelines -> reroute]* -> finalize.
        Emits ``__sink`` (final _index) on every surviving row.

        The fixpoint is compiled STATICALLY: hop 0 inlines the pipelines the
        routing table can reach; hop k>0 inlines only pipelines reachable
        via hop k-1's reroute targets (static analysis above), and the loop
        stops as soon as no reroute-capable pipeline remains — so a
        reroute-free routing table compiles to exactly one narrow pass.
        Every call compiles afresh against the current configuration and
        the input's current file listing."""
        st = Step(df)
        if "_index" not in st.columns:
            st.write("_index", self._index_expr(st), T.StringType())
        prepare(st)
        st.write("__pipeline", self._resolve_pipeline_name(st))
        df = st.done()

        hop_pipelines = self._reachable_pipelines()
        if self.pipeline_name is not None or self.pipeline_field is not None:
            # dynamic override can resolve to names no static analysis can
            # enumerate: rows naming an unregistered pipeline fail with the
            # reference's "pipeline not loaded" (EventProcessor.java:160-168).
            # Sorted: a set's order follows PYTHONHASHSEED, and the plan
            # must not differ between driver processes.
            known = sorted(set(self.registry.pipelines) | {"_none"})
            unknown = (fcol("__pipeline").isNotNull()
                       & ~fcol("__pipeline").isin(*known))
            ctx = CompileContext(self.registry, "_resolver")
            df = ctx.fail(df, ctx.base_active(df) & unknown,
                          ProcessorSpec("pipeline", {}),
                          F.concat(F.lit("pipeline not loaded ["),
                                   fcol("__pipeline"), F.lit("]")))
        for hop in range(self.max_hops):
            if not hop_pipelines:
                break
            for name in hop_pipelines:
                pipe = self.registry.pipelines.get(name)
                gate = (fcol("__pipeline") == name) & (fcol("__pipeline") != "_none")
                if pipe is None:
                    # resolved to an unregistered pipeline: reference emits
                    # original + failure "pipeline not loaded"
                    # (EventProcessor.java:160-168)
                    ctx = CompileContext(self.registry, name)
                    df = ctx.fail(df, ctx.base_active(df) & gate,
                                  ProcessorSpec("pipeline", {}),
                                  f"pipeline not loaded [{name}]")
                    continue
                df = compile_pipeline(pipe, self.registry, extra_gate=gate)(df)

            # reroute handling: cycle-check then re-resolve for another hop
            if not any(self._pipeline_reroutes(p) for p in hop_pipelines):
                break  # nothing can have rerouted: fixpoint reached
            hop_pipelines = self._next_hop_pipelines(hop_pipelines)
            rer = fcol(REROUTED)
            hist = fcol(INDEX_HISTORY)
            seen_before = (F.size(F.filter(
                hist, lambda x: x == fcol("_index"))) > 1)
            cycle = rer & seen_before
            st = Step(df)
            ctx = CompileContext(self.registry, "_reroute")
            ctx.fail(st, cycle & fcol(FAILURE).isNull(),
                     ProcessorSpec("reroute", {}),
                     "index cycle detected while processing event")
            # rows that completed this hop (not rerouted) are done; only
            # healthy rerouted rows get a pipeline for the next hop.
            # TERMINATED/REROUTED reset per hop — each hop is a fresh
            # pipeline execution (IngestDocument resets between executions).
            st.write("__pipeline", F.when(
                rer & st.col(FAILURE).isNull(),
                self._pipeline_for_index(fcol("_index")))
                .otherwise(F.lit(None).cast("string")))
            st.write(REROUTED, F.lit(False))
            st.write(TERMINATED, F.lit(False))
            df = st.done()

        st = Step(df)
        finalize(st)
        st.write("__sink", F.coalesce(st.col("_index"), F.lit("_unrouted")))
        st.drop("__pipeline")
        return st.done()

    def _reachable_pipelines(self) -> list[str]:
        """Pipelines hop 0 can assign.  With a constant pipeline_name
        override only that one is reachable; a dynamic override (sprintf
        template / field value) can produce any registered name, so every
        registered pipeline gets a gated inline (superset-safe — gates are
        per row).  Otherwise: the routing table's targets."""
        if self.pipeline_name is not None:
            if "%{" not in self.pipeline_name:
                return ([self.pipeline_name]
                        if self.pipeline_name != "_none" else [])
            return list(self.registry.pipelines)
        if self.pipeline_field is not None:
            return list(self.registry.pipelines)
        seen: list[str] = []
        for v in self.routing.values():
            if v not in seen and v != "_none":
                seen.append(v)
        return seen

    # ---------------------------------------------------------- sinks -----
    def sink_counts(self, executed: DataFrame,
                    dropped_filtered: bool = False) -> DataFrame:
        """Per-sink aggregate table (north-rule verification shape,
        FIXTURES.md §5): counts by sink x conv bucket x role x tool x ts
        window (and ``__run`` when present).  Partial+final hash
        aggregation; the xxhash64 bucket also breaks up hot conversations
        on the shuffle.  Pass dropped_filtered=True when reading back
        already-written sink data (cancelled rows were excluded at write
        time)."""
        data = executed if dropped_filtered else executed.filter(~fcol(DROPPED))
        by_run = ["__run"] if "__run" in data.columns else []
        return (data.groupBy(
            *by_run,
            F.col("__sink").alias("sink"),
            F.pmod(F.xxhash64("conv_id"), F.lit(self.bucket_count))
             .cast("int").alias("conv_bucket"),
            "role", "tool",
            F.window("ts", self.ts_window)["start"].alias("ts_window"))
            .agg(F.count(F.lit(1)).alias("n")))

    @staticmethod
    def _fanout_rows(executed: DataFrame, salt_partitions) -> DataFrame:
        """Surviving rows without internal columns.  Optional salted
        repartition: (sink, salt) so a hot sink/conversation cannot pin one
        output task."""
        data = executed.filter(~fcol(DROPPED)).drop(*[
            c for c in (FAILURE, DROPPED, REROUTED, INDEX_HISTORY)
            if c in executed.columns])
        if salt_partitions:
            data = data.repartition(
                salt_partitions, F.col("__sink"),
                F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(64)))
        return data

    def write_fanout(self, executed: DataFrame, catalog, table: str = "sinks",
                     salt_partitions: int | None = None) -> None:
        """Single-pass fan-out: route column computed once, ONE partitioned
        write replacing ``table`` — never N filtered re-scans of the parse
        chain."""
        catalog.write(self._fanout_rows(executed, salt_partitions), table,
                      partition_by=["__sink"])

    def commit(self, executed: DataFrame, catalog, runs,
               tables: tuple[str, str] = ("sinks", "sink_counts"),
               salt_partitions: int | None = None) -> None:
        """Replace ``runs`` — the values of ``executed``'s ``__run`` column:
        a batch job's input files, a stream's micro-batch — in the fan-out
        table ``tables[0]`` and its ``sink_counts`` table ``tables[1]``.
        ``executed`` is persisted once, so each run accounts for its own
        events once, from its own rows, as the reference does per batch
        (EventProcessor.java:171-244); a re-commit doubles nothing."""
        executed = executed.persist()
        try:
            catalog.overwrite_runs(self._fanout_rows(executed, salt_partitions),
                                   tables[0], runs, ["__run", "__sink"])
            catalog.overwrite_runs(self.sink_counts(executed), tables[1],
                                   runs, ["__run"])
        finally:
            executed.unpersist()

    @staticmethod
    def ordered_turns(executed: DataFrame) -> DataFrame:
        """Stable (conv_id, turn_idx) ordering for per-turn text equality
        verification: repartition by conv then sortWithinPartitions — a
        single shuffle, no global sort."""
        return (executed.repartition("conv_id")
                .sortWithinPartitions("conv_id", "turn_idx"))
