"""Document/field model: ES field paths <-> flat DataFrame columns.

The reference's working document is a mutable nested ``Map<String,Object>``
(IngestDuplexMarshaller.java:79-102).  A nested MapType column would defeat
Catalyst (no pruning, no codegen on map values), so we flatten: ES field
path ``a.b.c`` is a *flat* DataFrame column literally named ``"a.b.c"``.
Column creation (`withColumn`) treats the name literally; only resolution
interprets dots, so all reads go through :func:`fcol` which backtick-quotes.

Reserved engine columns (``__``-prefixed) carry per-row pipeline state —
the Spark analogue of the IngestDocument metadata + the failure/cancel
bookkeeping in EventProcessor.java:171-252.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# engine state columns; never visible to user pipelines as fields
FAILURE = "__failure"          # struct(pipeline, processor_type, processor_tag, message)
TERMINATED = "__terminated"    # bool: `terminate` processor fired
DROPPED = "__dropped"          # bool: `drop` processor fired (event cancelled, kept)
REROUTED = "__rerouted"        # bool: `reroute` fired -> ends current pipeline
PRISTINE = "__pristine"        # struct snapshot of the pre-pipeline row
INDEX_HISTORY = "__index_history"  # array<string>: visited _index values (cycle det.)
NULLSET = "__nullset"          # array<string>: fields EXPLICITLY written null
SCALARSET = "__scalarset"      # array<string>: fields whose value in an
# array-promoted column is semantically still a SCALAR for this row
# (append's per-row parity — see p_append)
RESERVED = (FAILURE, TERMINATED, DROPPED, REROUTED, PRISTINE, INDEX_HISTORY,
            NULLSET, SCALARSET)

FAILURE_TYPE = T.StructType([
    T.StructField("pipeline", T.StringType()),
    T.StructField("processor_type", T.StringType()),
    T.StructField("processor_tag", T.StringType()),
    T.StructField("message", T.StringType()),
])


def fcol(name: str) -> Column:
    """Reference a flat column whose name may contain dots."""
    return F.col("`" + name + "`")


def has_field(df: DataFrame, path: str) -> bool:
    return path in df.columns


def field_type(df: DataFrame, path: str):
    for f in df.schema.fields:
        if f.name == path:
            return f.dataType
    return None


def resolve_field(df: DataFrame, path: str):
    """-> (Column, DataType|None).  A path with no static column falls back
    to the ``_extras`` dynamic-field map (populated by kv/json dynamic
    keys — lift-on-read), then to typed-null (string), mirroring ES
    ``ctx.missing == null`` semantics."""
    dt = field_type(df, path)
    if dt is None:
        if "_extras" in df.columns and not path.startswith("_"):
            return (F.try_element_at(fcol("_extras"), F.lit(path)),
                    T.StringType())
        return F.lit(None).cast("string"), None
    return fcol(path), dt


_EMPTY_STRS = "array<string>"


def present_expr(df: DataFrame, path: str) -> Column:
    """Per-row 'field present' — the ES ``ctx.containsKey`` contract.

    The reference document is a mutable map where a key can hold an
    explicit null (``ctx.f = null`` -> containsKey true), distinct from
    the key being absent (IngestDuplexMarshaller.java:144-152).  Flat
    columns canonically use SQL NULL for *absent*; the ``__nullset``
    registry records the fields a set/script wrote null into per row, so
    present-null != missing survives the flat encoding."""
    if path in df.columns:
        p = fcol(path).isNotNull()
        if NULLSET in df.columns:
            p = p | F.array_contains(
                F.coalesce(fcol(NULLSET), F.array().cast(_EMPTY_STRS)),
                F.lit(path))
        return p
    if "_extras" in df.columns and not path.startswith("_"):
        return F.coalesce(
            F.map_contains_key(fcol("_extras"), F.lit(path)), F.lit(False))
    return F.lit(False)


def row_is_scalar(df: DataFrame, path: str) -> Column:
    """Per-row: does this row hold `path` as a semantic scalar despite an
    array-typed column?  False everywhere when no promotion happened."""
    if SCALARSET not in df.columns:
        return F.lit(False)
    return F.array_contains(
        F.coalesce(fcol(SCALARSET), F.array().cast(_EMPTY_STRS)),
        F.lit(path))


def resolver_for(df: DataFrame):
    def resolve(path: str):
        if path == "_index":
            return resolve_field(df, "_index")
        return resolve_field(df, path)
    # presence probe for containsKey lowerings (explicit-null aware)
    resolve.present = lambda path: present_expr(df, path)
    # does the frame hold ctx.<path>: a column at or under the path
    resolve.exists = lambda path: any(
        c == path or c.startswith(path + ".") for c in df.columns)

    # schema signature of a path: everything resolve/present's OUTPUT
    # depends on for that path.  Lets compile_condition cache compiled
    # Columns across frames whose relevant schema is identical (r6 —
    # condition compilation is pure driver time, paid per processor per
    # Router.execute).
    def signature(path: str):
        dt = field_type(df, path)
        return (dt.simpleString() if dt is not None else None,
                "_extras" in df.columns, NULLSET in df.columns)
    resolve.signature = signature
    return resolve


def staging_name(prefix: str, *parts) -> str:
    """Temp-column name derived from ``parts`` by a content digest, so a
    plan is identical across driver processes (``hash()`` of a str is
    salted per process; ``id()`` differs per run)."""
    key = json.dumps(parts, sort_keys=True, default=str)
    return prefix + hashlib.sha1(key.encode()).hexdigest()[:10]


def probe_types(df: DataFrame, cols: dict) -> dict:
    """Driver-side analysis of several expressions' types in ONE select (no
    job runs).  An expression that does not resolve maps to None."""
    if not cols:
        return {}
    keys = list(cols)
    try:
        probe = df.select(*[cols[k].alias(f"__probe{i}")
                            for i, k in enumerate(keys)])
        return {k: f.dataType for k, f in zip(keys, probe.schema.fields)}
    except Exception:
        if len(keys) == 1:
            return {keys[0]: None}
        out = {}
        for k in keys:
            out.update(probe_types(df, {k: cols[k]}))
        return out


# try_cast resolves between any two of these (checked on Spark 4.1), so
# coercing the kept old value needs no probe
_ATOMIC = (T.StringType, T.BooleanType, T.ByteType, T.ShortType,
           T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
           T.DecimalType)


def _coerce_old(df: DataFrame, old: Column, old_dt, new_dt) -> Column:
    """Old-value expression coerced to the *new* column type, for rows where
    an update does not apply.  Handles the ES dynamic-typing cases our static
    schema must absorb: scalar->array promotion (append/split) and
    array->scalar narrowing (join) via cast; incompatible -> typed null."""
    if isinstance(new_dt, T.ArrayType) and new_dt.elementType == old_dt:
        return F.when(old.isNotNull(), F.array(old))
    # try_cast, not cast: ANSI cast would throw at run time on rows the
    # update didn't even apply to
    cast = old.try_cast(new_dt)
    if (isinstance(old_dt, _ATOMIC) and isinstance(new_dt, _ATOMIC)) \
            or probe_types(df, {0: cast})[0] is not None:
        return cast
    return F.lit(None).cast(new_dt)


class Step:
    """One processor's state changes, emitted by :meth:`done` as ONE
    projection (a ``withColumns``, or a ``select`` when the step also drops
    temp columns).

    Every Dataset call re-analyses the whole plan — tens of ms per call
    once the plan is large — so a processor batches its
    guarded updates, ``__failure`` stamps, registry updates and temp-column
    drops here instead of paying one call per column.  ``withColumns``
    evaluates every expression against its input, so all expressions are
    written against the step's input frame ``df``; a write that must see
    an earlier write of the same step reads it through :meth:`col`, which
    returns the pending expression.  Row failures fold into one first-wins
    CASE on ``__failure``; :meth:`alive` restricts a later condition to
    the rows the step has not failed."""

    def __init__(self, df: DataFrame):
        self.updates: dict[str, Column] = {}
        self.drops: list[str] = []
        self.rebase(df)

    def rebase(self, df: DataFrame) -> None:
        """(Re)start the step on ``df``: the input frame, or a frame derived
        from :meth:`flush`; pending drops carry over."""
        self.df = df
        # visible columns in order -> type (None: pending, not yet known)
        self._types = {f.name: f.dataType for f in df.schema.fields
                       if f.name not in self.drops}
        self._physical = set(df.columns)
        self._fails: list[tuple[Column, Column]] = []
        self._fail_base: Column | None = None

    @property
    def columns(self) -> list[str]:
        return list(self._types)

    def col(self, name: str) -> Column:
        """Current value of ``name``: its pending expression, else the input
        column."""
        return self.updates.get(name, fcol(name))

    def field_type(self, name: str):
        if name not in self._types:
            return None
        if self._types[name] is None:
            self._types[name] = probe_types(
                self.df, {name: self.col(name)})[name]
        return self._types[name]

    def write(self, name: str, value: Column, dtype=None) -> None:
        """Unconditional write (``dtype``: the value's type, when known)."""
        if name in self.drops:
            self.drops.remove(name)
        self.updates[name] = value
        self._types[name] = dtype
        if name == FAILURE:
            self._fails = []

    def drop(self, *names: str) -> None:
        for name in names:
            self._types.pop(name, None)
            self.updates.pop(name, None)
            if name in self._physical and name not in self.drops:
                self.drops.append(name)

    def guarded(self, cond: Column, updates: dict[str, Column],
                dtypes: dict | None = None) -> None:
        """Apply column updates only where ``cond``; elsewhere keep the old
        value (or null when the column is new).  This is the per-row
        `if`/failure gate — compiled straight into `F.when`, stays inside
        whole-stage codegen.  Type-changing updates coerce the kept old
        value to the new type.  ``dtypes`` declares the types of updates
        known without analysis; the rest of the updates to existing
        columns are typed by one probe select."""
        dtypes = dtypes or {}
        need = {}
        for name, new in updates.items():
            if name in self._types:
                if name not in dtypes:
                    need[("new", name)] = new
                if self._types[name] is None:
                    need[("old", name)] = self.col(name)
        probed = probe_types(self.df, need)
        for name, new in updates.items():
            if name not in self._types:
                self.write(name, F.when(cond, new), dtypes.get(name))
                continue
            old = self.col(name)
            old_dt = self._types[name]
            if old_dt is None:
                old_dt = probed[("old", name)]
            new_dt = dtypes[name] if name in dtypes else probed[("new", name)]
            if new_dt is None:  # unresolvable: Spark reports it on use
                new_dt = old_dt
            # a null-literal write (NullType) must not degrade the column:
            # when() coerces void+T -> T, keeping the existing type
            if new_dt == old_dt or isinstance(new_dt, T.NullType):
                keep, new_dt = old, old_dt
            else:
                keep = _coerce_old(self.df, old, old_dt, new_dt)
            self.write(name, F.when(cond, new).otherwise(keep), new_dt)

    def fail(self, cond: Column, failure: Column) -> None:
        """Stamp ``failure`` on the rows where ``cond`` holds, unless the row
        already failed (first failure wins)."""
        if not self._fails:
            self._fail_base = self.col(FAILURE)
        self._fails.append((cond, failure))
        case = F.when(self._fail_base.isNotNull(), self._fail_base)
        for c, f in self._fails:
            case = case.when(c, f)
        self.updates[FAILURE] = case

    def alive(self, cond: Column) -> Column:
        """``cond`` minus the rows this step has failed so far — what the
        processor's `active` gate reads once those failures are stamped."""
        if not self._fails:
            return cond
        return cond & self.col(FAILURE).isNull()

    def _registry_update(self, registry: str, path: str, added: Column,
                         cleared: Column) -> None:
        base = (self.col(registry) if registry in self._types
                else F.array().cast(_EMPTY_STRS))
        base = F.coalesce(base, F.array().cast(_EMPTY_STRS))
        self.write(registry, F.when(F.coalesce(added, F.lit(False)),
                                    F.array_union(base, F.array(F.lit(path))))
                   .when(F.coalesce(cleared, F.lit(False)),
                         F.array_remove(base, path))
                   .otherwise(base))

    def nullset_update(self, path: str, added: Column,
                       cleared: Column) -> None:
        """Maintain the explicit-null registry: rows where ``added`` holds
        gain ``path`` in ``__nullset``; rows where ``cleared`` holds lose
        it."""
        self._registry_update(NULLSET, path, added, cleared)

    def scalarset_update(self, path: str, added: Column,
                         cleared: Column) -> None:
        """Maintain the per-row scalar registry for array-promoted columns.

        The reference document is a per-row mutable map: ``append`` on a
        scalar field turns THAT row's value into a list, while other rows
        keep their scalar (IngestDocument.appendFieldValue).  A typed
        columnar schema must promote the whole column to array, so rows the
        append did NOT touch record their path here; readers (painless
        interpreter, per-row renderings) unwrap a registered 1-element
        array back to its scalar.  Rows a later append DOES touch are
        cleared — their value is genuinely a list from then on."""
        self._registry_update(SCALARSET, path, added, cleared)

    def flush(self) -> DataFrame:
        """Materialize the pending writes (for work that needs a real frame,
        e.g. an on_failure sub-chain); pending drops stay pending."""
        if self.updates:
            df = self.df.withColumns(self.updates)
            self.updates = {}
            self._physical |= set(self._types)
            self.df = df
        self._fails = []
        return self.df

    def done(self) -> DataFrame:
        df = self.df
        if not (self.updates and self.drops):
            if self.updates:
                return df.withColumns(self.updates)
            return df.drop(*self.drops) if self.drops else df
        # writes and drops together: one Project (= withColumns then drop)
        kept = [c for c in df.columns if c not in self.drops]
        return df.select(
            *[self.updates[c].alias(c) if c in self.updates else fcol(c)
              for c in kept],
            *[v.alias(c) for c, v in self.updates.items()
              if c not in self._physical])


def guarded(df: DataFrame, cond: Column, updates: dict[str, Column],
            dtypes: dict | None = None) -> DataFrame:
    """:meth:`Step.guarded` as a step of its own."""
    st = Step(df)
    st.guarded(cond, updates, dtypes)
    return st.done()
