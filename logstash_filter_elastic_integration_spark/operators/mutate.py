"""Mutate-family processors: set/remove/rename/convert/append/trim/case/
split/join/sort/gsub/dot_expander/drop/fail/terminate/foreach/script.

Every one compiles to pure Column expressions (JVM-side, whole-stage
codegen) — zero Python at run time.  Reference behavioral contracts are the
per-processor goldens in /root/reference/spec/integration/
elastic_integration_spec.rb (line refs per function).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from ..plans.document import (DROPPED, NULLSET, SCALARSET, TERMINATED, Step,
                              fcol, field_type, guarded, present_expr,
                              resolve_field, resolver_for)
from ..functions.painless import UnsupportedScriptError, lower_script
from .common import str_targets, template_column


def p_set(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:813-836 (+ templates)."""
    cfg = spec.config
    field = cfg["field"]
    active = ctx.active(df, spec)
    media_type = cfg.get("media_type", "application/json")
    if media_type not in ("application/json", "text/plain",
                          "application/x-www-form-urlencoded"):
        # ES SetProcessor factory validation (construction-time error)
        raise ValueError(
            f"property [media_type] must be one of [application/json, "
            f"text/plain, application/x-www-form-urlencoded], found "
            f"[{media_type}]")
    if "copy_from" in cfg:
        # resolve_field: static column, else the _extras dynamic-field map
        # (a missing path reads as a string-typed null)
        value, dt = resolve_field(df, cfg["copy_from"])
        dt = dt or T.StringType()
    else:
        value = template_column(df, cfg.get("value"))
        # a string value renders (mustache) to a string
        dt = T.StringType() if isinstance(cfg.get("value"), str) else None
    if not cfg.get("override", True) and field in df.columns:
        active = active & fcol(field).isNull()
    if cfg.get("ignore_empty_value", False):
        # ES: quietly skip when the (rendered) value is null or ""
        active = active & value.isNotNull() & (value.cast("string") != "")
    st = Step(df)
    st.guarded(active, {field: value},
               None if dt is None else {field: dt})
    # ES SetProcessor always puts the key into the document map — a null
    # value is PRESENT-null, not missing.  Literal non-null scalars can
    # never evaluate null, so skip the registry there (plan stability).
    # (mustache templates render missing fields as "" in ES — never null —
    # so only copy_from / literal-null values can store an explicit null)
    may_be_null = "copy_from" in cfg or cfg.get("value") is None
    if may_be_null:
        st.nullset_update(field, added=active & st.col(field).isNull(),
                          cleared=active & st.col(field).isNotNull())
    return st.done()


def p_remove(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:695-726: removing an
    absent field fails the pipeline unless ignore_missing.  Flat-column
    model: removal = null-out (schema is global; tests treat null as
    absent).  A field living only in the ``_extras`` dynamic map is TRULY
    removed (map_filter drops the key) — per-row removal, exactly the ES
    semantics the flat model can't express for static columns."""
    cfg = spec.config
    if "keep" in cfg:
        # ES 8.x `keep` option: remove EVERYTHING except the kept fields
        # and ES metadata (_index/_id/_routing/_version/_version_type);
        # mutually exclusive with `field` (factory-time error in ES).
        if "field" in cfg:
            raise ValueError(
                "[keep] and [field] cannot both be used in the same remove "
                "processor")
        keep = set(cfg["keep"] if isinstance(cfg["keep"], list)
                   else [cfg["keep"]])
        meta = {"_index", "_id", "_routing", "_version", "_version_type",
                "_ingest"}
        active = ctx.active(df, spec)
        updates = {}
        dtypes = {}
        for col_name in df.columns:
            if (col_name in keep or col_name in meta
                    or col_name.startswith("__") or col_name == "_extras"):
                continue
            # a kept dotted path keeps every column under its prefix too
            if any(col_name.startswith(k + ".") or k.startswith(col_name + ".")
                   for k in keep):
                continue
            dtypes[col_name] = field_type(df, col_name)
            updates[col_name] = F.lit(None).cast(dtypes[col_name])
        if "_extras" in df.columns:
            kept = sorted(keep)
            updates["_extras"] = F.map_filter(
                fcol("_extras"),
                (lambda k, _: k.isin(*kept)) if kept
                else (lambda k, _: F.lit(False)))
        if NULLSET in df.columns:
            # removed fields must read as MISSING, not present-null
            kept = sorted(keep)
            updates[NULLSET] = F.filter(
                fcol(NULLSET),
                (lambda x: x.isin(*kept)) if kept
                else (lambda x: F.lit(False)))
        return guarded(df, active, updates, dtypes)
    fields = cfg["field"] if isinstance(cfg["field"], list) else [cfg["field"]]
    ignore_missing = cfg.get("ignore_missing", False)
    active = ctx.active(df, spec)
    st = Step(df)
    for f_name in fields:
        # rows an earlier field failed keep their values (the processor
        # stopped there)
        live = st.alive(active)
        if f_name not in df.columns:
            if "_extras" in df.columns:
                present = F.map_contains_key(fcol("_extras"), F.lit(f_name))
                if not ignore_missing:
                    ctx.fail(
                        st, active & ~F.coalesce(present, F.lit(False)), spec,
                        f"field [{f_name}] not present as part of path [{f_name}]")
                st.guarded(live, {"_extras": F.map_filter(
                    st.col("_extras"), lambda k, _: k != f_name)},
                    {"_extras": st.field_type("_extras")})
                continue
            if not ignore_missing:
                ctx.fail(st, active, spec,
                         f"field [{f_name}] not present as part of path [{f_name}]")
            continue
        if not ignore_missing:
            # explicit-null fields are PRESENT (removable without error) —
            # only truly-missing rows fail, per the reference's map model
            ctx.fail(st, active & ~present_expr(df, f_name), spec,
                     f"field [{f_name}] not present as part of path [{f_name}]")
        dt = st.field_type(f_name)
        st.guarded(live, {f_name: F.lit(None).cast(dt)}, {f_name: dt})
        if NULLSET in st.columns:  # removal also clears present-null status
            st.nullset_update(f_name, added=F.lit(False), cleared=live)
    return st.done()


def p_rename(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:728-752."""
    cfg = spec.config
    src_name, dst = cfg["field"], cfg["target_field"]
    ignore_missing = cfg.get("ignore_missing", False)
    active = ctx.active(df, spec)
    st = Step(df)
    if src_name not in df.columns:
        if not ignore_missing:
            ctx.fail(st, active, spec, f"field [{src_name}] doesn't exist")
        return st.done()
    src = fcol(src_name)
    if dst in df.columns and not cfg.get("override", False):
        # ES: override=true renames onto an existing target (8.x option)
        ctx.fail(st, active & fcol(dst).isNotNull(), spec,
                 f"field [{dst}] already exists")
    if not ignore_missing:
        ctx.fail(st, active & src.isNull(), spec,
                 f"field [{src_name}] doesn't exist")
    move = st.alive(active & src.isNotNull())
    st.guarded(move, {dst: src}, {dst: field_type(df, src_name)})
    dt = st.field_type(src_name)
    st.guarded(move, {src_name: F.lit(None).cast(dt)}, {src_name: dt})
    return st.done()


_CONVERT_TYPES = {"integer": "int", "long": "bigint", "float": "float",
                  "double": "double", "string": "string", "boolean": "boolean"}
_CONVERT_DT = {"int": T.IntegerType(), "bigint": T.LongType(),
               "float": T.FloatType(), "double": T.DoubleType(),
               "string": T.StringType()}
_IP_RX = (r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
          r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$|^[0-9A-Fa-f:]+:[0-9A-Fa-f:.]*$")


def p_convert(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:201-223.  try_cast
    semantics with per-row failure when a non-null value doesn't convert."""
    cfg = spec.config
    f_name, typ = cfg["field"], cfg["type"]
    dst = cfg.get("target_field", f_name)
    ignore_missing = cfg.get("ignore_missing", False)
    active = ctx.active(df, spec)
    st = Step(df)
    if f_name not in df.columns:
        if not ignore_missing:
            ctx.fail(st, active, spec,
                     f"field [{f_name}] not present as part of path [{f_name}]")
        return st.done()
    src = fcol(f_name)
    dt = field_type(df, f_name)
    if isinstance(dt, T.ArrayType) and typ == "ip":
        # ES validates each element; one bad element fails the whole row
        bad = F.exists(src, lambda x: x.isNotNull()
                       & ~x.cast("string").rlike(_IP_RX))
        ctx.fail(st, active & src.isNotNull() & bad, spec,
                 f"[{f_name}] is not an IP string literal.")
        st.guarded(active & src.isNotNull() & ~bad,
                   {dst: F.transform(src, lambda x: x.cast("string"))})
        return st.done()
    if isinstance(dt, T.ArrayType) and typ in _CONVERT_TYPES:
        # ES converts each element when the field holds an array
        new = F.transform(src, lambda x: x.cast(_CONVERT_TYPES[typ]))
        st.guarded(active & src.isNotNull(), {dst: new})
        return st.done()
    if typ == "ip":
        ok = src.rlike(_IP_RX)
        ctx.fail(st, active & src.isNotNull() & ~ok, spec,
                 f"[{f_name}] is not an IP string literal.")
        st.guarded(active & ok, {dst: src}, {dst: dt})
        return st.done()
    if typ == "auto":
        new = F.coalesce(
            src.try_cast("bigint").cast("string"),
            src.try_cast("double").cast("string"),
            src.try_cast("boolean").cast("string"),
            src.cast("string"),
        )
        st.guarded(active & src.isNotNull(), {dst: new},
                   {dst: T.StringType()})
        return st.done()
    sql_t = _CONVERT_TYPES[typ]
    if typ == "boolean":
        lowered = F.lower(src.cast("string"))
        ok_bool = lowered.isin("true", "false")
        ctx.fail(st, active & src.isNotNull() & ~ok_bool, spec,
                 f"[{src}] is not a boolean value, cannot convert to boolean")
        st.guarded(active & src.isNotNull() & ok_bool,
                   {dst: lowered == "true"}, {dst: T.BooleanType()})
        return st.done()
    # ES integer conversion of "1.5" fails (no truncation): go via string
    new = src.cast("string").try_cast(sql_t)
    if not isinstance(dt, T.StringType):
        new = src.cast(sql_t)
    err = active & src.isNotNull() & new.isNull()
    ctx.fail(st, err, spec, f"unable to convert [{f_name}] to {typ}")
    st.guarded(active & new.isNotNull(), {dst: new},
               {dst: _CONVERT_DT[sql_t]})
    return st.done()


def p_append(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:129-152: scalar existing
    value is promoted to a list; value may be scalar or list.

    Per-row parity (IngestDocument.appendFieldValue — the document is a
    per-row mutable map): only rows the append TOUCHES become lists; the
    column's physical type still promotes to array for all rows, but
    untouched rows register the field in the ``__scalarset`` registry and
    read/render back as their original scalar (document.row_is_scalar,
    painless interpreter unwrap)."""
    cfg = spec.config
    f_name = cfg["field"]
    values = cfg["value"] if isinstance(cfg["value"], list) else [cfg["value"]]
    allow_dup = cfg.get("allow_duplicates", True)
    active = ctx.active(df, spec)
    add = F.array(*[template_column(df, v) for v in values])
    dt = field_type(df, f_name)
    if dt is None:
        existing = F.array().cast(T.ArrayType(T.StringType()))
    elif isinstance(dt, T.ArrayType):
        existing = F.coalesce(fcol(f_name), F.array().cast(dt))
    else:  # scalar promotion
        existing = F.when(fcol(f_name).isNotNull(), F.array(fcol(f_name))) \
                    .otherwise(F.array().cast(T.ArrayType(dt)))
    if allow_dup:
        new = F.concat(existing, add)
    else:
        new = F.array_union(existing, add)
    st = Step(df)
    if dt is not None and not isinstance(dt, T.ArrayType):
        keep = F.when(fcol(f_name).isNotNull(), F.array(fcol(f_name)))
        st.write(f_name, F.when(active, new).otherwise(keep))
        st.scalarset_update(f_name, added=~F.coalesce(active, F.lit(False)),
                            cleared=active)
        return st.done()
    st.guarded(active, {f_name: new})
    if SCALARSET in df.columns:
        # appending onto a previously-promoted column makes the touched
        # rows genuinely lists again
        st.scalarset_update(f_name, added=F.lit(False), cleared=active)
    return st.done()


def p_trim(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:885-906."""
    return str_targets(df, spec, ctx, F.trim)


def p_lowercase(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:592-614."""
    return str_targets(df, spec, ctx, F.lower)


def p_uppercase(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:908-930."""
    return str_targets(df, spec, ctx, F.upper)


def p_split(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:861-883 (separator is a
    regex, like the ES processor)."""
    cfg = spec.config
    sep = cfg["separator"]
    fn = lambda c: F.split(c, sep)  # noqa: E731
    if not cfg.get("preserve_trailing", False):
        # java String.split default drops trailing empties; F.split keeps
        # them -> trim trailing "" elements
        def fn(c):  # noqa: F811
            arr = F.split(c, sep)
            rev = F.reverse(arr)
            n_trail = F.aggregate(
                rev, F.struct(F.lit(0).alias("n"), F.lit(True).alias("go")),
                lambda acc, x: F.struct(
                    F.when(acc["go"] & (x == ""), acc["n"] + 1).otherwise(acc["n"]).alias("n"),
                    (acc["go"] & (x == "")).alias("go")),
            )["n"]
            return F.slice(arr, 1, F.greatest(F.size(arr) - n_trail, F.lit(0)))
    return str_targets(df, spec, ctx, fn, elementwise=False)


def p_join(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:519-541."""
    sep = spec.config["separator"]
    fn = lambda c: F.array_join(F.transform(c, lambda x: x.cast("string")), sep)  # noqa: E731
    return str_targets(df, spec, ctx, fn, elementwise=False)


def p_sort(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:838-859 — sorts an
    *array field* within one row (not a relational sort)."""
    asc = spec.config.get("order", "asc") != "desc"
    fn = lambda c: F.sort_array(c, asc=asc)  # noqa: E731
    return str_targets(df, spec, ctx, fn, elementwise=False)


def p_gsub(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:471-494.  Java-regex
    pattern evaluated by F.regexp_replace — JVM-side even for arrays."""
    cfg = spec.config
    pat, rep = cfg["pattern"], cfg["replacement"]
    fn = lambda c: F.regexp_replace(c, pat, rep)  # noqa: E731
    return str_targets(df, spec, ctx, fn)


def p_dot_expander(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:335-358.  In the flat
    column model a dotted key *is* the nested path, so expansion of static
    columns is the identity.  For DYNAMIC fields the processor is real:
    a dotted key in the ``_extras`` map (e.g. written by kv) is lifted to
    a flat (dotted) root column — the flat-model equivalent of turning
    literal "a.b" into nested a.b."""
    cfg = spec.config
    f_name = cfg.get("field")
    if cfg.get("path"):
        # ES `path`: the dotted key lives under this object — in the flat
        # model that's simply the fully-qualified dotted key
        f_name = f"{cfg['path']}.{f_name}"
    if f_name == "*":
        # Flat-model identity: every dotted key already IS its path; static
        # columns need no expansion and `_extras` keys stay dynamically
        # resolvable under the same dotted name (resolve_field falls back
        # to the map), so wildcard expansion is observationally a no-op.
        return df
    if f_name and f_name not in df.columns and "_extras" in df.columns:
        active = ctx.active(df, spec)
        val = F.try_element_at(fcol("_extras"), F.lit(f_name))
        df = guarded(df, active, {
            f_name: val,
            "_extras": F.map_filter(fcol("_extras"),
                                    lambda k, _: k != f_name)})
    elif f_name and f_name in df.columns and "_extras" in df.columns \
            and cfg.get("override") is not None:
        # expansion target collides with an existing static column: ES
        # DotExpanderProcessor override=true replaces it; override=false
        # merges old+new into an array (list-append semantics).  The
        # flat model supports replace; array-merge on a typed column is
        # the `append` promotion path — fail loud rather than silently
        # diverge (README Known divergences: append promotion).
        active = ctx.active(df, spec)
        dyn = F.try_element_at(fcol("_extras"), F.lit(f_name))
        if not cfg["override"]:
            raise ValueError(
                "dot_expander override=false (array-merge) on a static "
                "column is not expressible in the flat column model; set "
                "override=true or expand into a fresh field")
        df = guarded(df, active & dyn.isNotNull(), {
            f_name: dyn.cast(field_type(df, f_name)),
            "_extras": F.map_filter(fcol("_extras"),
                                    lambda k, _: k != f_name)})
    return df


def p_drop(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:360-390: event is
    cancelled but stays in the batch (EventProcessor.java:185-189) — we keep
    the row, flagged __dropped; the router excludes it from data sinks."""
    active = ctx.active(df, spec)
    return df.withColumn(DROPPED, fcol(DROPPED) | active)


def p_fail(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:1250-1272."""
    active = ctx.active(df, spec)
    msg = template_column(df, spec.config.get("message", "Fail processor"))
    return ctx.fail(df, active, spec, msg)


def p_terminate(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:1139-1167: remaining
    processors are skipped, event still succeeds."""
    active = ctx.active(df, spec)
    return df.withColumn(TERMINATED, fcol(TERMINATED) | active)


def _foreach_script(cfg):
    """Inner ``script`` for foreach: a painless body whose only ctx path is
    ``_ingest._value`` compiles against the ELEMENT as its resolver — the
    whole loop stays one JVM F.transform (ES ForEachProcessor's
    per-element ingest metadata, docs/index.asciidoc foreach)."""
    from ..functions.painless import UnsupportedScriptError, compile_script

    def fn(elem):
        def resolve(path):
            if path == "_ingest._value":
                return elem, None
            raise UnsupportedScriptError(
                f"foreach script may only address ctx._ingest._value "
                f"(got ctx.{path})")
        assignments = compile_script(cfg.get("source", ""), resolve,
                                     cfg.get("params"))
        if len(assignments) != 1 or assignments[0][0] != "_ingest._value":
            raise UnsupportedScriptError(
                "foreach script must be a single assignment to "
                "ctx._ingest._value")
        return assignments[0][1]
    return fn


def _foreach_set(cfg):
    """Inner ``set`` on array-of-structs elements:
    field `_ingest._value.<sub>` -> withField on each struct."""
    field = cfg["field"]
    # nullif keeps the literal NULLABLE (when() folds to NOT NULL), so
    # the struct's new field type stays castable from the original
    # column (guarded's coerce probe + pristine restore)
    v = cfg.get("value")
    null_t = {bool: "boolean", int: "bigint", float: "double"}.get(
        type(v), "string")
    lit = F.nullif(F.lit(v), F.lit(None).cast(null_t))
    if field == "_ingest._value":
        # literal replacement of every element
        return lambda c: lit
    if not field.startswith("_ingest._value."):
        raise ValueError(
            f"foreach set must target _ingest._value[.sub] (got {field})")
    sub = field[len("_ingest._value."):]
    return lambda c: c.withField(sub, lit)


def _foreach_remove(cfg):
    field = cfg["field"]
    if not field.startswith("_ingest._value."):
        raise ValueError(
            f"foreach remove must target _ingest._value.sub (got {field})")
    sub = field[len("_ingest._value."):]
    # null-out, not dropFields: the flat-model removal convention keeps
    # the element schema stable (pristine-restore casts stay valid)
    return lambda c: c.withField(sub, F.when(F.lit(False), c.getField(sub)))


_ELEMENTWISE = {
    "uppercase": lambda cfg: F.upper,
    "lowercase": lambda cfg: F.lower,
    "trim": lambda cfg: F.trim,
    "gsub": lambda cfg: (lambda c: F.regexp_replace(c, cfg["pattern"], cfg["replacement"])),
    "urldecode": lambda cfg: F.url_decode,
    "convert": lambda cfg: (lambda c: c.cast(_CONVERT_TYPES[cfg["type"]])),
    "bytes": lambda cfg: (lambda c: _net().bytes_expr(c)),
    "script": _foreach_script,
    "set": _foreach_set,
    "remove": _foreach_remove,
}


def _net():
    from . import net
    return net


def p_foreach(df, spec, ctx):
    """spec/integration/elastic_integration_spec.rb:416-442: the inner
    processor (addressing ``_ingest._value``) is applied per element —
    compiled to F.transform (higher-order function, JVM-side)."""
    cfg = spec.config
    f_name = cfg["field"]
    ignore_missing = cfg.get("ignore_missing", False)
    (inner_type, inner_cfg), = cfg["processor"].items()
    if inner_type not in _ELEMENTWISE:
        raise UnsupportedScriptError(
            f"foreach inner processor [{inner_type}] not supported "
            f"(supported: {sorted(_ELEMENTWISE)})")
    fn = _ELEMENTWISE[inner_type](inner_cfg)
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not ignore_missing:
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    return guarded(df, active & fcol(f_name).isNotNull(),
                   {f_name: F.transform(fcol(f_name), fn)})


_PY_TO_SPARK = [
    (bool, "boolean", bool),
    (int, "long", int),
    (float, "double", float),
    (str, "string", str),
]


def _scalar_type(values):
    """(ddl, converter) of the one _PY_TO_SPARK type all non-null
    ``values`` share; string otherwise."""
    found = {next((t for t in _PY_TO_SPARK if isinstance(v, t[0])), None)
             for v in values if v is not None}
    if len(found) == 1 and None not in found:
        _, ddl, co = found.pop()
        return ddl, co
    return "string", lambda x: None if x is None else str(x)


def _co_of(dt):
    """Python-side converter for an existing Spark column type."""
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return lambda x: int(x)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return lambda x: float(x)
    if isinstance(dt, T.BooleanType):
        return lambda x: bool(x)
    if isinstance(dt, T.ArrayType):
        inner = _co_of(dt.elementType)
        return lambda x: None if x is None else [inner(i) for i in x]
    return lambda x: None if x is None else str(x)


def _zero_of(dt):
    if isinstance(dt, T.StringType):
        # "1" not "": numeric-parse calls (Integer.parseInt) must succeed
        # in the type-inference dry run or every output degrades to string
        return "1"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return 1
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return 1.0
    if isinstance(dt, T.BooleanType):
        return False
    if isinstance(dt, T.ArrayType):
        return [_zero_of(dt.elementType)]
    return ""


def _script_interpreted(df, spec, ctx, active):
    """Arrow-batched interpreter path for scripts the Column lowering
    rejects (loops, locals, compound updates) — see painless_exec.
    Scripts execute per ROW (the reference's own model); everything
    around them stays vectorized, and a row-level exception fails that
    row through the standard failure channel."""
    from ..functions.painless_exec import CompiledScript

    cfg = spec.config
    cs = CompiledScript(cfg.get("source", ""), cfg.get("params"))
    if "__ALL__" in cs.reads:
        # ctx.keySet()/size()/isEmpty(): the whole-document view needs
        # every column shipped (column pruning would hide fields)
        in_paths = sorted(set(df.columns)
                          | {p for p in cs.writes if p in df.columns})
    else:
        in_paths = [p for p in sorted(cs.reads | cs.writes)
                    if p in df.columns]
        # nested map views (ctx.obj.keySet() etc., r5 ADVICE): ship every
        # flat column under the receiver prefix when the receiver is not
        # itself a flat column
        for m in sorted(p for p in cs.reads if p.startswith("__PREFIX__:")):
            base = m.split(":", 1)[1]
            if base not in df.columns:
                in_paths += [c for c in df.columns
                             if c.startswith(base + ".")
                             and c not in in_paths]
    # dynamic keys (kv/json -> _extras) read by the script: ship them into
    # the UDF through the same lift-on-read the Column compiler uses
    dyn_reads = []
    if "_extras" in df.columns:
        dyn_reads = [p for p in sorted(cs.reads)
                     if p not in df.columns and not p.startswith("_")]
    # compile-time dry run on a synthetic row infers output types
    sample = {p: _zero_of(field_type(df, p)) for p in in_paths}
    sample.update({p: "1" for p in dyn_reads})
    try:
        probe = cs.run_row(dict(sample))
    except Exception:
        probe = {}
    out_types = {}
    for w in sorted(cs.writes):
        if w not in probe and w in df.columns:
            # conditionally-assigned existing field the dry run didn't hit:
            # keep the COLUMN's type so untaken-branch rows don't force a
            # column-wide coercion to string
            dt = field_type(df, w)
            out_types[w] = (dt.simpleString(), _co_of(dt))
            continue
        v = probe.get(w)
        if isinstance(v, (list, tuple)):
            out_types[w] = ("array<string>",
                            lambda x: [str(i) for i in x] if x is not None else None)
        elif isinstance(v, dict):
            # a painless map: map<string, V> when every value has one
            # scalar type (as the Column path types a map literal)
            ddl, co = _scalar_type(v.values())
            out_types[w] = (f"map<string,{ddl}>",
                            lambda x, co=co: None if x is None else
                            {str(k): None if i is None else co(i)
                             for k, i in x.items()})
        else:
            out_types[w] = _scalar_type([v])
    writes = sorted(cs.writes)
    schema = T.StructType(
        [T.StructField(w, T._parse_datatype_string(out_types[w][0]))
         for w in writes]
        + [T.StructField("__perr", T.StringType()),
           T.StructField("__asg", T.ArrayType(T.BooleanType())),
           T.StructField("__nulled", T.ArrayType(T.BooleanType()))])

    def kernel(struct_s):
        import numpy as np
        import pandas as pd
        rows = struct_s.to_dict("records")
        out = {w: [] for w in writes}
        errs = []
        asgs = []
        nulls = []
        noasg = [False] * len(writes)

        def norm(v):
            if v is None or (isinstance(v, float) and v != v):
                return None
            if isinstance(v, np.ndarray):  # Arrow array columns
                return v.tolist()
            return v

        for row in rows:
            run = row.pop("__active", False)
            clean = {k: norm(v) for k, v in row.items()}
            if not run:
                for w in writes:
                    out[w].append(None)
                errs.append(None)
                asgs.append(noasg)
                nulls.append(noasg)
                continue
            try:
                res, nulled = cs.run_row_ex(clean)
                for w in writes:
                    co = out_types[w][1]
                    v = res.get(w)
                    out[w].append(None if v is None else co(v))
                # 'not assigned on this row' != 'assigned null': unassigned
                # paths must keep their prior column value downstream
                asgs.append([w in res for w in writes])
                nulls.append([w in nulled for w in writes])
                errs.append(None)
            except Exception as e:  # script runtime error -> row failure
                for w in writes:
                    out[w].append(None)
                errs.append(f"{type(e).__name__}: {e}")
                asgs.append(noasg)
                nulls.append(noasg)
        out["__perr"] = errs
        out["__asg"] = asgs
        out["__nulled"] = nulls
        return pd.DataFrame(out, columns=writes
                            + ["__perr", "__asg", "__nulled"])

    udf = F.pandas_udf(kernel, schema)
    in_struct = F.struct(
        *[fcol(p).alias(p) for p in in_paths],
        *[F.try_element_at(fcol("_extras"), F.lit(p)).alias(p)
          for p in dyn_reads],
        *([fcol(NULLSET).alias("__nullset")]
          if NULLSET in df.columns else []),
        *([fcol(SCALARSET).alias("__scalarset")]
          if SCALARSET in df.columns else []),
        F.coalesce(active, F.lit(False)).alias("__active"))
    # the UDF result is read by every write: staged once, then one step
    st = Step(df.withColumn("__script", udf(in_struct)))
    err = fcol("__script")["__perr"]
    asg = fcol("__script")["__asg"]
    nld = fcol("__script")["__nulled"]
    for i, w in enumerate(writes):
        applied = (active & err.isNull()
                   & F.coalesce(F.element_at(asg, i + 1), F.lit(False)))
        st.guarded(applied, {w: fcol("__script")[w]}, {w: schema[w].dataType})
        if not w.startswith("_"):
            # ctx.f = null -> present-null; ctx.remove('f') -> absent
            was_nulled = F.coalesce(F.element_at(nld, i + 1), F.lit(False))
            st.nullset_update(w, added=applied & was_nulled,
                              cleared=applied & ~was_nulled)
    ctx.fail(st, active & err.isNotNull(), spec, err)
    st.drop("__script")
    return st.done()


def p_script(df, spec, ctx):
    """Painless script processor
    (spec/integration/elastic_integration_spec.rb:754-809; caveat
    docs/index.asciidoc:192).  The source parses through one front end
    (functions/painless_parse.py) and runs on one of two back ends:

    - Column lowering (functions/painless.py): assignments, if/else and
      ternaries at any depth lower to pure Catalyst expressions —
      JVM-side, whole-stage codegen, the fast path;
    - per-row interpreter (functions/painless_exec.py): every script the
      lowering rejects (loops, local variables, compound updates) runs
      per row in an Arrow-batched UDF with an iteration watchdog — the
      reference's own per-event script execution model.
    A script the front end rejects fails at compile (fail-loud parity)."""
    cfg = spec.config
    active = ctx.active(df, spec)
    if "id" in cfg and "source" not in cfg:
        # ES stored script: `id` resolves from the cluster's script store —
        # here the registry-local analogue (PipelineRegistry.scripts)
        stored = getattr(ctx.registry, "scripts", {})
        if cfg["id"] not in stored:
            return ctx.fail(df, active, spec,
                            f"unable to find script [{cfg['id']}] in cluster state")
        from dataclasses import replace
        cfg = dict(cfg, source=stored[cfg["id"]])
        spec = replace(spec, config=cfg)
    try:
        assignments = lower_script(
            cfg.get("source", ""), resolver_for(df), cfg.get("params"))
    except UnsupportedScriptError:
        try:
            return _script_interpreted(df, spec, ctx, active)
        except UnsupportedScriptError as e:
            return ctx.fail(df, active, spec,
                            f"unsupported painless script: {e}")
    st = Step(df)
    for path, col, present in assignments:
        st.guarded(active, {path: col})
        # any ctx write puts the key into the document map: a null result
        # is PRESENT-null (ES parity), tracked in the __nullset registry;
        # rows an untaken ``if`` branch left alone keep their presence
        if not path.startswith("_"):
            live = active & present
            st.nullset_update(path, added=live & st.col(path).isNull(),
                              cleared=live & st.col(path).isNotNull())
    return st.done()
