"""Painless Column lowering: the validated AST -> Spark Columns.

The reference embeds the full Painless script engine for processor ``if``
conditions and ``script`` processors (reference:
EventProcessorBuilder.java:233-240 wires the painless ScriptService; the
supported-subset caveat is docs/index.asciidoc:192).  Both parse through
one front end, :func:`painless_parse.parse`.  This module lowers a declared subset of
that AST to pure Catalyst Column expressions (whole-stage codegen, no
Python at run time) and raises ``UnsupportedScriptError`` for anything
outside it.  A ``script`` then runs on the per-row interpreter
(:mod:`painless_exec`); an ``if`` condition has no fallback, so an
unsupported one fails the pipeline at compile time, following the
reference's fail-loud pattern (spec/integration/
elastic_integration_spec.rb:1515-1570).

Subset: statements ``ctx.x = expr;`` (later statements see earlier
assignments) and ``if``/``else if``/``else`` at any depth (F.when-gated
assignments); expressions over ctx field refs (``ctx.a.b``, ``ctx['x']``,
null-safe ``ctx?.a``), literals, params refs, ``== != < <= > >= && || !``,
arithmetic ``+ - * / %`` (``+`` is concat when either side is a string),
ternaries at any depth, Elvis, ``=~``/``==~``, ``instanceof``, list/map
literals, lambdas over arrays (streams-lite), Math and parse/render
statics, String methods, ``Processors.*`` helpers and a java.time subset.
"""

from __future__ import annotations

import ast
import re

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from .lru import LRU
from .painless_parse import UnsupportedScriptError, parse

_RX_NAME = re.compile(r"^_rx([mf])(\d+)$")

_JT_NAME = re.compile(r"^_jt(\w+)$")
_JT_SPARK = {
    "String": (T.StringType,),
    "Integer": (T.IntegerType, T.ShortType, T.ByteType),
    "Long": (T.LongType,),
    "Double": (T.DoubleType,),
    "Float": (T.FloatType,),
    "Boolean": (T.BooleanType,),
    "List": (T.ArrayType,),
    "ArrayList": (T.ArrayType,),
    "Map": (T.MapType, T.StructType),
    "HashMap": (T.MapType,),
    "Number": (T.IntegerType, T.LongType, T.DoubleType, T.FloatType,
               T.ShortType, T.ByteType, T.DecimalType),
}


class _Ctx:
    """Compilation context: resolves ctx.* field paths to (Column, DataType)."""

    def __init__(self, resolve, params: dict | None = None,
                 regexes: list[tuple[str, str]] | None = None,
                 locals_: dict | None = None):
        self.resolve = resolve          # path:str -> (Column, DataType|None)
        self.params = params or {}
        self.regexes = regexes or []    # [(kind 'f'|'m', pattern), ...]
        self.locals = locals_ or {}     # lambda params -> (Column, dt)


def _field_path(node: ast.AST) -> str | None:
    """Fold ctx.a.b / ctx['a']['b'] chains into dotted path; None if not a ctx ref."""
    parts: list[str] = []
    cur = node
    while True:
        if isinstance(cur, ast.Attribute):
            parts.append(cur.attr)
            cur = cur.value
        elif isinstance(cur, ast.Subscript):
            sl = cur.slice
            if isinstance(sl, ast.Constant) and isinstance(sl.value, str):
                parts.append(sl.value)
                cur = cur.value
            else:
                return None
        elif isinstance(cur, ast.Name):
            if cur.id == "ctx":
                return ".".join(reversed(parts)) if parts else "__ctx__"
            return None
        else:
            return None


def _is_string(dt) -> bool:
    return isinstance(dt, T.StringType)


def _is_integral(dt) -> bool:
    return isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                           T.ByteType))


def _promote(ldt, rdt):
    """Java binary numeric promotion for the static type tracker: any
    floating operand promotes the result to double; `ldt or rdt` (the
    old rule) kept the LEFT type, typing `3 + 2.5` as long — which
    routed a double through integral division (caught by the generated
    differential arithmetic matrix)."""
    if isinstance(ldt, (T.DoubleType, T.FloatType)) \
            or isinstance(rdt, (T.DoubleType, T.FloatType)):
        return T.DoubleType()
    if _is_integral(ldt) and _is_integral(rdt):
        return T.LongType()
    return ldt or rdt


def _lambda_fn(lam: ast.Lambda, c: _Ctx, edt=None):
    """Painless arrow (rewritten to ast.Lambda) -> a Python callable over
    Columns, for the pyspark higher-order functions (F.filter/F.transform/
    F.array_sort/...).  Params resolve through the child context's locals."""
    names = [a.arg for a in lam.args.args]

    def run(cols):
        sub = _Ctx(c.resolve, c.params, c.regexes, dict(c.locals))
        sub.locals.update({n: (col, edt) for n, col in zip(names, cols)})
        col, _ = _eval(lam.body, sub)
        return col

    # pyspark's higher-order functions introspect the callable's arity —
    # it must expose exactly len(names) POSITIONAL parameters
    if len(names) == 1:
        return lambda x: run([x])
    if len(names) == 2:
        return lambda x, y: run([x, y])
    return lambda x, y, z: run([x, y, z])


class _ZdtType:
    """Marker dtype for a ZonedDateTime Column pair: the Column itself is
    the UTC-normalized instant; ``wall`` keeps the original offset's
    field values (Java getHour() answers in the parsed offset)."""

    def __init__(self, wall: Column):
        self.wall = wall


class _InstantType:
    pass


class _DowType:
    pass


_TEMPORAL_FIELDS = {
    "getYear": F.year, "getMonthValue": F.month,
    "getDayOfMonth": F.dayofmonth, "getHour": F.hour,
    "getMinute": F.minute, "getSecond": F.second,
    "getDayOfYear": F.dayofyear,
}
_TEMPORAL_PLUS = {
    "plusDays": ("days", 1), "minusDays": ("days", -1),
    "plusHours": ("hours", 1), "minusHours": ("hours", -1),
    "plusMinutes": ("mins", 1), "minusMinutes": ("mins", -1),
    "plusSeconds": ("secs", 1), "minusSeconds": ("secs", -1),
    "plusWeeks": ("weeks", 1), "minusWeeks": ("weeks", -1),
}


def _literal_of(node, call_owner, call_attr):
    """Extract the string literal from e.g. DateTimeFormatter.ofPattern('p')
    / ZoneId.of('Z') argument shapes."""
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == call_owner
            and node.func.attr == call_attr
            and node.args and isinstance(node.args[0], ast.Constant)):
        return node.args[0].value
    return None


def _temporal_method(recv, rdt, meth, node, c):
    """ZonedDateTime/Instant/DayOfWeek methods on timestamp Columns —
    pure Catalyst lowering of the java.time subset."""
    if isinstance(rdt, _DowType):
        if meth == "getValue" and not node.args:
            return recv, T.IntegerType()
        raise UnsupportedScriptError(f"DayOfWeek.{meth} unsupported")
    wall = rdt.wall if isinstance(rdt, _ZdtType) else recv
    if meth in _TEMPORAL_FIELDS and not node.args:
        return _TEMPORAL_FIELDS[meth](wall).cast("int"), T.IntegerType()
    if meth == "getDayOfWeek" and not node.args:
        # Spark dayofweek: Sunday=1; Java DayOfWeek: Monday=1..Sunday=7
        return (((F.dayofweek(wall) + 5) % 7) + 1).cast("int"), _DowType()
    if meth == "toInstant":
        return recv, _InstantType()
    if meth == "toEpochMilli":
        return F.unix_millis(recv), T.LongType()
    if meth in ("toEpochSecond", "getEpochSecond"):
        return F.unix_seconds(recv), T.LongType()
    if meth in _TEMPORAL_PLUS:
        unit, sign = _TEMPORAL_PLUS[meth]
        n = _eval(node.args[0], c)[0] * sign
        kw = {unit: n.cast("int") if unit != "secs" else n.cast("double")}
        iv = F.make_interval(**kw)
        if isinstance(rdt, _ZdtType):
            return recv + iv, _ZdtType(wall + iv)
        return recv + iv, _InstantType()
    if meth in ("isBefore", "isAfter", "isEqual"):
        other, odt = _eval(node.args[0], c)
        if not isinstance(odt, (_ZdtType, _InstantType)):
            raise UnsupportedScriptError(f"{meth} needs a temporal operand")
        if meth == "isBefore":
            return recv < other, T.BooleanType()
        if meth == "isAfter":
            return recv > other, T.BooleanType()
        return recv == other, T.BooleanType()
    if meth == "format" and node.args:
        pat = _literal_of(node.args[0], "DateTimeFormatter", "ofPattern")
        if pat is None:
            raise UnsupportedScriptError(
                "format needs DateTimeFormatter.ofPattern('<literal>')")
        return F.date_format(wall, pat), T.StringType()
    if meth == "withZoneSameInstant" and node.args:
        tz = _literal_of(node.args[0], "ZoneId", "of")
        if tz is None:
            raise UnsupportedScriptError(
                "withZoneSameInstant needs ZoneId.of('<literal>')")
        if tz == "Z":
            tz = "UTC"
        new_wall = F.convert_timezone(F.lit("UTC"), F.lit(tz), recv)
        return recv, _ZdtType(new_wall)
    if meth == "atZone" and node.args and isinstance(rdt, _InstantType):
        tz = _literal_of(node.args[0], "ZoneId", "of")
        if tz is None:
            raise UnsupportedScriptError("atZone needs ZoneId.of('<literal>')")
        if tz == "Z":
            tz = "UTC"
        new_wall = F.convert_timezone(F.lit("UTC"), F.lit(tz), recv)
        return recv, _ZdtType(new_wall)
    raise UnsupportedScriptError(f"temporal method .{meth}() unsupported")


def _eval(node: ast.AST, c: _Ctx) -> tuple[Column, object]:
    """Return (column, datatype-or-None)."""
    if isinstance(node, ast.Name) and node.id in c.locals:
        return c.locals[node.id]
    path = _field_path(node)
    if path is not None and path != "__ctx__":
        return c.resolve(path)

    if isinstance(node, ast.Constant):
        if node.value is None:
            return F.lit(None), None
        dt = (T.StringType() if isinstance(node.value, str)
              else T.BooleanType() if isinstance(node.value, bool)
              else T.LongType() if isinstance(node.value, int)
              else T.DoubleType())
        return F.lit(node.value), dt

    if isinstance(node, ast.Subscript):  # params['x']
        base = node.value
        if isinstance(base, ast.Name) and base.id == "params":
            if isinstance(node.slice, ast.Constant):
                v = c.params.get(node.slice.value)
                return F.lit(v), (T.StringType() if isinstance(v, str) else None)
        raise UnsupportedScriptError(f"unsupported subscript: {ast.dump(node)}")

    if isinstance(node, ast.Attribute):
        base = node.value
        if isinstance(base, ast.Name) and base.id == "params":
            v = c.params.get(node.attr)
            return F.lit(v), (T.StringType() if isinstance(v, str) else None)
        raise UnsupportedScriptError(f"unsupported attribute: {ast.dump(node)}")

    if isinstance(node, ast.Compare):
        left, _ldt = _eval(node.left, c)
        if len(node.ops) != 1:
            raise UnsupportedScriptError("chained comparisons unsupported")
        op = node.ops[0]
        right_node = node.comparators[0]
        # `expr =~ /pat/` (find) / `expr ==~ /pat/` (entire-string match)
        # arrive as `expr == _rx[mf]<N>` after _protect_regexes — lower to
        # JVM rlike (never drops to Python)
        if isinstance(right_node, ast.Name):
            jm = _JT_NAME.match(right_node.id)
            if jm and not _RX_NAME.match(right_node.id):
                # instanceof: the static column dtype decides; null is
                # never an instance (Java semantics)
                if not isinstance(op, ast.Eq):
                    raise UnsupportedScriptError("instanceof misuse")
                tname = jm.group(1)
                if tname not in _JT_SPARK or _ldt is None:
                    raise UnsupportedScriptError(
                        f"instanceof {tname} not resolvable statically")
                hit = isinstance(_ldt, _JT_SPARK[tname])
                return (left.isNotNull() & F.lit(bool(hit)),
                        T.BooleanType())
            rm = _RX_NAME.match(right_node.id)
            if rm:
                if not isinstance(op, ast.Eq):
                    raise UnsupportedScriptError(
                        "regex literal only valid after =~ / ==~")
                kind, idx = rm.group(1), int(rm.group(2))
                pat = c.regexes[idx][1]
                col = (left.rlike(pat) if kind == "f"
                       else left.rlike(f"^(?:{pat})$"))
                return F.coalesce(col, F.lit(False)), T.BooleanType()
        if isinstance(right_node, ast.Constant) and right_node.value is None:
            if isinstance(op, ast.Eq):
                return left.isNull(), T.BooleanType()
            if isinstance(op, ast.NotEq):
                return left.isNotNull(), T.BooleanType()
        right, _ = _eval(right_node, c)
        m = {ast.Eq: "__eq__", ast.NotEq: "__ne__", ast.Lt: "__lt__",
             ast.LtE: "__le__", ast.Gt: "__gt__", ast.GtE: "__ge__"}
        for k, meth in m.items():
            if isinstance(op, k):
                return getattr(left, meth)(right), T.BooleanType()
        raise UnsupportedScriptError(f"unsupported comparison {op}")

    if isinstance(node, ast.BoolOp):
        vals = [_eval(v, c)[0] for v in node.values]
        out = vals[0]
        for v in vals[1:]:
            out = (out & v) if isinstance(node.op, ast.And) else (out | v)
        return out, T.BooleanType()

    if isinstance(node, ast.UnaryOp):
        v, dt = _eval(node.operand, c)
        if isinstance(node.op, ast.Not):
            return ~v, T.BooleanType()
        if isinstance(node.op, ast.USub):
            return -v, dt
        raise UnsupportedScriptError("unsupported unary op")

    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.BitOr):
        # Elvis `a ?: b` arrives as (a | _EV) | b -> null-coalesce
        li = node.left
        if (isinstance(li, ast.BinOp) and isinstance(li.op, ast.BitOr)
                and isinstance(li.right, ast.Name) and li.right.id == "_EV"):
            a, adt = _eval(li.left, c)
            b, bdt = _eval(node.right, c)
            return F.coalesce(a, b), adt or bdt
        raise UnsupportedScriptError("bitwise | unsupported")

    if isinstance(node, ast.BinOp):
        lv, ldt = _eval(node.left, c)
        rv, rdt = _eval(node.right, c)
        if isinstance(node.op, ast.Add):
            if _is_string(ldt) or _is_string(rdt):
                # Java string concat renders a null operand as "null"
                # ('s=' + null -> "s=null"); Spark concat would
                # null-propagate — pinned by the cross-engine
                # differential corpus
                return F.concat(
                    F.coalesce(lv.cast("string"), F.lit("null")),
                    F.coalesce(rv.cast("string"), F.lit("null"))), \
                    T.StringType()
            return lv + rv, _promote(ldt, rdt)
        if isinstance(node.op, ast.Sub):
            return lv - rv, _promote(ldt, rdt)
        if isinstance(node.op, ast.Mult):
            return lv * rv, _promote(ldt, rdt)
        if isinstance(node.op, ast.Div):
            # Java semantics: int / int TRUNCATES toward zero (painless is
            # Java); double->long cast truncates toward zero in Spark.
            # Only when BOTH static dtypes are known-integral.
            if _is_integral(ldt) and _is_integral(rdt):
                # IntegralDivide (SQL `div`), not a double round-trip:
                # (lv / rv).cast(long) loses precision past 2^53
                # (differential corpus: Long.MAX_VALUE / 7)
                return (F.call_function("div", lv, rv), T.LongType())
            return lv / rv, T.DoubleType()
        if isinstance(node.op, ast.Mod):
            # Spark's % (Remainder) already matches Java: sign of dividend
            return lv % rv, _promote(ldt, rdt)
        raise UnsupportedScriptError("unsupported binary op")

    if isinstance(node, ast.IfExp):
        cond, _ = _eval(node.test, c)
        a, adt = _eval(node.body, c)
        b, bdt = _eval(node.orelse, c)
        return F.when(cond, a).otherwise(b), adt or bdt

    if isinstance(node, ast.List):  # painless list literal [1, 2, 3]
        if not node.elts:
            return F.array(), T.ArrayType(T.StringType())
        vals = [_eval(e, c) for e in node.elts]
        edt = next((dt for _, dt in vals if dt is not None), None)
        return (F.array(*[v for v, _ in vals]),
                T.ArrayType(edt) if edt else None)

    if isinstance(node, ast.Dict):  # painless map literal ['a': 1]
        cols: list[Column] = []
        for k, v in zip(node.keys, node.values):
            if k is None:
                raise UnsupportedScriptError("map unpacking unsupported")
            cols.append(_eval(k, c)[0])
            cols.append(_eval(v, c)[0])
        return F.create_map(*cols), None

    if isinstance(node, ast.Call):
        fn = node.func
        if isinstance(fn, ast.Attribute):
            # ctx.containsKey('x') -> per-row presence: non-null value OR
            # an explicit-null write recorded in __nullset (ES map parity)
            if (fn.attr == "containsKey" and _field_path(fn.value) == "__ctx__"
                    and node.args and isinstance(node.args[0], ast.Constant)):
                present = getattr(c.resolve, "present", None)
                if present is not None:
                    return present(node.args[0].value), T.BooleanType()
                col, _ = c.resolve(node.args[0].value)
                return col.isNotNull(), T.BooleanType()
            # Processors.* helpers (reference: script-processor-pipelines/pipeline.json)
            if isinstance(fn.value, ast.Name) and fn.value.id == "Processors":
                arg, _ = _eval(node.args[0], c)
                helpers = {"lowercase": F.lower, "uppercase": F.upper,
                           "trim": F.trim, "urlDecode": F.url_decode}
                if fn.attr in helpers:
                    return helpers[fn.attr](arg), T.StringType()
                if fn.attr == "bytes":
                    from ..operators.net import bytes_expr
                    return bytes_expr(arg), T.LongType()
                raise UnsupportedScriptError(f"Processors.{fn.attr} unsupported")
            # java.lang.Math static methods -> built-in Column functions
            if isinstance(fn.value, ast.Name) and fn.value.id == "Math":
                args = [_eval(a, c)[0] for a in node.args]
                if fn.attr == "round" and len(args) == 1:
                    # Java Math.round(double) = floor(x + 0.5) -> long
                    # (F.round is HALF_UP on magnitude: Math.round(-2.5)
                    # is -2 in Java but F.round gives -3 — caught by the
                    # differential corpus)
                    return (F.floor(args[0] + F.lit(0.5)).cast("long"),
                            T.LongType())
                unary = {"abs": F.abs, "floor": F.floor, "ceil": F.ceil,
                         "sqrt": F.sqrt, "log": F.log,
                         "exp": F.exp, "signum": F.signum}
                if fn.attr in unary and len(args) == 1:
                    dt = (T.LongType() if fn.attr in ("floor", "ceil")
                          else T.DoubleType())
                    out = unary[fn.attr](args[0])
                    if fn.attr in ("floor", "ceil"):
                        out = out.cast("long")
                    return out, dt
                binary = {"min": F.least, "max": F.greatest, "pow": F.pow}
                if fn.attr in binary and len(args) == 2:
                    return binary[fn.attr](*args), T.DoubleType()
                raise UnsupportedScriptError(f"Math.{fn.attr} unsupported")
            # ---- java.time statics -> timestamp Columns.  A ZonedDateTime
            # value is carried as (instant Column, _ZdtType(wall Column)):
            # the instant is UTC-normalized (epoch math, comparisons), the
            # wall clock keeps the ORIGINAL offset's field values (Java
            # getHour() on +02:00 input answers in that offset)
            if isinstance(fn.value, ast.Name) \
                    and fn.value.id == "ZonedDateTime" and fn.attr == "parse" \
                    and len(node.args) == 1:
                arg, _ = _eval(node.args[0], c)
                s = arg.cast("string")
                wall = F.to_timestamp(F.regexp_replace(
                    s, r"(Z|[+-]\d{2}:?\d{2})$", ""))
                return F.to_timestamp(s), _ZdtType(wall)
            if isinstance(fn.value, ast.Name) and fn.value.id == "Instant":
                arg, _ = _eval(node.args[0], c)
                if fn.attr == "parse":
                    inst = F.to_timestamp(arg.cast("string"))
                    return inst, _InstantType()
                if fn.attr == "ofEpochMilli":
                    return (F.timestamp_millis(arg.cast("long")),
                            _InstantType())
                if fn.attr == "ofEpochSecond":
                    return (F.timestamp_seconds(arg.cast("long")),
                            _InstantType())
                raise UnsupportedScriptError(f"Instant.{fn.attr} unsupported")
            # boxed-type parse/valueOf statics -> try_cast (null on bad input,
            # matching painless NumberFormatException -> on_failure flows)
            if isinstance(fn.value, ast.Name) and fn.value.id in (
                    "Integer", "Long", "Double", "Float", "String"):
                arg, _ = _eval(node.args[0], c)
                owner = fn.value.id
                if owner == "String" and fn.attr == "valueOf":
                    return arg.cast("string"), T.StringType()
                if owner == "String" and fn.attr == "join" \
                        and len(node.args) == 2:
                    if not isinstance(node.args[0], ast.Constant):
                        raise UnsupportedScriptError(
                            "String.join needs a literal separator")
                    arr, _ = _eval(node.args[1], c)
                    return (F.array_join(arr, node.args[0].value),
                            T.StringType())
                casts = {"Integer": ("int", T.IntegerType()),
                         "Long": ("long", T.LongType()),
                         "Double": ("double", T.DoubleType()),
                         "Float": ("float", T.FloatType())}
                if owner in casts and fn.attr in (
                        "parseInt", "parseLong", "parseDouble",
                        "parseFloat", "valueOf"):
                    t, dt = casts[owner]
                    return arg.try_cast(t), dt
                if owner in ("Integer", "Long") and fn.attr in (
                        "toString", "toHexString", "toOctalString",
                        "toBinaryString"):
                    # radix render: conv() emits uppercase, Java lower
                    radix = {"toHexString": 16, "toOctalString": 8,
                             "toBinaryString": 2}.get(fn.attr)
                    if radix is None:
                        if len(node.args) == 1:
                            return arg.cast("string"), T.StringType()
                        if not isinstance(node.args[1], ast.Constant):
                            raise UnsupportedScriptError(
                                f"{owner}.toString radix must be constant")
                        radix = int(node.args[1].value)
                    return (F.lower(F.conv(arg.cast("string"), 10, radix)),
                            T.StringType())
                raise UnsupportedScriptError(
                    f"{owner}.{fn.attr} unsupported")
            # ---- streams-lite on array columns: stream()/filter/map/
            # sorted/distinct/limit/count/anyMatch/allMatch/collect lower
            # to the pyspark higher-order functions (pure Catalyst — the
            # same JVM-side plan a hand-written F.filter/F.transform gets)
            meth = fn.attr
            if meth in ("stream", "toList"):
                return _eval(fn.value, c)
            if meth == "collect" and node.args and isinstance(
                    node.args[0], ast.Call) \
                    and isinstance(node.args[0].func, ast.Attribute) \
                    and isinstance(node.args[0].func.value, ast.Name) \
                    and node.args[0].func.value.id == "Collectors":
                recv, rdt = _eval(fn.value, c)
                coll = node.args[0]
                if coll.func.attr == "toList":
                    return recv, rdt
                if coll.func.attr == "joining":
                    sep = (coll.args[0].value
                           if coll.args and isinstance(coll.args[0],
                                                       ast.Constant) else "")
                    return F.array_join(recv, sep), T.StringType()
                raise UnsupportedScriptError(
                    f"Collectors.{coll.func.attr} unsupported")
            if node.args and isinstance(node.args[0], ast.Lambda) and \
                    meth in ("filter", "map", "sorted", "anyMatch",
                             "allMatch", "noneMatch", "mapToInt",
                             "mapToObj"):
                recv, rdt = _eval(fn.value, c)
                edt = rdt.elementType if isinstance(rdt, T.ArrayType) else None
                lam = _lambda_fn(node.args[0], c, edt)
                if meth == "filter":
                    return F.filter(recv, lam), rdt
                if meth in ("map", "mapToInt", "mapToObj"):
                    return F.transform(recv, lam), None
                if meth == "sorted":
                    # comparator lambda returns -/0/+ (int)
                    return F.array_sort(
                        recv, lambda a, b: lam(a, b).cast("int")), rdt
                if meth == "anyMatch":
                    return F.exists(recv, lam), T.BooleanType()
                if meth == "allMatch":
                    return F.forall(recv, lam), T.BooleanType()
                return ~F.exists(recv, lam), T.BooleanType()
            if meth == "sorted" and not node.args:
                recv, rdt = _eval(fn.value, c)
                return F.array_sort(recv), rdt
            if meth == "distinct":
                recv, rdt = _eval(fn.value, c)
                return F.array_distinct(recv), rdt
            if meth == "limit" and node.args:
                recv, rdt = _eval(fn.value, c)
                n, _ = _eval(node.args[0], c)
                return F.slice(recv, 1, n), rdt
            if meth == "count" and not node.args:
                recv, rdt = _eval(fn.value, c)
                if isinstance(rdt, (T.ArrayType, type(None))):
                    return F.size(recv).cast("long"), T.LongType()
            if meth == "sum" and not node.args:
                # IntStream/LongStream.sum() terminal: left-to-right fold
                recv, rdt = _eval(fn.value, c)
                if isinstance(rdt, (T.ArrayType, type(None))):
                    return (F.aggregate(
                        recv, F.lit(0).cast("long"),
                        lambda acc, x: acc + x.cast("long")), T.LongType())
            recv, rdt = _eval(fn.value, c)
            if isinstance(rdt, (_ZdtType, _InstantType, _DowType)):
                return _temporal_method(recv, rdt, meth, node, c)
            args = [_eval(a, c)[0] for a in node.args]
            if meth == "equals":
                return recv.eqNullSafe(args[0]) & recv.isNotNull(), T.BooleanType()
            if meth == "contains":
                if isinstance(rdt, T.ArrayType):
                    return F.array_contains(recv, args[0]), T.BooleanType()
                return recv.contains(args[0]), T.BooleanType()
            if meth == "startsWith":
                return recv.startswith(args[0]), T.BooleanType()
            if meth == "endsWith":
                return recv.endswith(args[0]), T.BooleanType()
            if meth == "length":
                return F.length(recv), T.IntegerType()
            if meth == "isEmpty":
                if isinstance(rdt, (T.ArrayType, T.MapType)):
                    return F.size(recv) == 0, T.BooleanType()
                return F.length(recv) == 0, T.BooleanType()
            if meth == "toLowerCase":
                return F.lower(recv), T.StringType()
            if meth == "toUpperCase":
                return F.upper(recv), T.StringType()
            if meth == "trim":
                return F.trim(recv), T.StringType()
            if meth == "size":
                return F.size(recv), T.IntegerType()
            if meth == "substring":
                if len(args) == 1:
                    return F.substring(recv, args[0] + 1,
                                       F.lit(2 ** 31 - 1)), T.StringType()
                return F.substring(recv, args[0] + 1,
                                   args[1] - args[0]), T.StringType()
            if meth == "indexOf":
                return (F.instr(recv, args[0]) - 1).cast("int"), T.IntegerType()
            if meth == "lastIndexOf" and len(args) == 1:
                # last occurrence via reversed instr; -1 when absent
                rpos = F.instr(F.reverse(recv), F.reverse(args[0]))
                return (F.when(
                    rpos > 0,
                    F.length(recv) - rpos - F.length(args[0]) + 1)
                    .otherwise(F.lit(-1)).cast("int"), T.IntegerType())
            if meth == "charAt" and len(args) == 1:
                # painless char ~ 1-char string in the flat model (the
                # interpreter's convention)
                return (F.substring(recv, args[0] + 1, F.lit(1)),
                        T.StringType())
            if meth == "concat" and len(args) == 1:
                return F.concat(recv, args[0]), T.StringType()
            if meth == "compareTo" and len(args) == 1:
                # sign convention (-1/0/1), same as the interpreter;
                # Java's char-difference magnitude is not reproduced
                return (F.when(recv < args[0], -1)
                        .when(recv > args[0], 1)
                        .otherwise(0).cast("int"), T.IntegerType())
            if meth == "replace":
                return F.replace(recv, args[0], args[1]), T.StringType()
            if meth == "replaceAll" and len(args) == 2:
                # Spark's regexp_replace IS Java Matcher.replaceAll:
                # pattern syntax, $N group refs, \$ literal — exact
                return (F.regexp_replace(recv, args[0], args[1]),
                        T.StringType())
            if meth == "splitOnToken" \
                    and isinstance(node.args[0], ast.Constant) \
                    and "\\E" not in str(node.args[0].value):
                # ES StringFunctionUtils.splitOnToken: LITERAL separator
                # (\Q..\E quoting), trailing empties kept (limit -1),
                # limit > 0 caps parts with the last keeping the rest; an
                # empty or null token gives [receiver] (an empty regex
                # would split between every character)
                if not node.args[0].value:
                    return F.array(recv), T.ArrayType(T.StringType())
                sep = "\\Q" + str(node.args[0].value) + "\\E"
                lim = -1
                if len(node.args) > 1:
                    if not isinstance(node.args[1], ast.Constant):
                        raise UnsupportedScriptError(
                            "splitOnToken limit must be constant")
                    lim = int(node.args[1].value)
                return (F.split(recv, sep, lim),
                        T.ArrayType(T.StringType()))
            if meth == "equalsIgnoreCase":
                return (F.lower(recv) == F.lower(args[0])), T.BooleanType()
            if meth == "matches" and isinstance(
                    node.args[0], ast.Constant):
                # Java String.matches = entire-string regex
                return (F.coalesce(
                    recv.rlike(f"^(?:{node.args[0].value})$"),
                    F.lit(False)), T.BooleanType())
            raise UnsupportedScriptError(f"method .{meth}() unsupported")
        raise UnsupportedScriptError(f"call unsupported: {ast.dump(node)}")

    raise UnsupportedScriptError(f"unsupported syntax: {ast.dump(node)}")


# compiled-condition cache (r6): the boolean Column for a given source is
# a pure function of (source, params, and — per ctx path the compilation
# resolved — the resolver's schema signature for that path).  Keyed two-
# level: (source, params-repr) -> (resolved paths, {signature: Column}).
# Unresolved Columns are frame-independent, so reuse across compiles is
# safe whenever the signature matches; resolvers without a .signature
# hook (none in-tree) skip the cache.  Both levels are LRU-capped, so a
# long-lived driver compiling ever-new conditions stays bounded.
_COND_CACHE = LRU(512)
_COND_SIGS = 16  # cached schema signatures per condition


def compile_condition(source: str, resolve, params: dict | None = None) -> Column:
    """Painless ``if`` condition -> boolean Column (null-safe: null -> false)."""
    sig_fn = getattr(resolve, "signature", None)
    if sig_fn is None:
        return _lower_condition(source, resolve, params)
    key0 = (source, repr(sorted(params.items())) if params else None)
    entry = _COND_CACHE.get(key0)
    if entry is not None:
        paths, by_sig = entry
        col = by_sig.get(tuple(sig_fn(p) for p in paths))
        if col is not None:
            return col
    recorded: list[str] = []

    def rec(path: str):
        recorded.append(path)
        return resolve(path)

    def rec_present(path: str):
        recorded.append(path)
        return resolve.present(path)

    rec.present = rec_present
    col = _lower_condition(source, rec, params)
    paths = tuple(dict.fromkeys(recorded))
    if entry is None:
        entry = _COND_CACHE[key0] = (paths, LRU(_COND_SIGS))
    # paths are deterministic per source, so entry's path tuple matches
    entry[1][tuple(sig_fn(p) for p in paths)] = col
    return col


def compile_script(source: str, resolve, params: dict | None = None) -> list[tuple[str, Column]]:
    """Painless script body -> ordered [(field_path, value Column), ...]:
    :func:`lower_script` without the presence Columns."""
    return [(path, col) for path, col, _ in lower_script(source, resolve, params)]


def lower_script(source: str, resolve, params: dict | None = None) -> list[tuple[str, Column, Column]]:
    """Painless script body -> ordered [(field_path, value, present), ...],
    one entry per assignment in statement order; an ``if`` contributes
    one F.when-merged entry per path either branch assigns.  ``present``
    is the path's per-row presence after that statement: true where the
    script assigned it, the prior presence where an untaken branch left
    it alone.  Raises UnsupportedScriptError for anything else, and the
    script processor then runs the script on the per-row interpreter."""
    tree, regexes = parse(source)
    _Plain().visit(tree)
    out: list[tuple[str, Column, Column]] = []
    _lower(tree.body, _Ctx(_Scope(resolve), params, regexes), out)
    return out


def _lower_condition(source: str, resolve, params: dict | None) -> Column:
    tree, regexes = parse(source)
    _Plain().visit(tree)
    if len(tree.body) != 1 or not isinstance(tree.body[0], ast.Expr):
        raise UnsupportedScriptError(
            f"condition must be one expression: {source!r}")
    return _truth(_eval(tree.body[0].value, _Ctx(resolve, params, regexes)))


def _truth(val: tuple[Column, object]) -> Column:
    return F.coalesce(val[0].cast("boolean"), F.lit(False))


class _Plain(ast.NodeTransformer):
    """Drop the front end's interpreter-only wrappers: ``a?.b`` is plain
    field access (Columns null-propagate already), and ``_jlist``/
    ``_jmap``/``_jfn`` wrap literals and method refs that lower to arrays,
    maps and lambdas as they are.  Every other helper (casts,
    ``_jlist_new``, ``_USHR``, ...) is left for _eval to reject."""

    def visit_Call(self, node):    # noqa: N802
        self.generic_visit(node)
        f = node.func
        if not isinstance(f, ast.Name):
            return node
        if f.id in ("_jlist", "_jmap", "_jfn") and len(node.args) == 1:
            return node.args[0]
        if f.id in ("_nsget", "_nscall"):
            attr = ast.Attribute(value=node.args[0], attr=node.args[1].value,
                                 ctx=ast.Load())
            if f.id == "_nsget":
                return attr
            return ast.Call(func=attr, args=node.args[2:], keywords=[])
        return node


class _Scope:
    """ctx as the statements lowered so far leave it: in-script writes
    layer over the outer resolver (painless ctx is a live map, so
    ``ctx.r = ctx.i * 2; ctx.r2 = ctx.r + 1;`` reads the new ctx.r)."""

    def __init__(self, outer):
        self.outer = outer
        self.root = outer.root if isinstance(outer, _Scope) else self
        self.vals: dict[str, tuple[Column, object]] = {}
        self.sizes: dict[str, int] = {}       # path -> its value's _sized
        self.written: dict[str, Column] = {}  # path -> per-row presence
        self.read = 0   # root only: sizes of the written values read

    def __call__(self, path: str):
        if path in self.vals:
            self.root.read += self.sizes[path]
            return self.vals[path]
        self._overlaps(path)
        return self.outer(path)

    def present(self, path: str) -> Column:
        if path in self.written:
            return self.written[path]
        self._overlaps(path)
        present = getattr(self.outer, "present", None)
        if present is not None:
            return present(path)
        return self.outer(path)[0].isNotNull()

    def holds(self, path: str) -> bool:
        """Does ctx.``path`` hold a value: the script wrote it or a path
        under it, else the frame has a column at or under it.  A resolver
        that cannot tell says yes."""
        if any(w == path or w.startswith(path + ".") for w in self.vals):
            return True
        outer = (getattr(self.outer, "holds", None)
                 or getattr(self.outer, "exists", None))
        return outer is None or outer(path)

    def _overlaps(self, path: str) -> None:
        """A read or write inside a written value, or of a value holding a
        written path, would bypass the earlier write: a read goes to the
        input frame, a write lands in a flat column beside the value."""
        scope = self
        while isinstance(scope, _Scope):
            for w in scope.vals:
                if path.startswith(w + ".") or w.startswith(path + "."):
                    raise UnsupportedScriptError(
                        f"ctx.{path} overlaps the written ctx.{w}")
            scope = scope.outer


# An ``if`` inlines a path's prior value in both arms, so n sequential
# ``if (c) { ctx.s = ctx.s + 1; }`` build a 2^n-node expression; past
# this many (estimated) nodes the script runs on the interpreter instead.
_MAX_NODES = 2000


def _sized(node: ast.expr, c: _Ctx) -> tuple[tuple[Column, object], int]:
    """-> (_eval(node, c), estimated expression size): the AST's nodes
    plus the size of every in-script value it reads (inlined)."""
    c.resolve.root.read = 0
    val = _eval(node, c)
    return val, sum(1 for _ in ast.walk(node)) + c.resolve.root.read


def _bind(scope: _Scope, path: str, val, size: int, present: Column,
          out: list) -> None:
    if size > _MAX_NODES:
        raise UnsupportedScriptError(
            f"ctx.{path} lowers to ~{size} expression nodes")
    scope.vals[path], scope.sizes[path] = val, size
    scope.written[path] = present
    out.append((path, val[0], present))


def _lower(stmts: list[ast.stmt], c: _Ctx,
           out: list[tuple[str, Column, Column]]) -> None:
    """Lower statements in order into the _Scope ``c`` resolves through,
    appending each write to ``out``."""
    scope = c.resolve
    for s in stmts:
        if isinstance(s, ast.Assign) and len(s.targets) == 1:
            path = _field_path(s.targets[0])
            if not path or path == "__ctx__":
                raise UnsupportedScriptError(
                    f"assignment target must be a ctx field: "
                    f"{ast.unparse(s)!r}")
            parent = path.rpartition(".")[0]
            if parent and not scope.holds(parent):
                # painless: ctx.t is null, so ctx.t.x = v fails the row
                raise UnsupportedScriptError(
                    f"ctx.{path} is written under a null ctx.{parent}")
            scope._overlaps(path)
            val, size = _sized(s.value, c)
            _bind(scope, path, val, size, F.lit(True), out)
        elif isinstance(s, ast.If):
            test, size = _sized(s.test, c)
            cond = _truth(test)
            yes, no = _Scope(scope), _Scope(scope)
            for arm, body in ((yes, s.body), (no, s.orelse)):
                _lower(body, _Ctx(arm, c.params, c.regexes), [])
            for path in {**yes.vals, **no.vals}:
                scope.root.read = 2   # the two arms' leaves
                (a, adt), (b, bdt) = yes(path), no(path)
                _bind(scope, path, (F.when(cond, a).otherwise(b), adt or bdt),
                      1 + size + scope.root.read,
                      F.when(cond, yes.present(path))
                      .otherwise(no.present(path)), out)
        elif not isinstance(s, ast.Pass):
            # loops, locals and expression statements run on the
            # interpreter; a fold-shaped ast.For would lower here
            raise UnsupportedScriptError(
                f"{type(s).__name__} statement not lowered to Columns")
