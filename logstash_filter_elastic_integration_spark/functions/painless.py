"""Painless-subset compiler: condition / script source -> Spark Columns.

The reference embeds the full Painless script engine for processor ``if``
conditions and ``script`` processors (reference:
EventProcessorBuilder.java:233-240 wires the painless ScriptService; the
supported-subset caveat is docs/index.asciidoc:192).  Full Painless is a JVM
language — out of scope.  Following the reference's own pattern of failing
loudly on unsupported processors (spec/integration/
elastic_integration_spec.rb:1515-1570), we compile a *declared subset* to
pure Catalyst Column expressions and raise ``UnsupportedScriptError`` for
anything outside it, so unsupported pipelines fail at compile time, not
silently at run time.

Subset: ctx field refs (``ctx.a.b``, ``ctx['x']``, null-safe ``ctx?.a``),
literals, params refs, ``== != < <= > >= && || !``, arithmetic ``+ - * / %``
(``+`` is concat when either side is a string), ternary ``c ? a : b``,
method calls ``contains/startsWith/endsWith/length/isEmpty/toLowerCase/
toUpperCase/trim``, ``Processors.lowercase/uppercase`` helpers, and
assignment statements ``ctx.x = expr;`` in scripts.

Strategy: textually rewrite Painless tokens to Python syntax, parse with the
stdlib ``ast`` module, and fold the AST to Columns.  This keeps the entire
conditional surface inside Catalyst (whole-stage codegen) — conditions never
drop to Python at run time.
"""

from __future__ import annotations

import ast
import re

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from .lru import LRU


class UnsupportedScriptError(ValueError):
    pass


_REWRITES = [
    (re.compile(r"&&"), " and "),
    (re.compile(r"\|\|"), " or "),
    (re.compile(r"!(?![=])"), " not "),
    (re.compile(r"\bnull\b"), "None"),
    (re.compile(r"\btrue\b"), "True"),
    (re.compile(r"\bfalse\b"), "False"),
    (re.compile(r"\?\."), "."),
    # Java numeric-literal suffixes: 0L, 1.5f, 2.0d -> plain literals
    (re.compile(r"\b(\d+)[Ll]\b"), r"\1"),
    (re.compile(r"\b(\d+\.\d+)[FfDd]\b"), r"\1"),
]
_TERNARY = re.compile(r"^(?P<c>[^?]+)\?(?P<a>[^:]+):(?P<b>.+)$")

# string literals must be lifted out BEFORE any token rewrite or statement
# split: 'Hello && null' would otherwise compile to a comparison against
# 'Hello  and  None', and ; = ? : { } inside literals would derail the
# statement/ternary/if-block parsing (ADVICE r1)
_STR_RX = re.compile(r"'(?:\\.|[^'\\])*'|\"(?:\\.|[^\"\\])*\"")
_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f"}


def _protect_literals(src: str) -> tuple[str, list[str]]:
    """Replace every quoted literal with a ``__sN__`` placeholder token
    (a plain identifier — inert under all rewrites) and return the
    unescaped contents for later restoration."""
    lits: list[str] = []

    def sub(m):
        raw = m.group(0)[1:-1]
        content = re.sub(r"\\(.)",
                         lambda e: _ESCAPES.get(e.group(1), e.group(1)), raw)
        lits.append(content)
        return f" __s{len(lits) - 1}__ "

    return _STR_RX.sub(sub, src), lits


def _restore_literals(src: str, lits: list[str]) -> str:
    for i, s in enumerate(lits):
        src = src.replace(f"__s{i}__", repr(s))
    return src


# Painless regex operators (run AFTER string protection, BEFORE token
# rewrites): `expr =~ /pat/` is Matcher.find, `expr ==~ /pat/` is
# Matcher.matches (entire string).  The regex literal becomes a placeholder
# NAME on the right of a plain `==` so the stdlib ast can parse it; both
# engines special-case `_rx[mf]<N>` names back into regex semantics.
_RX_OP = re.compile(r"(==~|=~)\s*/((?:\\.|[^/\n])*)/")
# standalone Pattern literal in expression position: /re/.matcher(x) etc.
# (lookbehind rejects identifier/closing-bracket/digit before '/' so
# division expressions never match)
_RX_METHOD = re.compile(
    r"(?<![\w)\]])/((?:\\.|[^/\n])*)/\s*\.\s*(matcher|split)\s*\(")

# Elvis operator `a ?: b` (null-coalesce).  Rewritten to `a |_EV| b`:
# after `||` -> `or`, the single `|` is unused in Painless, and `_EV`
# resolves to a reflected-or sentinel in the interpreter / a coalesce
# lowering in the Column compiler.  Must run BEFORE ternary handling
# (`?` would otherwise split it) — both engines apply it right after
# regex protection.
_ELVIS_RX = re.compile(r"\?\s*:")

_LHS_KEYWORD_RX = re.compile(r"^\s*(return|throw)\b")


def _rewrite_elvis(src: str) -> str:
    """``a ?: b`` -> ``(a) |_EV| (b)``.  Painless ?: binds LOOSER than
    comparisons (`a ?: b == c` is `a ?: (b == c)`), while Python's `|`
    binds tighter — so both operands are explicitly parenthesized out to
    the enclosing expression boundary.  Chains (`a ?: b ?: c`) need no
    special casing: left-assoc `|` coalescing is value-equivalent."""
    while True:
        m = _ELVIS_RX.search(src)
        if not m:
            return src
        # left boundary: scan back at bracket-depth 0 for a statement /
        # argument / ternary delimiter or an assignment `=`
        i = m.start() - 1
        depth = 0
        lhs_start = 0
        while i >= 0:
            c = src[i]
            if c in ")]":
                depth += 1
            elif c in "([":
                if depth == 0:
                    lhs_start = i + 1
                    break
                depth -= 1
            elif depth == 0:
                if c in ";{},?:":
                    lhs_start = i + 1
                    break
                if c == "=":
                    if i > 0 and src[i - 1] in "=!<>":
                        i -= 1  # comparison ==/!=/<=/>= — inside the LHS
                    else:
                        lhs_start = i + 1  # (compound) assignment
                        break
            i -= 1
        # right boundary: forward scan, same delimiter set
        j = m.end()
        depth = 0
        rhs_end = len(src)
        while j < len(src):
            c = src[j]
            if c in "([":
                depth += 1
            elif c in ")]":
                if depth == 0:
                    rhs_end = j
                    break
                depth -= 1
            elif depth == 0 and c in ";}{,?:":
                rhs_end = j
                break
            j += 1
        lhs = src[lhs_start:m.start()]
        kw = _LHS_KEYWORD_RX.match(lhs)
        pre = lhs[:kw.end()] if kw else ""
        lhs = lhs[kw.end():] if kw else lhs
        src = (src[:lhs_start] + pre + " (" + lhs + ") |_EV| ("
               + src[m.end():rhs_end] + ") " + src[rhs_end:])


# Painless lambdas `(a, b) -> body` / `x -> body` -> Python `lambda`.
# Runs BEFORE the elvis rewrite (the elvis boundary scan would otherwise
# misparse an arrow's parameter list as part of its left operand).
_MREF_RX = re.compile(r"\b([A-Za-z_]\w*)\s*::\s*([A-Za-z_]\w*)")

_MREF_STATIC = {"Integer", "Long", "Double", "Float", "Boolean", "Math",
                "Processors"}


def _rewrite_method_refs(src: str, wrap: str | None = None) -> str:
    """Method references: ``Integer::parseInt`` (static) -> the bound
    function; ``String::toLowerCase`` (instance) -> a one-arg lambda.
    Unknown owners are left untouched and fail loud downstream.
    ``wrap`` (interpreter only) encloses the result in a functional-
    interface wrapper so a STORED ref dispatches Java names
    (``Function f = String::valueOf; f.apply(3)``)."""
    def sub(m):
        cls, meth = m.groups()
        if cls in _MREF_STATIC or (cls == "String"
                                   and meth in ("valueOf", "join")):
            out = f"{cls}.{meth}"
        elif cls in ("String", "Object"):
            out = f"(lambda _mr: _mr.{meth}())"
        else:
            return m.group(0)
        return f"{wrap}({out})" if wrap else out
    return _MREF_RX.sub(sub, src)


def _rewrite_lambdas(src: str) -> str:
    """``(int a, String b) -> expr`` / ``x -> expr`` -> ``lambda a, b:
    (expr)``.  The body extends to the first top-level ``,`` ``)`` ``]``
    ``}`` ``;`` or ternary-unbalanced ``:`` (ternaries INSIDE the body are
    tracked so their ``:`` doesn't cut it short)."""
    while True:
        k = src.find("->")
        if k < 0:
            return src
        # params: back over whitespace; a ')' closes a parenthesized list,
        # otherwise a single bare identifier
        i = k - 1
        while i >= 0 and src[i] in " \t":
            i -= 1
        if i >= 0 and src[i] == ")":
            depth, j = 1, i - 1
            while j >= 0 and depth:
                depth += {")": 1, "(": -1}.get(src[j], 0)
                j -= 1
            pstart = j + 1
            raw = src[pstart + 1:i]
        else:
            j = i
            while j >= 0 and (src[j].isalnum() or src[j] == "_"):
                j -= 1
            pstart = j + 1
            raw = src[pstart:i + 1]
        # painless params may be typed: `(int a, def b)` -> last token each
        params = ", ".join(p.strip().split()[-1]
                           for p in raw.split(",") if p.strip())
        # body: forward scan with bracket + ternary depth
        m = k + 2
        depth = tern = 0
        end = len(src)
        p2 = m
        while p2 < len(src):
            ch = src[p2]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                if depth == 0:
                    end = p2
                    break
                depth -= 1
            elif depth == 0:
                if ch in ",;}":
                    end = p2
                    break
                if ch == "?":
                    rest = src[p2 + 1:]
                    stripped = rest.lstrip()
                    if stripped.startswith(":"):
                        # elvis `?:` — skip the pair entirely
                        p2 += 1 + (len(rest) - len(stripped)) + 1
                        continue
                    tern += 1        # ternary opens
                elif ch == ":":
                    if tern == 0:
                        end = p2
                        break
                    tern -= 1
            p2 += 1
        body = src[m:end].strip()
        src = (src[:pstart] + " (lambda " + params + ": (" + body + ")) "
               + src[end:])


def _protect_regexes(src: str) -> tuple[str, list[tuple[str, str]]]:
    pats: list[tuple[str, str]] = []

    def sub_method(m):
        # standalone Pattern literal: /re/.matcher(x) | /re/.split(x) —
        # becomes a placeholder NAME the interpreter binds to a compiled
        # java.util.regex.Pattern stand-in
        pats.append(("p", m.group(1)))
        return f"_rxp{len(pats) - 1}.{m.group(2)}("

    src = _RX_METHOD.sub(sub_method, src)

    def sub(m):
        kind = "m" if m.group(1) == "==~" else "f"
        pats.append((kind, m.group(2)))
        return f" == _rx{kind}{len(pats) - 1} "

    return _RX_OP.sub(sub, src), pats


_RX_NAME = re.compile(r"^_rx([mf])(\d+)$")

# `x instanceof String` -> `x == _jtString` (reflected type-check object in
# the interpreter; static-dtype lowering in the Column compiler)
_INSTANCEOF_RX = re.compile(r"\binstanceof\s+([A-Za-z_]\w*)")


def _rewrite_instanceof(src: str) -> str:
    return _INSTANCEOF_RX.sub(r" == _jt\1", src)


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


def _rewrite_collection_literals(src: str, wrap: bool = False) -> str:
    """Painless collection literals -> Python: map ``['a': 1]`` -> ``{'a':
    1}`` (empty map ``[:]`` -> ``{}``), list ``[1, 2]`` stays a list.
    Only brackets in LITERAL position (after an operator/opener/start) are
    touched — ``x[0]`` subscripts are untouched.  With ``wrap`` (the
    interpreter engine) results are passed through ``_jmap(..)`` /
    ``_jlist(..)`` so Java method names (put/add/size/...) work on them.
    Runs after string protection, so quoted ``:``/brackets are inert."""
    out: list[str] = []
    i, n = 0, len(src)

    def literal_pos(j: int) -> bool:
        k = j - 1
        while k >= 0 and src[k] in " \t\r\n":
            k -= 1
        return k < 0 or src[k] in "=(,+-*/%<>!&|?:;{["

    while i < n:
        ch = src[i]
        if ch == "[" and literal_pos(i):
            depth, j = 1, i + 1
            while j < n and depth:
                if src[j] == "[":
                    depth += 1
                elif src[j] == "]":
                    depth -= 1
                j += 1
            if depth:  # unbalanced — leave untouched, parser will complain
                out.append(ch)
                i += 1
                continue
            inner = _rewrite_collection_literals(src[i + 1:j - 1], wrap)
            d2, has_colon = 0, False
            for c2 in inner:
                if c2 in "([{":
                    d2 += 1
                elif c2 in ")]}":
                    d2 -= 1
                elif c2 == ":" and d2 == 0:
                    has_colon = True
            if inner.strip() == ":" or has_colon:
                body = "" if inner.strip() == ":" else inner
                rep = "{" + body + "}"
                out.append(f"_jmap({rep})" if wrap else rep)
            else:
                rep = "[" + inner + "]"
                out.append(f"_jlist({rep})" if wrap else rep)
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _to_python(src: str, lits: list[str] | None = None) -> str:
    if lits is None:
        src, lits = _protect_literals(src)
    # painless statements span lines freely (newlines are whitespace);
    # python eval-mode is line-sensitive, so collapse them — string
    # literals are already protected as placeholders
    src = re.sub(r"\s*\n\s*", " ", src)
    src = src.strip().rstrip(";")
    for rx, rep in _REWRITES:
        src = rx.sub(rep, src)
    src = _rewrite_method_refs(src)
    src = _rewrite_lambdas(src)
    src = _rewrite_elvis(src)
    src = _rewrite_instanceof(src)
    src = _rewrite_collection_literals(src)
    # painless ternary -> python conditional (single, non-nested)
    m = _TERNARY.match(src)
    if m and "==" not in src.split("?")[0][-2:]:
        src = f"({m.group('a').strip()}) if ({m.group('c').strip()}) else ({m.group('b').strip()})"
    return _restore_literals(src.strip(), lits)


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
                # limit > 0 caps parts with the last keeping the rest
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
        src, lits = _protect_literals(source)
        src, regexes = _protect_regexes(src)
        return _compile_condition_p(src, lits, resolve, params, regexes)
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
    src, lits = _protect_literals(source)
    src, regexes = _protect_regexes(src)
    col = _compile_condition_p(src, lits, rec, params, regexes)
    paths = tuple(dict.fromkeys(recorded))
    if entry is None:
        entry = _COND_CACHE[key0] = (paths, LRU(_COND_SIGS))
    # paths are deterministic per source, so entry's path tuple matches
    entry[1][tuple(sig_fn(p) for p in paths)] = col
    return col


def _compile_condition_p(source: str, lits: list[str], resolve,
                         params: dict | None = None,
                         regexes: list[tuple[str, str]] | None = None) -> Column:
    py = _to_python(source, lits)
    try:
        tree = ast.parse(py, mode="eval")
    except SyntaxError as e:
        raise UnsupportedScriptError(f"cannot parse condition {source!r}: {e}") from e
    col, _ = _eval(tree.body, _Ctx(resolve, params, regexes))
    return F.coalesce(col.cast("boolean"), F.lit(False))


_IF_BLOCK = re.compile(
    r"^\s*if\s*\((?P<cond>.*?)\)\s*\{(?P<body>[^{}]*)\}"
    r"(?:\s*else\s*\{(?P<els>[^{}]*)\})?\s*$", re.S)


def compile_script(source: str, resolve, params: dict | None = None) -> list[tuple[str, Column]]:
    """Painless script body -> ordered [(field_path, value Column), ...].

    Supported: sequences of ``ctx.<path> = <expr>;`` assignments — the
    shape of the reference's script-processor fixture
    (src/test/resources/.../script-processor-pipelines/pipeline.json) —
    plus single-level ``if (cond) { ...assignments... } [else { ... }]``
    blocks, which compile to F.when-gated assignments.

    Literals are protected up-front, so ; = ? : { } && null etc. INSIDE
    quoted strings never affect statement splitting or token rewrites.
    """
    src, lits = _protect_literals(source)
    src, regexes = _protect_regexes(src)
    return _compile_script_p(src, lits, resolve, params, regexes)


def _compile_script_p(source: str, lits: list[str], resolve,
                      params: dict | None = None,
                      regexes: list[tuple[str, str]] | None = None
                      ) -> list[tuple[str, Column]]:
    m = _IF_BLOCK.match(source.strip())
    if m:
        cond = _compile_condition_p(m.group("cond"), lits, resolve, params,
                                    regexes)
        body = dict(_compile_script_p(m.group("body"), lits, resolve, params,
                                      regexes))
        els = dict(_compile_script_p(m.group("els") or "", lits, resolve,
                                     params, regexes))
        out: list[tuple[str, Column]] = []
        for path in {**body, **els}:
            cur, _ = resolve(path)
            out.append((path, F.when(cond, body.get(path, cur))
                        .otherwise(els.get(path, cur))))
        return out
    # later statements see earlier in-script assignments (painless ctx is
    # a live map: `ctx.r = ctx.i * 2; ctx.r2 = ctx.r + 1;`) — layer the
    # accumulated assignments over the frame resolver
    assigned: dict[str, tuple[Column, object]] = {}

    def layered_resolve(path: str):
        if path in assigned:
            return assigned[path]
        return resolve(path)

    if hasattr(resolve, "present"):
        # an in-script assignment makes the key present (even null)
        layered_resolve.present = lambda path: (
            F.lit(True) if path in assigned else resolve.present(path))

    ctx = _Ctx(layered_resolve, params, regexes)
    out: list[tuple[str, Column]] = []
    for stmt in [s.strip() for s in source.split(";") if s.strip()]:
        lhs, rhs = _split_assignment(stmt)
        try:
            target = ast.parse(_to_python(lhs, lits), mode="eval").body
        except SyntaxError as e:
            raise UnsupportedScriptError(f"cannot parse target {lhs!r}: {e}") from e
        path = _field_path(target)
        if not path or path == "__ctx__":
            raise UnsupportedScriptError(f"assignment target must be ctx field: {stmt!r}")
        py = _to_python(rhs, lits)
        try:
            tree = ast.parse(py, mode="eval")
        except SyntaxError as e:
            raise UnsupportedScriptError(f"cannot parse script stmt {stmt!r}: {e}") from e
        col, dt = _eval(tree.body, ctx)
        out.append((path, col))
        assigned[path] = (col, dt)
    return out


def _split_assignment(stmt: str) -> tuple[str, str]:
    """Split on the FIRST top-level '=' that isn't ==/!=/<=/>= — so ternary
    and comparison operators on the right side parse correctly."""
    for i, ch in enumerate(stmt):
        if ch != "=":
            continue
        prev = stmt[i - 1] if i else ""
        nxt = stmt[i + 1] if i + 1 < len(stmt) else ""
        if prev in "=!<>" or nxt == "=":
            continue
        return stmt[:i].strip(), stmt[i + 1:].strip()
    raise UnsupportedScriptError(f"only assignments supported, got: {stmt!r}")
