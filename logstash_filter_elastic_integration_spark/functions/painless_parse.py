"""The one Painless front end: source -> validated Python AST.

Processor ``if`` conditions and ``script`` processors parse here, one way
(the reference has one script service, EventProcessorBuilder.java:233-240).
:func:`parse` runs four steps:

1. TRANSPILE Painless to Python source: literal and regex-literal
   protection, token rewrites (``&&/||/!``, ``null/true/false``, ``?.``,
   ``new T(..)``, numeric suffixes), lambdas and method references, casts,
   Elvis, ``instanceof``, collection literals, then the statement
   structure: C-style and for-each ``for``, typed declarations, ``x++``,
   braces to indentation, ternaries to conditional expressions, and an
   iteration cap on every ``while`` (a runaway script fails the ROW, it
   cannot stall an executor core).
2. ``ast.parse`` the result.
3. Lower the ``?.`` marker to ``_nsget``/``_nscall`` and ctx metadata
   fields (``ctx._index``) to the bracket form.
4. VALIDATE the AST against a statement/expression whitelist (no imports,
   no underscore attributes, no dunder names).  Anything outside it raises
   UnsupportedScriptError at compile time: the engine's fail-loud
   contract.

Two back ends consume the tree: the Column lowering in :mod:`painless`
and the per-row interpreter in :mod:`painless_exec`.
"""

from __future__ import annotations

import ast
import re


class UnsupportedScriptError(ValueError):
    pass


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
# (`?` would otherwise split it).
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


def _rewrite_method_refs(src: str) -> str:
    """Method references: ``Integer::parseInt`` (static) -> the bound
    function; ``String::toLowerCase`` (instance) -> a one-arg lambda.
    Unknown owners are left untouched and fail loud downstream.  The
    result is wrapped in ``_jfn(..)`` so a STORED ref dispatches Java
    names in the interpreter (``Function f = String::valueOf;
    f.apply(3)``)."""
    def sub(m):
        cls, meth = m.groups()
        if cls in _MREF_STATIC or (cls == "String"
                                   and meth in ("valueOf", "join")):
            out = f"{cls}.{meth}"
        elif cls in ("String", "Object"):
            out = f"(lambda _mr: _mr.{meth}())"
        else:
            return m.group(0)
        return f"_jfn({out})"
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


# `x instanceof String` -> `x == _jtString` (reflected type-check object in
# the interpreter; static-dtype lowering in the Column compiler)
_INSTANCEOF_RX = re.compile(r"\binstanceof\s+([A-Za-z_]\w*)")


def _rewrite_instanceof(src: str) -> str:
    return _INSTANCEOF_RX.sub(r" == _jt\1", src)


def _rewrite_collection_literals(src: str) -> str:
    """Painless collection literals -> Python: map ``['a': 1]`` ->
    ``_jmap({'a': 1})`` (empty map ``[:]`` -> ``_jmap({})``), list
    ``[1, 2]`` -> ``_jlist([1, 2])``; the wrappers give the interpreter
    Java method names (put/add/size/...).  Only brackets in LITERAL
    position (after an operator/opener/start) are touched — ``x[0]``
    subscripts are untouched.  Runs after string protection, so quoted
    ``:``/brackets are inert."""
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
            inner = _rewrite_collection_literals(src[i + 1:j - 1])
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
                out.append("_jmap({" + body + "})")
            else:
                out.append("_jlist([" + inner + "])")
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


_TOKEN_REWRITES = [
    (re.compile(r"&&"), " and "),
    (re.compile(r"\|\|"), " or "),
    (re.compile(r"!(?![=])"), " not "),
    (re.compile(r"\bnull\b"), "None"),
    (re.compile(r"\btrue\b"), "True"),
    (re.compile(r"\bfalse\b"), "False"),
    # null-safe `a?.b`: marker attribute the _NullSafe AST pass lowers to
    # _nsget/_nscall (short-circuits to null like Java, instead of the old
    # plain-`.` rewrite that NPE'd on a null receiver)
    (re.compile(r"\?\."), ".NSAFE."),
    # Java-method-capable wrappers, not bare []/{}: scripts call
    # .add/.put/.size on these.  Constructors accept an optional source
    # collection/capacity argument (`new ArrayList(other)`).
    (re.compile(r"\bnew\s+(?:ArrayList|LinkedList|ArrayDeque|Stack|Vector)"
                r"\s*\("), "_jlist_new("),
    (re.compile(r"\bnew\s+(?:HashMap|LinkedHashMap)\s*\("), "_jmap_new("),
    (re.compile(r"\bnew\s+TreeMap\s*\("), "_jtreemap_new("),
    (re.compile(r"\bnew\s+(?:HashSet|LinkedHashSet)\s*\("), "_jset_new("),
    (re.compile(r"\bnew\s+TreeSet\s*\("), "_jtreeset_new("),
    (re.compile(r"\bnew\s+StringBuilder\s*\("), "_jsb("),
    (re.compile(r"\bnew\s+StringJoiner\s*\("), "_jsj("),
    (re.compile(r"\bnew\s+String\s*\("), "_jstrnew("),
    # `throw new SomeException(msg)` -> raise of a catchable _JThrown
    # carrying the Java type name (typed catch blocks filter on it)
    (re.compile(r"\bnew\s+(\w*(?:Exception|Error))\s*\(\s*\)"),
     r"_jexc_new('\1')"),
    (re.compile(r"\bnew\s+(\w*(?:Exception|Error))\s*\("), r"_jexc_new('\1', "),
    (re.compile(r"\bthrow\b"), "raise"),
    # unsigned right shift: reflected-operator trick (a >>> b is not
    # Python); _USHR.__rrshift__ captures the left operand
    (re.compile(r">>>"), " >> _USHR >> "),
    # Java numeric-literal suffixes: 0L, 1.5f, 2.0d -> plain literals
    (re.compile(r"\b(\d+)[Ll]\b"), r"\1"),
    (re.compile(r"\b(\d+\.\d+)[FfDd]\b"), r"\1"),
]
# a local declaration's leading type: the known primitives/def/var plus ANY
# Capitalized type name (painless allows arbitrary allowlisted classes —
# StringBuilder, ZonedDateTime, Set, DateTimeFormatter ...), optionally
# generic (`Map<String, Object>`), dotted (`Map.Entry`) or array (`int[]`).
# The lookahead requires `ident =` or a bare trailing ident so expression
# statements like `Objects.equals(a, b)` are never mistaken for decls.
_DECL = re.compile(
    r"^(?:def|var|int|long|short|byte|double|float|boolean|char|"
    r"[A-Z]\w*(?:\.\w+)?)(?:\s*<[^<>;=]*(?:<[^<>;=]*>)?[^<>;=]*>)?"
    r"(?:\s*\[\s*\])?\s+(?=[A-Za-z_]\w*\s*(?:=(?!=)|$))")
_INCR = re.compile(r"^(?P<t>.+?)\+\+$")
_DECR = re.compile(r"^(?P<t>.+?)--$")
_PRE_INCR = re.compile(r"^\+\+\s*(?P<t>[A-Za-z_]\w*)$")
_PRE_DECR = re.compile(r"^--\s*(?P<t>[A-Za-z_]\w*)$")
_WHILE_CAP = 100_000


# Java cast `(Type) expr`: rewritten to `_CAST_Type @ expr`.  `@` binds
# tighter than every binary operator except unary minus and `**` — the
# same precedence Java gives a cast — and the postfix chain after the
# operand (calls, attribute access) binds tighter still, so
# `(int) ctx.s.charAt(0) + 1` applies the cast to the charAt result and
# then adds, exactly like Java.  Chained casts compose through
# _CastOp.__matmul__.
_CAST_RX = re.compile(
    r"\(\s*(int|long|short|byte|float|double|boolean|char|String|"
    r"CharSequence|Integer|Long|Short|Byte|Float|Double|Boolean|Character|"
    r"Number|Object|def|List|ArrayList|Map|HashMap)\s*\)\s*(?=[\w(])")


def _rewrite_casts(src: str) -> str:
    return _CAST_RX.sub(lambda m: f"_CAST_{m.group(1)} @ ", src)


_ARR_NEW_RX = re.compile(r"\bnew\s+(\w+)\s*\[")


def _close(src: str, j: int, opn: str = "(", cls: str = ")") -> int:
    """Index just past the bracket that closes one opened before ``j``."""
    depth = 1
    while j < len(src) and depth:
        depth += (src[j] in opn) - (src[j] in cls)
        j += 1
    return j


def _rewrite_array_news(src: str) -> str:
    """``new T[n]`` -> default-filled JList; ``new T[] {a, b}`` /
    ``new def[]{a, b}`` -> _jarr_lit(a, b) (varargs, so the brace
    initializer needs no bracket-literal interplay)."""
    out, i = [], 0
    while True:
        m = _ARR_NEW_RX.search(src, i)
        if not m:
            out.append(src[i:])
            break
        out.append(src[i:m.start()])
        j, n = _close(src, m.end(), "[", "]"), len(src)
        inner = src[m.end():j - 1].strip()
        if inner:                           # sized: new T[n]
            out.append(f"_jarr_new('{m.group(1)}', {inner})")
            i = j
            continue
        k = j
        while k < n and src[k] in " \t\r\n":
            k += 1
        if k < n and src[k] == "{":         # initializer: new T[] {...}
            e = _close(src, k + 1, "{", "}")
            out.append(f"_jarr_lit({src[k + 1:e - 1]})")
            i = e
        else:                               # bare new T[]
            out.append("_jarr_lit()")
            i = j
    return "".join(out)


def _top(s: str):
    """(index, char) of each char of ``s`` outside ()/[] groups."""
    depth = 0
    for i, ch in enumerate(s):
        depth -= ch in ")]"
        if not depth:
            yield i, ch
        depth += ch in "(["


def _rw_expr(e: str) -> str:
    """Whole-expression ternary `c ? a : b` -> Python conditional, found
    via a paren/bracket-aware scan (a call in the condition — e.g.
    ``ctx.containsKey('x') ? .. : ..`` — must not defeat the rewrite).
    Nested right-assoc ternaries in the else-arm recurse naturally."""
    e = e.strip()
    qi = next((i for i, ch in _top(e) if ch == "?"), -1)
    if qi < 0:
        if "?" not in e:
            return e
        # ternary buried inside parens/brackets (e.g. a lambda body):
        # recurse into each top-level group
        out, i = [], 0
        while i < len(e):
            ch = e[i]
            if ch in "([":
                j = _close(e, i + 1, "([", ")]")
                out.append(ch + _rw_expr(e[i + 1:j - 1]) + e[j - 1])
                i = j
            else:
                out.append(ch)
                i += 1
        return "".join(out)
    nest = 0
    for j, ch in _top(e):
        if j > qi and ch == "?":
            nest += 1
        elif j > qi and ch == ":":
            if nest == 0:
                c, a, b = e[:qi], e[qi + 1:j], e[j + 1:]
                return (f"({_rw_expr(a)}) if ({_rw_expr(c)}) "
                        f"else ({_rw_expr(b)})")
            nest -= 1
    return e


def _split_assign(stmt: str):
    """First top-level '=' that isn't a comparison -> (lhs_with_op, rhs)."""
    for i, ch in _top(stmt):
        if ch == "=":
            prev = stmt[i - 1] if i else ""
            nxt = stmt[i + 1] if i + 1 < len(stmt) else ""
            if prev in "=!<>" or nxt == "=":
                continue
            op = prev if prev in "+-*/%" else ""
            lhs = stmt[:i - len(op)].strip()
            return f"{lhs} {op}=", stmt[i + 1:].strip()
    return None, None


def _stmt_py(stmt: str) -> str:
    # a painless statement may span source lines (fluent chains); the
    # transpiled Python statement must be ONE line (literals are
    # placeholder-protected, so embedded newlines can't be content)
    stmt = re.sub(r"\s*\n\s*", " ", stmt)
    stripped = _DECL.sub("", stmt.strip())
    if stripped != stmt.strip() and re.fullmatch(r"[A-Za-z_]\w*", stripped):
        # declaration without initializer (`int i;`): bind to null so a
        # later conditional assignment has a name to write
        return f"{stripped} = None"
    stmt = stripped
    m = _INCR.match(stmt) or _PRE_INCR.match(stmt)
    if m:
        return f"{m.group('t').strip()} += 1"
    m = _DECR.match(stmt) or _PRE_DECR.match(stmt)
    if m:
        return f"{m.group('t').strip()} -= 1"
    lhs, rhs = _split_assign(stmt)
    if lhs is not None:
        return f"{lhs} {_rw_expr(rhs)}"
    return _rw_expr(stmt)


def _split_stmts(src: str):
    """Split a brace-free chunk on top-level ';' (paren/bracket-aware)."""
    cuts = [i for i, ch in _top(src) if ch == ";"]
    out = [src[a + 1:b] for a, b in zip([-1] + cuts, cuts + [len(src)])]
    return [s.strip() for s in out if s.strip()]


_HDR = re.compile(r"^\s*(if|for|while|else\s+if|else|try|catch|do)\b\s*", re.S)
# painless user-defined function header: `returnType name(typed params)`
_FUNC_HDR = re.compile(
    r"^\s*(?:def|void|int|long|short|byte|double|float|boolean|char|String|"
    r"Object|List|Map|ArrayList|HashMap)\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\((?P<params>[^)]*)\)\s*$", re.S)


_PY_HDR = {"if": "if ", "else if": "elif ", "else": "else", "try": "try"}


def _loop(lines: list[str], pad: str, test: str, loop: str,
          counter: list[int], first: str | None = None) -> None:
    """``while test:`` plus the iteration watchdog: a runaway script fails
    the ROW, it cannot stall an executor core.  ``first`` names a flag
    that is true on entry and false from the first iteration on."""
    cap = f"__wcap{counter[0]}"
    counter[0] += 1
    lines.append(f"{pad}{cap} = 0")
    if first:
        lines.append(f"{pad}{first} = True")
    lines.append(f"{pad}while {test}:")
    if first:
        lines.append(f"{pad}    {first} = False")
    lines += [f"{pad}    {cap} += 1",
              f"{pad}    if {cap} > {_WHILE_CAP}: raise RuntimeError("
              f"'script {loop} exceeded {_WHILE_CAP} iterations "
              f"(watchdog)')"]


def _sub_block(body, indent, lines, counter):
    """Transpile a nested block; an EMPTY painless block (`{ }`) must still
    emit `pass` (the shared-lines recursion otherwise emits nothing and
    the next statement lands unindented)."""
    before = len(lines)
    _transpile_block(body, indent, lines, counter)
    if len(lines) == before:
        lines.append("    " * indent + "pass")


def _transpile_block(src: str, indent: int, lines: list[str],
                     counter: list[int]) -> None:
    pad = "    " * indent
    i = 0
    n = len(src)
    while i < n:
        while i < n and src[i] in " \t\r\n;":
            i += 1
        if i >= n:
            break
        m = _HDR.match(src[i:])
        if m:
            kw = re.sub(r"\s+", " ", m.group(1))
            j = i + m.end()
            cond = None
            if kw not in ("else", "try", "do"):  # a (...) header follows
                if j >= n or src[j] != "(":
                    raise UnsupportedScriptError(
                        f"expected ( after {kw!r}: {src[i:i+40]!r}")
                k = _close(src, j + 1)
                cond, j = src[j + 1:k - 1], k
            while j < n and src[j] in " \t\r\n":
                j += 1
            if j >= n or src[j] != "{":
                raise UnsupportedScriptError(
                    f"painless blocks must be braced: {src[i:i+40]!r}")
            k = _close(src, j + 1, "{", "}")
            body = src[j + 1:k - 1]
            if kw in _PY_HDR:
                lines.append(f"{pad}{_PY_HDR[kw]}"
                             f"{_rw_expr(cond) if cond else ''}:")
                _sub_block(body, indent + 1, lines, counter)
            elif kw == "catch":
                # painless `catch (Exception e)` -> `except Exception as e`
                # (every painless exception type maps to Python Exception;
                # the watchdog RuntimeError deliberately remains catchable,
                # matching the reference where scripts can catch anything)
                toks = cond.split() if cond else []
                var = toks[-1] if toks else "_e"
                etype = toks[0] if len(toks) > 1 else "Exception"
                lines.append(f"{pad}except Exception as {var}:")
                if etype not in ("Exception", "Throwable", "Error"):
                    # Java catch is TYPED: a catch(NumberFormatException e)
                    # must not swallow an IndexOutOfBounds — re-raise
                    # non-matching exceptions so an outer handler (or the
                    # row failure channel) sees them
                    lines.append(f"{pad}    if not _exc_is({var}, "
                                 f"'{etype}'): raise")
                lines.append(f"{pad}    {var} = _jexc({var})")
                _sub_block(body, indent + 1, lines, counter)
            elif kw == "do":
                # do { body } while (cond); -> while True: body; if not cond: break
                m2 = re.match(r"\s*while\s*\(", src[k:])
                if not m2:
                    raise UnsupportedScriptError(
                        f"do-block needs a trailing while(...): {src[k:k+40]!r}")
                j2 = k + m2.end()
                k2 = _close(src, j2)
                first = f"__dwfirst{counter[0]}"
                # `while first or cond:` (not `while True: ...; if not
                # cond: break`) so a `continue` in the body re-evaluates
                # the condition like Java does, instead of looping
                # unconditionally into the watchdog.
                _loop(lines, pad, f"{first} or ({_rw_expr(src[j2:k2 - 1])})",
                      "do-while", counter, first)
                _transpile_block(body, indent + 1, lines, counter)
                k = k2
            elif kw == "while":
                _loop(lines, pad, _rw_expr(cond), "while-loop", counter)
                _transpile_block(body, indent + 1, lines, counter)
            else:  # for
                parts = _split_stmts(cond)
                if len(parts) == 3:  # C-style: init; test; step
                    lines.append(f"{pad}{_stmt_py(parts[0])}")
                    _loop(lines, pad, _rw_expr(parts[1]), "for-loop",
                          counter)
                    _transpile_block(body, indent + 1, lines, counter)
                    lines.append(f"{pad}    {_stmt_py(parts[2])}")
                elif len(parts) == 1 and (
                        ":" in parts[0]
                        or re.search(r"\bin\b", parts[0])):  # for-each
                    # painless has BOTH for-each forms: `for (def x : it)`
                    # and `for (x in it)` (Groovy-style)
                    if ":" in parts[0]:
                        var, _, it = parts[0].partition(":")
                    else:
                        var, it = re.split(r"\bin\b", parts[0], maxsplit=1)
                    var = _DECL.sub("", var.strip())
                    lines.append(f"{pad}for {var} in ({_rw_expr(it)}):")
                    _sub_block(body, indent + 1, lines, counter)
                else:
                    raise UnsupportedScriptError(
                        f"unsupported for(...) header: {cond!r}")
            i = k
        else:
            # plain statements until the next '{' at depth 0 or end
            j = i
            depth = 0
            while j < n:
                ch = src[j]
                if ch in "([":
                    depth += 1
                elif ch in ")]":
                    depth -= 1
                elif ch == "{" and depth == 0:
                    break
                j += 1
            # back off to the start of the header statement if a block
            # follows; header keywords are matched on the next loop turn
            chunk = src[i:j]
            if j < n:  # a '{' follows: split off the trailing header
                hm = None
                for hmatch in re.finditer(
                        r"(?:^|;)\s*((?:if|for|while|else|try|catch|do)\b.*)$", chunk,
                        re.S):
                    hm = hmatch
                if hm is None:
                    # user-defined FUNCTION?  painless: `type name(type a,
                    # type b) { body }` — declared before statements
                    fm = _FUNC_HDR.match(chunk[chunk.rfind(";") + 1:])
                    if fm:
                        head = chunk[:chunk.rfind(";") + 1]
                        for s in _split_stmts(head):
                            lines.append(pad + _stmt_py(s))
                        params = ", ".join(
                            p.strip().split()[-1]
                            for p in fm.group("params").split(",")
                            if p.strip())
                        k = _close(src, j + 1, "{", "}")
                        lines.append(f"{pad}def {fm.group('name')}({params}):")
                        _sub_block(src[j + 1:k - 1], indent + 1, lines,
                                   counter)
                        i = k
                        continue
                    raise UnsupportedScriptError(
                        f"unexpected '{{' after: {chunk[-40:]!r}")
                head = chunk[:hm.start(1)]
                for s in _split_stmts(head):
                    lines.append(pad + _stmt_py(s))
                i = i + hm.start(1)
                continue
            for s in _split_stmts(chunk):
                lines.append(pad + _stmt_py(s))
            i = j
    if not lines:
        lines.append(f"{pad}pass")


def transpile(source: str) -> tuple[str, list[tuple[str, str]]]:
    """Painless statements -> (Python source, regex literals).  Literals
    are protected during the whole structural pass and restored at the
    end; ``=~``/``==~`` regex literals become ``== _rx[mf]<N>`` reflected
    comparisons (see _RxFind/_RxMatch); map/list literals become
    _jmap/_jlist-wrapped Python literals."""
    src, lits = _protect_literals(source)
    src, regexes = _protect_regexes(src)
    for rx, rep in _TOKEN_REWRITES:
        src = rx.sub(rep, src)
    src = _rewrite_method_refs(src)
    src = _rewrite_lambdas(src)
    src = _rewrite_casts(src)       # after lambdas: typed params are gone
    src = _rewrite_array_news(src)  # before collection literals: `[]` in
    #                                 `new T[]` must not read as a literal
    src = _rewrite_elvis(src)
    src = _rewrite_instanceof(src)
    src = _rewrite_collection_literals(src)
    lines: list[str] = []
    _transpile_block(src, 0, lines, [0])
    return _restore_literals("\n".join(lines), lits), regexes


# --------------------------------------------------------------- validate --

_OK_STMT = (ast.Module, ast.Assign, ast.AugAssign, ast.Expr, ast.If,
            ast.For, ast.While, ast.Break, ast.Continue, ast.Pass,
            ast.Raise, ast.Return, ast.FunctionDef,
            ast.Try, ast.ExceptHandler)
_OK_AUX = (ast.arguments, ast.arg)
_OK_EXPR = (ast.BoolOp, ast.BinOp, ast.UnaryOp, ast.IfExp, ast.Compare,
            ast.Call, ast.Attribute, ast.Subscript, ast.Name, ast.Constant,
            ast.Lambda,
            ast.List, ast.Dict, ast.Tuple, ast.Slice, ast.And, ast.Or,
            ast.Not, ast.USub, ast.UAdd, ast.Load, ast.Store,
            ast.expr_context, ast.operator, ast.cmpop, ast.unaryop,
            ast.boolop, ast.keyword, ast.Starred)


def validate(tree: ast.AST) -> None:
    for node in ast.walk(tree):
        if not isinstance(node, _OK_STMT + _OK_EXPR + _OK_AUX):
            raise UnsupportedScriptError(
                f"painless construct unsupported: {type(node).__name__}")
        if isinstance(node, ast.Attribute) and node.attr.startswith("_"):
            raise UnsupportedScriptError(f"attribute {node.attr!r} blocked")
        if isinstance(node, ast.Name) and node.id.startswith("__") \
                and not node.id.startswith(("__wcap", "__dwfirst")):
            raise UnsupportedScriptError(f"name {node.id!r} blocked")
        # the ?. lowering (_NullSafe, applied before validate) turns the
        # attribute name into a string Constant argument of _nsget/_nscall
        # — block dunders there too, or a script could reach
        # __class__/__mro__.  ``ctx?._tmp`` stays a map key for the Column
        # lowering; the interpreter, whose _nsget is getattr, blocks every
        # underscore name (nullsafe_underscore)
        if nullsafe_underscore(node, "__"):
            raise UnsupportedScriptError(
                f"attribute {node.args[1].value!r} blocked")


def nullsafe_underscore(node: ast.AST, prefix: str = "_") -> bool:
    """Is ``node`` an ``_nsget``/``_nscall`` of a name starting ``prefix``?"""
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id in ("_nsget", "_nscall")
            and len(node.args) > 1
            and isinstance(node.args[1], ast.Constant)
            and str(node.args[1].value).startswith(prefix))


class _NullSafe(ast.NodeTransformer):
    """Lower the `.NSAFE.` marker the `?.` token rewrite left behind:
    `a?.b` -> _nsget(a, 'b') (None receiver -> None), `a?.m(x)` ->
    _nscall(a, 'm', x) (None receiver -> None, like Java's null-safe
    dereference returning null without invoking)."""

    def visit_Call(self, node):    # noqa: N802
        f = node.func
        if (isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "NSAFE"):
            return ast.Call(
                func=ast.Name(id="_nscall", ctx=ast.Load()),
                args=[self.visit(f.value.value),
                      ast.Constant(value=f.attr),
                      *[self.visit(a) for a in node.args]],
                keywords=[])
        self.generic_visit(node)
        return node

    def visit_Attribute(self, node):  # noqa: N802
        if (isinstance(node.value, ast.Attribute)
                and node.value.attr == "NSAFE"):
            return ast.Call(
                func=ast.Name(id="_nsget", ctx=ast.Load()),
                args=[self.visit(node.value.value),
                      ast.Constant(value=node.attr)],
                keywords=[])
        self.generic_visit(node)
        return node


class _CtxMeta(ast.NodeTransformer):
    """``ctx._index`` -> ``ctx['_index']``: metadata fields are ctx map
    keys, read through the bracket form (validate blocks underscore
    attributes everywhere else)."""

    def visit_Attribute(self, node):  # noqa: N802
        self.generic_visit(node)
        root = node.value
        while isinstance(root, (ast.Attribute, ast.Subscript)):
            root = root.value
        if (node.attr.startswith("_") and not node.attr.startswith("__")
                and isinstance(root, ast.Name) and root.id == "ctx"):
            return ast.Subscript(value=node.value,
                                 slice=ast.Constant(value=node.attr),
                                 ctx=node.ctx)
        return node


def parse(source: str) -> tuple[ast.Module, list[tuple[str, str]]]:
    """Painless source -> (validated AST, regex literals).  Both back ends
    start here; the tree is fresh per call, so a back end may transform
    it in place."""
    py, regexes = transpile(source)
    try:
        tree = ast.parse(py, mode="exec")
    except SyntaxError as e:
        raise UnsupportedScriptError(
            f"cannot transpile painless: {e}: {py[:200]!r}") from e
    tree = _CtxMeta().visit(_NullSafe().visit(tree))
    validate(tree)
    return tree, regexes
