"""Painless per-row interpreter: the back end for every script the
Column lowering in :mod:`painless` rejects (loops, local variables,
compound updates, casts, expression statements — the reference runs
arbitrary Painless per event, docs/index.asciidoc:192).

Both back ends consume the same validated AST from
:func:`painless_parse.parse`.  Here it is rewritten for Java semantics
(String literals, ``/``/``%``, universal methods, functional-interface
lambdas), compiled, and EXECUTED per row inside an Arrow-batched pandas
UDF.  ``ctx`` bridges the flat dotted-column document model; string/list
values are wrapped so Painless method names (``substring``/``indexOf``/
``size``/...) work naturally.  A per-row exception fails that row (script
runtime error -> failure channel), not the batch.

Per-row Python is the documented exception for this operator: the
reference itself runs scripts one event at a time, and every other
processor stays vectorized.  Output TYPES are inferred by a compile-time
dry run on a synthetic row built from the input schema.
"""

from __future__ import annotations

import ast
import re

from .painless_parse import UnsupportedScriptError, nullsafe_underscore, parse

# Java Collection/Map methods that mutate the receiver IN PLACE.  A call
# like ctx.tags.add('x') is a WRITE of ctx.tags even though no '=' appears
# — the reference mutates the live ctx map, so these paths must be shipped
# back out of the UDF like any assignment.
_MUTATOR_METHODS = {"add", "addAll", "remove", "removeAll", "clear",
                    "put", "putAll", "sort", "removeIf", "replaceAll",
                    "putIfAbsent", "merge", "compute", "computeIfAbsent",
                    "computeIfPresent", "replace", "set", "retainAll"}


def collect_ctx_paths(tree: ast.AST):
    """-> (reads, writes): dotted ctx field paths referenced/assigned."""
    reads: set[str] = set()
    writes: set[str] = set()

    # an Attribute that is a Call's func is a METHOD name, not a field:
    # for ctx.msg.substring(...) the field read is ctx.msg
    method_attrs = {id(n.func) for n in ast.walk(tree)
                    if isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)}

    def path_of(node):
        parts = []
        while True:
            if isinstance(node, ast.Attribute):
                parts.append(node.attr)
                node = node.value
            elif (isinstance(node, ast.Subscript)
                    and isinstance(node.slice, ast.Constant)
                    and isinstance(node.slice.value, str)):
                # bracket form ctx['_index'] / ctx['a']['b']
                parts.append(node.slice.value)
                node = node.value
            else:
                break
        if isinstance(node, ast.Name) and node.id == "ctx":
            return ".".join(reversed(parts))
        return None

    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("keySet", "size", "isEmpty",
                                       "entrySet", "values")):
            base = path_of(node.func.value)
            if base == "":
                # whole-document views on ctx itself: every column must
                # ship into the UDF
                reads.add("__ALL__")
            elif base is not None:
                # r5 ADVICE: a NESTED receiver (ctx.some_obj.keySet())
                # previously recorded only a read of 'some_obj' — not a
                # flat column — so nothing shipped and the row NPE'd
                # instead of listing keys.  Record a prefix marker; the
                # consumer ships every column under 'some_obj.' when
                # 'some_obj' is not itself a flat column (a flat list
                # receiver, e.g. ctx.tags.size(), stays covered by the
                # ordinary method-receiver read below).
                reads.add(f"__PREFIX__:{base}")
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                and node.func.id in ("_nsget", "_nscall") and node.args:
            # lowered null-safe access `ctx.a?.b`: a READ of a.b
            base = path_of(node.args[0])
            if base is not None and len(node.args) > 1 \
                    and isinstance(node.args[1], ast.Constant):
                reads.add(f"{base}.{node.args[1].value}" if base
                          else str(node.args[1].value))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            recv = node.func.value
            base = path_of(recv)  # "" when the receiver is ctx itself
            if base is None:
                continue
            # ctx.containsKey('f') / ctx.a.containsKey('b'): the field is
            # named only by a string literal, never as an attribute path —
            # without this the column is not shipped into the UDF and the
            # guard always sees "missing".
            lit_arg = (node.args[0].value
                       if node.args and isinstance(node.args[0], ast.Constant)
                       and isinstance(node.args[0].value, str) else None)
            if node.func.attr == "containsKey" and lit_arg is not None:
                reads.add(f"{base}.{lit_arg}" if base else lit_arg)
            elif node.func.attr in ("put", "remove") and not base \
                    and lit_arg is not None:
                # ctx.put('f', v) / ctx.remove('f'): writes of field 'f'
                reads.add(lit_arg)
                writes.add(lit_arg)
            elif node.func.attr == "get" and not base and lit_arg is not None:
                reads.add(lit_arg)
            elif node.func.attr in _MUTATOR_METHODS and base:
                reads.add(base)
                writes.add(base)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            target = node.value if id(node) in method_attrs else node
            if not isinstance(target, ast.Attribute):
                continue
            p = path_of(target)
            if p:
                if isinstance(target.ctx, ast.Store):
                    writes.add(p)
                else:
                    reads.add(p)
        elif (isinstance(node, ast.Subscript)
                and isinstance(node.slice, ast.Constant)
                and isinstance(node.slice.value, str)):
            p = path_of(node)
            if p:
                if isinstance(node.ctx, ast.Store):
                    writes.add(p)
                else:
                    reads.add(p)
    return reads, writes


# ---------------------------------------------------------------- runtime --

def _jrender(v) -> str:
    """Java String-concat rendering of a non-string operand."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class JBytes(bytes):
    """Java byte[]: `.length` field, signed elements (-128..127)."""

    @property
    def length(self):
        return len(self)

    def __getitem__(self, i):
        v = bytes.__getitem__(self, i)
        if isinstance(v, bytes):       # slice
            return JBytes(v)
        return v - 256 if v > 127 else v


class JStr(str):
    """str with Painless/Java method names.  ``+`` follows Java string
    concatenation: any operand type coerces (s + 3 -> 's3', s + null ->
    'snull'), unlike Python's TypeError."""

    def getBytes(self, charset="UTF-8"):  # noqa: N802
        return JBytes(self.encode(str(charset).lower().replace("-", "_")
                                  .replace("utf_8", "utf-8")))

    def __add__(self, o):
        return JStr(str.__add__(self, o if isinstance(o, str)
                                else _jrender(o)))

    def __radd__(self, o):
        return JStr((o if isinstance(o, str) else _jrender(o))
                    + str(self))

    def substring(self, a, b=None):
        return JStr(self[a:] if b is None else self[a:b])

    def indexOf(self, s, frm=0):   # noqa: N802  (java name)
        return self.find(s, frm)

    def contains(self, s):
        return s in self

    def startsWith(self, s):       # noqa: N802
        return self.startswith(s)

    def endsWith(self, s):         # noqa: N802
        return self.endswith(s)

    def toLowerCase(self, locale=None):  # noqa: N802
        # Locale arg (Locale.ROOT/ENGLISH) accepted: Python's str.lower
        # is already locale-independent full-Unicode, i.e. ROOT behavior
        return JStr(self.lower())

    def toUpperCase(self, locale=None):  # noqa: N802
        return JStr(self.upper())

    def trim(self):
        return JStr(self.strip())

    def length(self):
        return len(self)

    def splitOnToken(self, s, limit=0):  # noqa: N802
        # ES StringFunctionUtils.splitOnToken: an empty or null token
        # gives [receiver]; limit > 0 caps the part count, the last part
        # keeping the rest
        if not s:
            return JList([self])
        if limit and limit > 0:
            return JList(JStr(x) for x in self.split(s, limit - 1))
        return JList(JStr(x) for x in self.split(s))

    def replace(self, a, b):
        return JStr(str.replace(self, a, b))

    def charAt(self, i):           # noqa: N802
        return JStr(self[i])

    def isEmpty(self):             # noqa: N802
        return len(self) == 0

    def equalsIgnoreCase(self, o): # noqa: N802
        return o is not None and self.lower() == str(o).lower()

    def matches(self, p):
        return re.fullmatch(p, self) is not None

    def replaceAll(self, p, r):    # noqa: N802
        # Java replacement syntax: $N group refs, \$ literal dollar
        return JStr(_java_rx_compile(p).sub(_java_repl(r), self))

    def replaceFirst(self, p, r):  # noqa: N802
        return JStr(_java_rx_compile(p).sub(_java_repl(r), self, count=1))

    def lastIndexOf(self, sub):    # noqa: N802
        return self.rfind(sub)

    def concat(self, o):
        return JStr(self + str(o))

    def compareTo(self, o):        # noqa: N802
        return (self > o) - (self < o)

    def compareToIgnoreCase(self, o):  # noqa: N802
        a, b = self.lower(), str(o).lower()
        return (a > b) - (a < b)

    def equals(self, o):
        return isinstance(o, str) and str(self) == str(o)

    def contentEquals(self, o):    # noqa: N802
        return str(self) == str(o)

    def codePointAt(self, i):      # noqa: N802
        return ord(self[i])

    def toCharArray(self):         # noqa: N802
        return JList(JStr(c) for c in self)

    def repeat(self, n):
        return JStr(str(self) * int(n))

    def isBlank(self):             # noqa: N802
        return not self.strip()

    def chars(self):
        return _JStream([ord(c) for c in self])


class JList(list):
    """list with Painless/Java method names."""

    def size(self):
        return len(self)

    def add(self, x):
        self.append(x)

    def addAll(self, xs):          # noqa: N802
        self.extend(xs)
        return True

    def get(self, i):
        return self[i]

    def contains(self, x):
        return x in self

    def indexOf(self, x):          # noqa: N802
        try:
            return self.index(x)
        except ValueError:
            return -1

    def remove(self, x):
        # Java List.remove is overloaded: remove(int) is BY INDEX,
        # remove(Object) by value.  Python's list.remove is by value only.
        if isinstance(x, int) and not isinstance(x, bool):
            v = self[x]
            del self[x]
            return v
        try:
            list.remove(self, x)
            return True
        except ValueError:
            return False

    def isEmpty(self):             # noqa: N802
        return not self

    def sort(self, cmp=None):
        # Java List.sort takes a COMPARATOR (lambda returning -/0/+)
        if cmp is None:
            list.sort(self)
        else:
            import functools
            list.sort(self, key=functools.cmp_to_key(cmp))

    def stream(self):
        return _JStream(self)

    def removeIf(self, pred):      # noqa: N802
        kept = [x for x in self if not pred(x)]
        changed = len(kept) != len(self)
        self[:] = kept
        return changed

    def replaceAll(self, fn):      # noqa: N802
        self[:] = [fn(x) for x in self]

    def forEach(self, fn):         # noqa: N802
        for x in self:
            fn(x)

    def subList(self, a, b):       # noqa: N802
        # Java returns a VIEW; scripts read it or copy it — a copy covers
        # the read patterns (writes through the view are not supported)
        return JList(self[int(a):int(b)])

    def set(self, i, v):
        prev = self[int(i)]
        self[int(i)] = v
        return prev

    def lastIndexOf(self, x):      # noqa: N802
        for i in range(len(self) - 1, -1, -1):
            if self[i] == x:
                return i
        return -1

    def toArray(self):             # noqa: N802
        return JList(self)

    def retainAll(self, xs):       # noqa: N802
        keep = set(map(_hkey, xs))
        kept = [x for x in self if _hkey(x) in keep]
        changed = len(kept) != len(self)
        self[:] = kept
        return changed

    def removeAll(self, xs):       # noqa: N802
        drop = set(map(_hkey, xs))
        kept = [x for x in self if _hkey(x) not in drop]
        changed = len(kept) != len(self)
        self[:] = kept
        return changed

    def containsAll(self, xs):     # noqa: N802
        return all(x in self for x in xs)

    def iterator(self):
        return JIterator(self)

    # Deque/Queue/Stack views (`new ArrayDeque()`/`new Stack()` lower to
    # JList): ArrayDeque semantics — push/pop/peek/poll work the HEAD,
    # offer/addLast the tail (LIFO via push/pop matches java.util.Stack
    # behavior too, which painless scripts use interchangeably)
    def push(self, x):
        self.insert(0, x)

    def pop(self, *a):
        # no-arg = Java Deque.pop (remove head); with an index it is the
        # transpiler-internal Python list.pop
        if a:
            return list.pop(self, *a)
        if not self:
            raise _jexc_new("NoSuchElementException")
        return list.pop(self, 0)

    def peek(self):
        return self[0] if self else None
    peekFirst = peek               # noqa: N815

    def peekLast(self):            # noqa: N802
        return self[-1] if self else None

    def poll(self):
        return list.pop(self, 0) if self else None
    pollFirst = poll               # noqa: N815

    def pollLast(self):            # noqa: N802
        return list.pop(self) if self else None

    def offer(self, x):
        self.append(x)
        return True
    offerLast = offer              # noqa: N815

    def offerFirst(self, x):       # noqa: N802
        self.insert(0, x)
        return True

    def addFirst(self, x):         # noqa: N802
        self.insert(0, x)

    def addLast(self, x):          # noqa: N802
        self.append(x)

    def removeFirst(self):         # noqa: N802
        if not self:
            raise _jexc_new("NoSuchElementException")
        return list.pop(self, 0)

    def removeLast(self):          # noqa: N802
        if not self:
            raise _jexc_new("NoSuchElementException")
        return list.pop(self)

    def getFirst(self):            # noqa: N802
        if not self:
            raise _jexc_new("NoSuchElementException")
        return self[0]

    def getLast(self):             # noqa: N802
        if not self:
            raise _jexc_new("NoSuchElementException")
        return self[-1]

    def toString(self):            # noqa: N802
        # AbstractCollection.toString rendering: [a, b, null]
        return JStr("[" + ", ".join(
            "null" if x is None else
            (str(x) if isinstance(x, str) else _jrender(x))
            for x in self) + "]")

    @property
    def length(self):
        # Java ARRAYS expose `.length` as a field; painless arrays land
        # here as JList (`new String[] {..}.length`)
        return len(self)


def _hkey(v):
    """Hashable identity for retainAll/removeAll set membership (lists and
    maps hash by value snapshot)."""
    if isinstance(v, (list, tuple)):
        return ("__l", tuple(_hkey(x) for x in v))
    if isinstance(v, dict):
        return ("__m", tuple(sorted((k, _hkey(x)) for k, x in v.items())))
    return v


class JSet:
    """java.util.Set stand-in: insertion-ordered (HashSet iteration order
    is unspecified in Java, so a deterministic order is legal AND keeps
    Spark-side results reproducible); TreeSet variant iterates sorted."""

    def __init__(self, items=(), sorted_=False):
        self._d = dict.fromkeys(items)
        self._sorted = sorted_

    def _iterkeys(self):
        return sorted(self._d) if self._sorted else list(self._d)

    def add(self, x):
        if x in self._d:
            return False
        self._d[x] = None
        return True

    def addAll(self, xs):          # noqa: N802
        changed = False
        for x in xs:
            changed = self.add(x) or changed
        return changed

    def remove(self, x):
        if x in self._d:
            del self._d[x]
            return True
        return False

    def contains(self, x):
        return x in self._d

    def containsAll(self, xs):     # noqa: N802
        return all(x in self._d for x in xs)

    def size(self):
        return len(self._d)

    def isEmpty(self):             # noqa: N802
        return not self._d

    def clear(self):
        self._d.clear()

    def stream(self):
        return _JStream(self._iterkeys())

    def forEach(self, fn):         # noqa: N802
        for x in self._iterkeys():
            fn(x)

    def removeIf(self, pred):      # noqa: N802
        drop = [x for x in self._d if pred(x)]
        for x in drop:
            del self._d[x]
        return bool(drop)

    def retainAll(self, xs):       # noqa: N802
        keep = set(xs)
        drop = [x for x in self._d if x not in keep]
        for x in drop:
            del self._d[x]
        return bool(drop)

    def toArray(self):             # noqa: N802
        return JList(self._iterkeys())

    def iterator(self):
        return JIterator(self._iterkeys())

    def __iter__(self):
        return iter(self._iterkeys())

    def __len__(self):
        return len(self._d)

    def __contains__(self, x):
        return x in self._d

    def __eq__(self, o):
        if isinstance(o, JSet):
            return set(self._d) == set(o._d)
        if isinstance(o, (set, frozenset)):
            return set(self._d) == o
        return NotImplemented

    def __hash__(self):
        return hash(frozenset(self._d))

    def __repr__(self):
        return f"JSet({self._iterkeys()!r})"


class _JEntry:
    """Live Map.Entry over a backing JMap (setValue writes through)."""

    __slots__ = ("_m", "_k")

    def __init__(self, m, k):
        self._m, self._k = m, k

    def getKey(self):              # noqa: N802
        return self._k

    def getValue(self):            # noqa: N802
        return dict.get(self._m, self._k)

    def setValue(self, v):         # noqa: N802
        prev = dict.get(self._m, self._k)
        self._m[self._k] = v
        return prev


class _JStream:
    """Streams-lite: the eager subset of java.util.stream painless
    scripts actually use (reference executes arbitrary Painless,
    docs/index.asciidoc:192).  Terminal ops return plain values; chained
    ops return a new stream (source list never mutated)."""

    def __init__(self, items):
        self._items = list(items)

    def filter(self, p):
        return _JStream([x for x in self._items if p(x)])

    def map(self, f):
        return _JStream([f(x) for x in self._items])

    def sorted(self, cmp=None):
        if cmp is None:
            return _JStream(sorted(self._items))
        import functools
        return _JStream(sorted(self._items, key=functools.cmp_to_key(cmp)))

    def distinct(self):
        seen, out = set(), []
        for x in self._items:
            if x not in seen:
                seen.add(x)
                out.append(x)
        return _JStream(out)

    def limit(self, n):
        return _JStream(self._items[:n])

    def skip(self, n):
        return _JStream(self._items[n:])

    def takeWhile(self, pred):     # noqa: N802
        out = []
        for x in self._items:
            if not pred(x):
                break
            out.append(x)
        return _JStream(out)

    def dropWhile(self, pred):     # noqa: N802
        i = 0
        for x in self._items:
            if not pred(x):
                break
            i += 1
        return _JStream(self._items[i:])

    def count(self):
        return len(self._items)

    def sum(self):
        return sum(self._items)

    def anyMatch(self, p):         # noqa: N802
        return any(p(x) for x in self._items)

    def allMatch(self, p):         # noqa: N802
        return all(p(x) for x in self._items)

    def noneMatch(self, p):        # noqa: N802
        return not any(p(x) for x in self._items)

    def findFirst(self):           # noqa: N802
        return _JOptional(self._items[0] if self._items else None)

    def findAny(self):             # noqa: N802
        return self.findFirst()

    def max(self, cmp=None):
        if not self._items:
            return _JOptional(None)
        if cmp is None:
            return _JOptional(max(self._items))
        import functools
        return _JOptional(max(self._items, key=functools.cmp_to_key(cmp)))

    def min(self, cmp=None):
        if not self._items:
            return _JOptional(None)
        if cmp is None:
            return _JOptional(min(self._items))
        import functools
        return _JOptional(min(self._items, key=functools.cmp_to_key(cmp)))

    def average(self):
        if not self._items:
            return _JOptional(None)
        return _JOptional(sum(self._items) / len(self._items))

    def toList(self):              # noqa: N802
        return JList(self._items)

    def collect(self, collector):
        return collector(self._items)

    def mapToInt(self, f):         # noqa: N802
        return _JStream([int(f(x)) for x in self._items])

    def mapToLong(self, f):        # noqa: N802
        return self.mapToInt(f)

    def mapToDouble(self, f):      # noqa: N802
        return _JStream([float(f(x)) for x in self._items])

    def mapToObj(self, f):         # noqa: N802
        return self.map(f)

    def boxed(self):
        return self

    def flatMap(self, f):          # noqa: N802
        out = []
        for x in self._items:
            r = f(x)
            out.extend(r._items if isinstance(r, _JStream) else r)
        return _JStream(out)

    def peek(self, f):
        for x in self._items:
            f(x)
        return _JStream(self._items)

    def forEach(self, f):          # noqa: N802
        for x in self._items:
            f(x)

    def toArray(self):             # noqa: N802
        return JList(self._items)

    def reduce(self, identity, op=None):
        # one-arg form returns Optional (java.util.stream.Stream#reduce)
        if op is None:
            op = identity
            if not self._items:
                return _JOptional(None)
            acc = self._items[0]
            for x in self._items[1:]:
                acc = op(acc, x)
            return _JOptional(acc)
        acc = identity
        for x in self._items:
            acc = op(acc, x)
        return acc


class _JOptional:
    """java.util.Optional / OptionalInt / OptionalDouble (empty == the
    wrapped value is None, which painless can't distinguish from
    Optional.of(null) — Java forbids the latter anyway)."""

    __slots__ = ("_v",)

    def __init__(self, v):
        self._v = v

    @staticmethod
    def of(v):
        if v is None:
            raise ValueError("NullPointerException: Optional.of(null)")
        return _JOptional(v)

    @staticmethod
    def ofNullable(v):             # noqa: N802
        return _JOptional(v)

    @staticmethod
    def empty():
        return _JOptional(None)

    def isPresent(self):           # noqa: N802
        return self._v is not None

    def isEmpty(self):             # noqa: N802
        return self._v is None

    def get(self):
        if self._v is None:
            raise ValueError("NoSuchElementException: No value present")
        return self._v

    getAsInt = get                 # OptionalInt surface
    getAsLong = get
    getAsDouble = get

    def orElse(self, d):           # noqa: N802
        return self._v if self._v is not None else d

    def orElseGet(self, fn):       # noqa: N802
        return self._v if self._v is not None else fn()

    def ifPresent(self, fn):       # noqa: N802
        if self._v is not None:
            fn(self._v)

    def map(self, fn):
        return _JOptional(None if self._v is None else fn(self._v))

    def filter(self, pred):
        return self if (self._v is not None and pred(self._v)) \
            else _JOptional(None)


class _Collectors:
    @staticmethod
    def toList():                  # noqa: N802
        return lambda items: JList(items)

    @staticmethod
    def toSet():                   # noqa: N802
        # painless Set surface via JList of uniques (insertion order)
        def c(items):
            seen, out = set(), []
            for x in items:
                if x not in seen:
                    seen.add(x)
                    out.append(x)
            return JList(out)
        return c

    @staticmethod
    def joining(sep="", prefix="", suffix=""):
        return lambda items: JStr(
            prefix + str(sep).join(_jrender(x) if not isinstance(x, str)
                                   else str(x) for x in items) + suffix)

    @staticmethod
    def counting():
        return len

    @staticmethod
    def groupingBy(classifier, downstream=None):  # noqa: N802
        def c(items):
            groups = JMap()
            for x in items:
                k = classifier(x)
                groups.setdefault(k, []).append(x)
            if downstream is None:
                return JMap({k: JList(v) for k, v in groups.items()})
            return JMap({k: downstream(v) for k, v in groups.items()})
        return c

    @staticmethod
    def partitioningBy(pred, downstream=None):  # noqa: N802
        def c(items):
            t = [x for x in items if pred(x)]
            f = [x for x in items if not pred(x)]
            fin = (lambda v: JList(v)) if downstream is None else downstream
            return JMap({False: fin(f), True: fin(t)})
        return c

    @staticmethod
    def toMap(kf, vf):             # noqa: N802
        def c(items):
            out = JMap()
            for x in items:
                k = kf(x)
                if k in out:
                    raise ValueError(
                        f"IllegalStateException: duplicate key {k!r}")
                out[k] = vf(x)
            return out
        return c

    @staticmethod
    def summingInt(f):             # noqa: N802
        return lambda items: sum(int(f(x)) for x in items)

    summingLong = summingInt

    @staticmethod
    def summingDouble(f):          # noqa: N802
        return lambda items: float(sum(float(f(x)) for x in items))

    @staticmethod
    def averagingInt(f):           # noqa: N802
        return lambda items: (sum(float(f(x)) for x in items) / len(items)
                              if items else 0.0)

    averagingLong = averagingInt
    averagingDouble = averagingInt

    @staticmethod
    def mapping(f, downstream):
        return lambda items: downstream([f(x) for x in items])


class JMap(dict):
    """dict with Painless/Java Map method names."""

    def __getattr__(self, name):
        # Painless map-access shorthand: `map.key` == `map.get('key')`
        # (real methods resolve through normal attribute lookup first).
        # Absent keys yield null, matching Map.get — null-guard scripts
        # like `if (m.k == null)` must take the null branch, not fail.
        # Dunder names still raise so copy/pickle protocols stay sane.
        if name.startswith("__") and name.endswith("__"):
            raise AttributeError(name)
        v = self.get(name)
        w = _wrap(v)
        if w is not v and isinstance(w, (JList, JMap)):
            # keep identity so in-place mutation through the dot path
            # (`m.inner.add(x)`) hits the live nested object
            self[name] = w
        return w

    def __setattr__(self, name, value):
        # dot-WRITE parity with the dot-read shorthand above: painless
        # `m.key = v` (and `ctx.event.duration = x` through a nested
        # map) is Map.put — without this the value landed as a Python
        # instance attribute and the write was silently lost
        if name.startswith("_"):
            object.__setattr__(self, name, value)
        else:
            self[name] = value

    def put(self, k, v):
        prev = dict.get(self, k)
        self[k] = v
        return prev

    def putAll(self, other):       # noqa: N802
        self.update(other)

    def containsKey(self, k):      # noqa: N802
        return k in self

    def containsValue(self, v):    # noqa: N802
        return v in self.values()

    def remove(self, k):
        return self.pop(k, None)

    def size(self):
        return len(self)

    def isEmpty(self):             # noqa: N802
        return not self

    def getOrDefault(self, k, d):  # noqa: N802
        return dict.get(self, k, d)

    def keySet(self):              # noqa: N802
        return JList(self.keys())

    def values(self):
        return JList(dict.values(self))

    def entrySet(self):            # noqa: N802
        return JList(_JEntry(self, k) for k in list(self.keys()))

    def forEach(self, fn):         # noqa: N802
        for k in list(self.keys()):
            fn(k, dict.get(self, k))

    def putIfAbsent(self, k, v):   # noqa: N802
        cur = dict.get(self, k)
        if cur is None:
            self[k] = v
        return cur

    def replace(self, k, v):
        if k in self:
            prev = dict.get(self, k)
            self[k] = v
            return prev
        return None

    def replaceAll(self, fn):      # noqa: N802
        for k in list(self.keys()):
            self[k] = fn(k, dict.get(self, k))

    def compute(self, k, fn):
        v = fn(k, dict.get(self, k))
        if v is None:
            self.pop(k, None)
        else:
            self[k] = v
        return v

    def computeIfAbsent(self, k, fn):  # noqa: N802
        cur = dict.get(self, k)
        if cur is not None:
            return cur
        v = fn(k)
        if v is not None:
            self[k] = v
        return v

    def computeIfPresent(self, k, fn):  # noqa: N802
        cur = dict.get(self, k)
        if cur is None:
            return None
        v = fn(k, cur)
        if v is None:
            self.pop(k, None)
        else:
            self[k] = v
        return v

    def merge(self, k, v, fn):
        cur = dict.get(self, k)
        new = v if cur is None else fn(cur, v)
        if new is None:
            self.pop(k, None)
        else:
            self[k] = new
        return new

    def toString(self):            # noqa: N802
        # AbstractMap.toString rendering: {k=v, k2=v2}
        def r(x):
            if x is None:
                return "null"
            return str(x) if isinstance(x, str) else _jrender(x)
        return JStr("{" + ", ".join(
            f"{r(k)}={r(dict.get(self, k))}" for k in self.keys()) + "}")


class JTreeMap(JMap):
    """TreeMap: iteration in key order (painless scripts relying on
    sorted traversal)."""

    def keys(self):
        return sorted(dict.keys(self))

    def items(self):
        return [(k, dict.get(self, k)) for k in self.keys()]

    def __iter__(self):
        return iter(self.keys())

    def keySet(self):              # noqa: N802
        return JList(self.keys())

    def values(self):
        return JList(dict.get(self, k) for k in self.keys())

    def entrySet(self):            # noqa: N802
        return JList(_JEntry(self, k) for k in self.keys())

    def firstKey(self):            # noqa: N802
        ks = self.keys()
        if not ks:
            raise _jexc_new("NoSuchElementException")
        return ks[0]

    def lastKey(self):             # noqa: N802
        ks = self.keys()
        if not ks:
            raise _jexc_new("NoSuchElementException")
        return ks[-1]


class _JavaException(Exception):
    """Caught-exception bridge: painless `e.getMessage()` works on the
    Python exception bound by a transpiled catch block.  Subclasses
    Exception so a rethrow (`throw e`) transpiles to a working raise."""

    def __init__(self, e):
        if type(e).__name__ == "_JThrown":
            # script-thrown: getMessage() is the constructor argument,
            # exactly as Java reports it
            self.message = e.msg if e.msg is not None else e.jtype
        elif isinstance(e, _JavaException):
            self.message = e.message
        else:
            self.message = f"{type(e).__name__}: {e}"
        super().__init__(self.message)

    def getMessage(self):          # noqa: N802
        return JStr(self.message)

    def toString(self):            # noqa: N802
        return JStr(self.message)


class _JType:
    """Reflected-eq type-check object for `x instanceof T` (transpiled
    to `x == _jtT`): null is never an instance; bool is excluded from the
    numeric types (Java booleans are not Numbers)."""

    def __init__(self, *types, excl=()):
        self._types, self._excl = types, excl

    def __eq__(self, other):
        if other is None or (self._excl and isinstance(other, self._excl)):
            return False
        return isinstance(other, self._types)

    __hash__ = None


class _ElvisSentinel:
    """`a ?: b` transpiles to `a |_EV| b`: the left operand's __or__
    returns NotImplemented for this type, so __ror__ captures it; the
    partial then resolves against the right operand with NULL-coalesce
    (not Python truthiness — 0/''/[] are kept)."""

    def __ror__(self, left):
        return _ElvisPartial(left)


class _ElvisPartial:
    __slots__ = ("left",)

    def __init__(self, left):
        self.left = left

    def __or__(self, right):
        return self.left if self.left is not None else right


_JAVA_NAMED_GROUP_RX = re.compile(r"\(\?<([A-Za-z][A-Za-z0-9]*)>")


def _java_rx_compile(pat: str):
    """Java regex -> Python re: named groups are `(?<name>...)` in Java,
    `(?P<name>...)` in Python (the lookbehind forms `(?<=`/`(?<!` are
    excluded by the leading-letter requirement)."""
    return re.compile(_JAVA_NAMED_GROUP_RX.sub(r"(?P<\1>", pat))


class _RxFind:
    """Reflected-== stand-in for `expr =~ /pat/` (Matcher.find): the left
    operand's __eq__ returns NotImplemented for this type, so Python
    dispatches to our __eq__ with the left value as `other`."""

    def __init__(self, pat: str):
        self._rx = _java_rx_compile(pat)

    def __eq__(self, other):
        return other is not None and bool(self._rx.search(str(other)))

    __hash__ = None


class _RxMatch(_RxFind):
    """`expr ==~ /pat/` — entire string must match."""

    def __eq__(self, other):
        return other is not None and bool(self._rx.fullmatch(str(other)))


def _java_repl(rep: str) -> str:
    """Java Matcher replacement -> python re: `$N`/`${name}` group refs
    become `\\g<...>`; `\\$` is a literal dollar; `\\x` escapes x
    literally (Java Matcher.quoteReplacement semantics)."""
    rep = str(rep)
    out = []
    i = 0
    while i < len(rep):
        c = rep[i]
        if c == "\\" and i + 1 < len(rep):
            # backslash escapes the next char LITERALLY (Java
            # Matcher.quoteReplacement semantics) — only a literal
            # backslash itself needs python-side re-escaping
            nxt = rep[i + 1]
            out.append("\\\\" if nxt == "\\" else nxt)
            i += 2
        elif c == "$" and i + 1 < len(rep) and rep[i + 1] == "{":
            k = rep.index("}", i + 1)
            out.append(f"\\g<{rep[i + 2:k]}>")
            i = k + 1
        elif c == "$" and i + 1 < len(rep) and rep[i + 1].isdigit():
            j = i + 1
            while j < len(rep) and rep[j].isdigit():
                j += 1
            out.append(f"\\g<{rep[i + 1:j]}>")
            i = j
        elif c == "\\":
            out.append("\\\\")
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


class _JMatcher:
    """java.util.regex.Matcher stand-in for `/pat/.matcher(s)` scripts."""

    def __init__(self, rx, s):
        self._rx = rx
        self._s = "" if s is None else str(s)
        self._m = None
        self._pos = 0

    def find(self):
        self._m = self._rx.search(self._s, self._pos)
        if self._m is not None:
            self._pos = max(self._m.end(), self._m.start() + 1)
        return self._m is not None

    def matches(self):
        self._m = self._rx.fullmatch(self._s)
        return self._m is not None

    def group(self, i=0):
        if self._m is None:
            raise ValueError("No match available")
        # Java overloads group(int) and group(String name)
        g = self._m.group(i if isinstance(i, str) else int(i))
        return None if g is None else JStr(g)

    def groupCount(self):          # noqa: N802
        return self._rx.groups

    def start(self):
        return -1 if self._m is None else self._m.start()

    def end(self):
        return -1 if self._m is None else self._m.end()

    def replaceAll(self, rep):     # noqa: N802
        return JStr(self._rx.sub(_java_repl(rep), self._s))

    def replaceFirst(self, rep):   # noqa: N802
        return JStr(self._rx.sub(_java_repl(rep), self._s, count=1))


class _JPattern:
    """Compiled Pattern for a standalone regex literal (`_rxp<N>`)."""

    def __init__(self, pat: str):
        self._rx = _java_rx_compile(pat)

    def matcher(self, s):
        return _JMatcher(self._rx, s)

    def split(self, s):
        return _wrap([p for p in self._rx.split("" if s is None else str(s))])


# tombstone distinguishing ctx.remove('f') (key gone -> containsKey false)
# from ctx.f = null (key present-null -> containsKey true), like the
# reference's mutable document map (IngestDuplexMarshaller.java:144-152)
_REMOVED = object()


def _wrap(v):
    if isinstance(v, str):
        return JStr(v)
    if isinstance(v, (list, tuple)):
        return JList(_wrap(x) for x in v)
    if isinstance(v, dict):
        return JMap(v)
    return v


class _CtxNode:
    """Attribute bridge for dotted flat fields: ctx.a.b <-> row['a.b'].

    Mutable values (lists) are wrapped ONCE and the same object is handed
    back on every access — so in-place idioms like ``ctx.tags.add('x')``
    mutate a live object, exactly like the reference's ctx map.  run_row
    folds mutated cache entries into the writes dict afterwards."""

    def __init__(self, row, writes, cache, prefix=""):
        object.__setattr__(self, "_row", row)
        object.__setattr__(self, "_writes", writes)
        object.__setattr__(self, "_cache", cache)
        object.__setattr__(self, "_prefix", prefix)

    def _key(self, name):
        return f"{self._prefix}.{name}" if self._prefix else name

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        return self._lookup(self._key(name))

    def __getitem__(self, name):
        # painless `ctx['_index']` / `ctx['@timestamp']` bracket form
        # (the reference's own spec scripts use it,
        # elastic_integration_spec.rb:761) — any string key including
        # metadata underscore-names; dunders stay blocked
        if not isinstance(name, str) or name.startswith("__"):
            raise KeyError(name)
        return self._lookup(self._key(name))

    def __setitem__(self, name, value):
        if not isinstance(name, str) or name.startswith("__"):
            raise KeyError(name)
        self._writes[self._key(name)] = value

    def _lookup(self, k):
        if k in self._writes:
            v = self._writes[k]
            if v is _REMOVED:
                return None
            if isinstance(v, (JList, JMap)):
                return v
            w = _wrap(v)
            if isinstance(w, (JList, JMap)):  # keep identity for mutation
                self._writes[k] = w
            return w
        if k in self._cache:
            return self._cache[k]
        if k in self._row:
            v = self._row[k]
            # per-row append parity: an array-promoted column whose row is
            # registered in __scalarset is semantically still the scalar
            if (isinstance(v, (list, tuple))
                    and k in (self._row.get("__scalarset") or ())):
                return _wrap(v[0]) if v else None
            w = _wrap(v)
            if isinstance(w, (JList, JMap)):
                self._cache[k] = w
            return w
        pref = k + "."
        if any(x.startswith(pref) for x in self._row):
            return _CtxNode(self._row, self._writes, self._cache, k)
        return None

    def __setattr__(self, name, value):
        self._writes[self._key(name)] = value

    def keySet(self):              # noqa: N802
        """Top-level key view, ES-nested-map-faithful for the flat
        model: dotted columns contribute their FIRST segment under this
        node's prefix (ctx.keySet() on {a.b, a.c, d} -> [a, d]); dynamic
        _extras keys appear by name; internal __ fields are hidden.
        Requires the whole row (the UDF ships all columns when a script
        calls keySet/size/isEmpty on ctx — collect_ctx_paths marker)."""
        pref = self._prefix + "." if self._prefix else ""
        out: list[str] = []
        seen: set[str] = set()

        def add(full):
            if pref and not full.startswith(pref):
                return
            seg = str(full)[len(pref):].split(".")[0]
            if not seg or seg.startswith("__"):
                return
            if seg not in seen:
                seen.add(seg)
                out.append(seg)

        for k in self._row:
            if k == "_extras":
                ex = self._row[k]
                if isinstance(ex, dict):
                    for ek in ex:
                        add(ek)
                continue
            add(k)
        removed_tops = set()
        for k, v in self._writes.items():
            if v is _REMOVED:
                if k.startswith(pref) and "." not in k[len(pref):]:
                    removed_tops.add(k[len(pref):])
                continue
            add(k)
        return JList(JStr(k) for k in out if k not in removed_tops)

    def size(self):
        return len(self.keySet())

    def isEmpty(self):             # noqa: N802
        return not self.keySet()

    def values(self):
        return JList(self._lookup(self._key(k)) for k in self.keySet())

    def entrySet(self):            # noqa: N802
        return JList(_CtxEntry(self, k) for k in self.keySet())

    def containsKey(self, name):   # noqa: N802
        # ES map parity: a key written null is PRESENT; a removed key is
        # not.  Source rows consult the __nullset explicit-null registry.
        k = self._key(name)
        if k in self._writes:
            return self._writes[k] is not _REMOVED
        if self._cache.get(k) is not None:
            return True
        if self._row.get(k) is not None:
            return True
        return k in (self._row.get("__nullset") or ())

    def get(self, name):
        return getattr(self, name) if not name.startswith("_") else None

    def put(self, name, value):
        prev = self.get(name)
        self._writes[self._key(name)] = value
        return prev

    def remove(self, name):
        prev = self.get(name)
        self._writes[self._key(name)] = _REMOVED
        return prev


class _CtxEntry:
    """Live Map.Entry over the document node (entrySet element)."""

    __slots__ = ("_n", "_k")

    def __init__(self, node, k):
        self._n, self._k = node, k

    def getKey(self):              # noqa: N802
        return JStr(self._k)

    def getValue(self):            # noqa: N802
        return self._n[self._k]

    def setValue(self, v):         # noqa: N802
        prev = self._n[self._k]
        self._n[self._k] = v
        return prev


class _JavaMath:
    import math as _m
    PI, E = _m.pi, _m.e

    @staticmethod
    def abs(x):
        return abs(x)

    @staticmethod
    def floorMod(a, b):            # noqa: N802
        return a % b               # python % IS Java floorMod for ints

    @staticmethod
    def floorDiv(a, b):            # noqa: N802
        return a // b

    @staticmethod
    def max(a, b):
        return max(a, b)

    @staticmethod
    def min(a, b):
        return min(a, b)

    @staticmethod
    def floor(x):
        import math
        return float(math.floor(x))

    @staticmethod
    def ceil(x):
        import math
        return float(math.ceil(x))

    @staticmethod
    def round(x):
        import math
        return math.floor(x + 0.5)

    @staticmethod
    def sqrt(x):
        import math
        return math.sqrt(x)

    @staticmethod
    def pow(a, b):
        return float(a) ** b

    @staticmethod
    def log(x):
        import math
        return math.log(x)

    @staticmethod
    def log10(x):
        import math
        return math.log10(x)

    @staticmethod
    def exp(x):
        import math
        return math.exp(x)

    @staticmethod
    def cbrt(x):
        return -((-x) ** (1.0 / 3)) if x < 0 else x ** (1.0 / 3)

    @staticmethod
    def hypot(a, b):
        import math
        return math.hypot(a, b)

    @staticmethod
    def atan2(y, x):
        import math
        return math.atan2(y, x)

    @staticmethod
    def sin(x):
        import math
        return math.sin(x)

    @staticmethod
    def cos(x):
        import math
        return math.cos(x)

    @staticmethod
    def tan(x):
        import math
        return math.tan(x)

    @staticmethod
    def asin(x):
        import math
        return math.asin(x)

    @staticmethod
    def acos(x):
        import math
        return math.acos(x)

    @staticmethod
    def atan(x):
        import math
        return math.atan(x)

    @staticmethod
    def signum(x):
        return float((x > 0) - (x < 0))

    @staticmethod
    def toRadians(x):              # noqa: N802
        import math
        return math.radians(x)

    @staticmethod
    def toDegrees(x):              # noqa: N802
        import math
        return math.degrees(x)

    @staticmethod
    def toIntExact(x):             # noqa: N802
        v = int(x)
        if not (-2 ** 31 <= v <= 2 ** 31 - 1):
            raise ArithmeticError("integer overflow")
        return v

    @staticmethod
    def addExact(a, b):            # noqa: N802
        return a + b

    @staticmethod
    def subtractExact(a, b):       # noqa: N802
        return a - b

    @staticmethod
    def multiplyExact(a, b):       # noqa: N802
        return a * b

    @staticmethod
    def random():
        # deliberately unsupported: a nondeterministic per-row value breaks
        # Spark task-retry reproducibility; reference scripts needing
        # entropy should key off document fields instead
        raise RuntimeError(
            "Math.random() is unsupported (nondeterministic per-row "
            "values break task-retry reproducibility)")


def _parse_int_radix(s, radix=10):
    s = str(s).strip()
    if radix == 10:
        return int(s)
    return int(s, int(radix))


class _JavaInteger:
    @staticmethod
    def parseInt(s, radix=10):     # noqa: N802
        return _parse_int_radix(s, radix)

    @staticmethod
    def parseLong(s, radix=10):    # noqa: N802
        return _parse_int_radix(s, radix)

    @staticmethod
    def valueOf(v):                # noqa: N802
        return int(str(v).strip()) if isinstance(v, str) else int(v)

    @staticmethod
    def toString(v, radix=10):     # noqa: N802
        v, radix = int(v), int(radix)
        if radix == 10:
            return JStr(str(v))
        digits = "0123456789abcdefghijklmnopqrstuvwxyz"
        neg, v = v < 0, abs(v)
        out = ""
        while True:
            out = digits[v % radix] + out
            v //= radix
            if not v:
                break
        return JStr(("-" if neg else "") + out)

    @staticmethod
    def toHexString(v):            # noqa: N802
        return JStr(format(int(v) & 0xFFFFFFFF, "x"))

    @staticmethod
    def toBinaryString(v):         # noqa: N802
        return JStr(format(int(v) & 0xFFFFFFFF, "b"))

    @staticmethod
    def toOctalString(v):          # noqa: N802
        return JStr(format(int(v) & 0xFFFFFFFF, "o"))

    @staticmethod
    def compare(a, b):
        return (a > b) - (a < b)

    @staticmethod
    def signum(v):
        return (v > 0) - (v < 0)

    @staticmethod
    def bitCount(v):               # noqa: N802
        return bin(int(v) & 0xFFFFFFFF).count("1")

    MAX_VALUE = 2 ** 31 - 1
    MIN_VALUE = -2 ** 31
    SIZE = 32


class _JavaLong(_JavaInteger):
    MAX_VALUE = 2 ** 63 - 1
    MIN_VALUE = -2 ** 63
    SIZE = 64

    @staticmethod
    def toHexString(v):            # noqa: N802
        return JStr(format(int(v) & 0xFFFFFFFFFFFFFFFF, "x"))

    @staticmethod
    def toBinaryString(v):         # noqa: N802
        return JStr(format(int(v) & 0xFFFFFFFFFFFFFFFF, "b"))

    @staticmethod
    def toOctalString(v):          # noqa: N802
        return JStr(format(int(v) & 0xFFFFFFFFFFFFFFFF, "o"))

    @staticmethod
    def bitCount(v):               # noqa: N802
        return bin(int(v) & 0xFFFFFFFFFFFFFFFF).count("1")


class _JavaBoolean:
    TRUE, FALSE = True, False

    @staticmethod
    def parseBoolean(s):           # noqa: N802
        return str(s).lower() == "true"

    @staticmethod
    def valueOf(v):                # noqa: N802
        if isinstance(v, bool):
            return v
        return str(v).lower() == "true"

    @staticmethod
    def toString(b):               # noqa: N802
        return JStr("true" if b else "false")

    @staticmethod
    def compare(a, b):
        return (bool(a) > bool(b)) - (bool(a) < bool(b))


class _JavaObjects:
    @staticmethod
    def equals(a, b):
        if a is None or b is None:
            return a is b
        return a == b

    @staticmethod
    def isNull(v):                 # noqa: N802
        return v is None

    @staticmethod
    def nonNull(v):                # noqa: N802
        return v is not None

    @staticmethod
    def requireNonNull(v, msg=None):  # noqa: N802
        if v is None:
            raise AttributeError(
                f"NullPointerException: {msg or 'null'}")
        return v

    @staticmethod
    def requireNonNullElse(v, d):  # noqa: N802
        return v if v is not None else d

    @staticmethod
    def toString(v, d="null"):     # noqa: N802
        return JStr(d) if v is None else _jm_toString(v)


class _JavaUUID:
    """java.util.UUID.  nameUUIDFromBytes is Java-exact (MD5 type-3);
    randomUUID delegates to uuid4 — nondeterministic by contract, same as
    the reference executing the script per document."""

    @staticmethod
    def nameUUIDFromBytes(b):      # noqa: N802
        import uuid as _uuid
        import hashlib
        if isinstance(b, str):
            b = b.encode()
        digest = hashlib.md5(bytes(b)).digest()
        raw = bytearray(digest)
        raw[6] = (raw[6] & 0x0F) | 0x30   # version 3
        raw[8] = (raw[8] & 0x3F) | 0x80   # IETF variant
        return JStr(str(_uuid.UUID(bytes=bytes(raw))))

    @staticmethod
    def fromString(s):             # noqa: N802
        import uuid as _uuid
        return JStr(str(_uuid.UUID(str(s))))

    @staticmethod
    def randomUUID():              # noqa: N802
        import uuid as _uuid
        return JStr(str(_uuid.uuid4()))


class _JDuration:
    """java.time.Duration value (nanosecond-backed)."""

    __slots__ = ("_ns",)

    def __init__(self, ns):
        self._ns = int(ns)

    def getSeconds(self):          # noqa: N802
        return self._ns // 1_000_000_000

    def toMillis(self):            # noqa: N802
        return self._ns // 1_000_000

    def toSeconds(self):           # noqa: N802
        return self._ns // 1_000_000_000

    def toMinutes(self):           # noqa: N802
        return self._ns // 60_000_000_000

    def toHours(self):             # noqa: N802
        return self._ns // 3_600_000_000_000

    def toDays(self):              # noqa: N802
        return self._ns // 86_400_000_000_000

    def getNano(self):             # noqa: N802
        return self._ns % 1_000_000_000

    def isNegative(self):          # noqa: N802
        return self._ns < 0

    def isZero(self):              # noqa: N802
        return self._ns == 0

    def abs(self):
        return _JDuration(abs(self._ns))

    def negated(self):
        return _JDuration(-self._ns)

    def plus(self, o):
        return _JDuration(self._ns + o._ns)

    def minus(self, o):
        return _JDuration(self._ns - o._ns)

    def compareTo(self, o):        # noqa: N802
        return (self._ns > o._ns) - (self._ns < o._ns)

    def toString(self):            # noqa: N802
        # ISO-8601 (PT1H30M / PT2.5S), the Java rendering
        s, ns = divmod(abs(self._ns), 1_000_000_000)
        h, rem = divmod(s, 3600)
        m, sec = divmod(rem, 60)
        out = "PT"
        if h:
            out += f"{h}H"
        if m:
            out += f"{m}M"
        if sec or ns or (not h and not m):
            frac = f".{ns:09d}".rstrip("0") if ns else ""
            out += f"{sec}{frac}S"
        return JStr(("-" if self._ns < 0 else "") + out)

    __str__ = toString


class _JavaDuration:
    @staticmethod
    def ofDays(n):                 # noqa: N802
        return _JDuration(int(n) * 86_400_000_000_000)

    @staticmethod
    def ofHours(n):                # noqa: N802
        return _JDuration(int(n) * 3_600_000_000_000)

    @staticmethod
    def ofMinutes(n):              # noqa: N802
        return _JDuration(int(n) * 60_000_000_000)

    @staticmethod
    def ofSeconds(n):              # noqa: N802
        return _JDuration(int(n) * 1_000_000_000)

    @staticmethod
    def ofMillis(n):               # noqa: N802
        return _JDuration(int(n) * 1_000_000)

    @staticmethod
    def ofNanos(n):                # noqa: N802
        return _JDuration(int(n))

    @staticmethod
    def between(a, b):
        return _JDuration(round((b.dt - a.dt).total_seconds() * 1e9))

    ZERO = None  # assigned after class creation


_JavaDuration.ZERO = _JDuration(0)


class _JavaCollections:
    @staticmethod
    def sort(lst, cmp=None):
        if cmp is None:
            list.sort(lst)
        else:
            import functools
            list.sort(lst, key=functools.cmp_to_key(cmp))

    @staticmethod
    def reverse(lst):
        lst.reverse()

    @staticmethod
    def max(coll, cmp=None):
        if cmp is None:
            return max(coll)
        import functools
        return max(coll, key=functools.cmp_to_key(cmp))

    @staticmethod
    def min(coll, cmp=None):
        if cmp is None:
            return min(coll)
        import functools
        return min(coll, key=functools.cmp_to_key(cmp))

    @staticmethod
    def emptyList():               # noqa: N802
        return JList()

    @staticmethod
    def emptyMap():                # noqa: N802
        return JMap()

    @staticmethod
    def singletonList(v):          # noqa: N802
        return JList([v])

    @staticmethod
    def singleton(v):
        return JSet([v])

    @staticmethod
    def unmodifiableList(lst):     # noqa: N802
        return JList(lst)

    @staticmethod
    def unmodifiableMap(m):        # noqa: N802
        return JMap(m)

    @staticmethod
    def unmodifiableSet(s):        # noqa: N802
        return JSet(s)

    @staticmethod
    def frequency(coll, v):
        return sum(1 for x in coll if x == v)

    @staticmethod
    def nCopies(n, v):             # noqa: N802
        return JList([v] * int(n))


class _JavaCharacter:
    @staticmethod
    def isDigit(c):                # noqa: N802
        return str(c).isdigit()

    @staticmethod
    def isLetter(c):               # noqa: N802
        return str(c).isalpha()

    @staticmethod
    def isLetterOrDigit(c):        # noqa: N802
        return str(c).isalnum()

    @staticmethod
    def isWhitespace(c):           # noqa: N802
        return str(c).isspace()

    @staticmethod
    def isUpperCase(c):            # noqa: N802
        return str(c).isupper()

    @staticmethod
    def isLowerCase(c):            # noqa: N802
        return str(c).islower()

    @staticmethod
    def toUpperCase(c):            # noqa: N802
        return JStr(str(c).upper())

    @staticmethod
    def toLowerCase(c):            # noqa: N802
        return JStr(str(c).lower())

    @staticmethod
    def getNumericValue(c):        # noqa: N802
        c = str(c)
        if c.isdigit():
            return int(c)
        if c.isalpha() and c.isascii():
            return ord(c.lower()) - ord("a") + 10
        return -1

    @staticmethod
    def digit(c, radix):
        try:
            return int(str(c), int(radix))
        except ValueError:
            return -1

    @staticmethod
    def isAlphabetic(c):           # noqa: N802
        return str(c).isalpha()

    @staticmethod
    def toString(c):               # noqa: N802
        return JStr(str(c))


class _JavaArrays:
    @staticmethod
    def asList(*xs):               # noqa: N802
        if len(xs) == 1 and isinstance(xs[0], (list, tuple)):
            return JList(xs[0])
        return JList(xs)

    @staticmethod
    def stream(arr):
        return _JStream(arr)

    @staticmethod
    def sort(arr, cmp=None):
        _JavaCollections.sort(arr, cmp)

    @staticmethod
    def toString(arr):             # noqa: N802
        return JStr("[" + ", ".join(
            "null" if x is None else
            (str(x) if isinstance(x, str) else _jrender(x))
            for x in arr) + "]")


class _B64Encoder:
    @staticmethod
    def encodeToString(b):         # noqa: N802
        import base64
        if isinstance(b, str):
            b = b.encode()
        return JStr(base64.b64encode(bytes(b)).decode())


class _B64Decoder:
    @staticmethod
    def decode(s):
        import base64
        return base64.b64decode(str(s))


class _JavaBase64:
    @staticmethod
    def getEncoder():              # noqa: N802
        return _B64Encoder

    @staticmethod
    def getDecoder():              # noqa: N802
        return _B64Decoder


class JStringBuilder:
    """`new StringBuilder()` -> fluent append chain."""

    def __init__(self, initial=""):
        self._parts = [str(initial)]

    def append(self, v):
        self._parts.append("null" if v is None else str(v))
        return self

    def insert(self, i, v):
        cur = "".join(self._parts)
        self._parts = [cur[:int(i)] + str(v) + cur[int(i):]]
        return self

    def length(self):
        return len("".join(self._parts))

    def toString(self):            # noqa: N802
        return JStr("".join(self._parts))

    __str__ = toString


class JStringJoiner:
    """`new StringJoiner(sep[, prefix, suffix])`."""

    def __init__(self, sep, prefix="", suffix=""):
        self._sep, self._pre, self._suf = str(sep), str(prefix), str(suffix)
        self._parts: list[str] = []
        self._empty = None

    def add(self, v):
        self._parts.append("null" if v is None else str(v))
        return self

    def setEmptyValue(self, v):    # noqa: N802
        self._empty = str(v)
        return self

    def length(self):
        return len(self.toString())

    def toString(self):            # noqa: N802
        if not self._parts and self._empty is not None:
            return JStr(self._empty)
        return JStr(self._pre + self._sep.join(self._parts) + self._suf)

    __str__ = toString


class JIterator:
    """java.util.Iterator: hasNext/next over any Python iterable."""

    __slots__ = ("_it", "_buf", "_has")

    def __init__(self, iterable):
        self._it = iter(iterable)
        self._buf = None
        self._has = None

    def hasNext(self):             # noqa: N802
        if self._has is None:
            try:
                self._buf = next(self._it)
                self._has = True
            except StopIteration:
                self._has = False
        return self._has

    def next(self):
        if not self.hasNext():
            raise _jexc_new("NoSuchElementException")
        v, self._buf, self._has = self._buf, None, None
        return v

    def __iter__(self):            # for-each over an Iterator local
        while self.hasNext():
            yield self.next()


class JFunc:
    """Wrapper for transpiled painless lambdas / method refs: Java
    functional-interface method names (f.apply(x), p.test(x), s.get(),
    c.accept(x), cmp.compare(a,b)...) dispatch to the underlying
    callable, while plain calls (stream pipelines, sort comparators)
    pass straight through __call__."""

    __slots__ = ("_f",)

    def __init__(self, f):
        self._f = f._f if isinstance(f, JFunc) else f

    def __call__(self, *a):
        return self._f(*a)

    # Function/BiFunction/UnaryOperator + IntFunction/ToIntFunction...
    def apply(self, *a):
        return self._f(*a)
    applyAsInt = applyAsLong = applyAsDouble = apply  # noqa: N815
    # Predicate/BiPredicate
    def test(self, *a):
        return bool(self._f(*a))
    # Supplier
    def get(self):
        return self._f()
    # Consumer/BiConsumer
    def accept(self, *a):
        self._f(*a)
    # Comparator
    def compare(self, a, b):
        return self._f(a, b)

    def andThen(self, g):          # noqa: N802
        return JFunc(lambda *a: (g._f if isinstance(g, JFunc) else g)(
            self._f(*a)))

    def compose(self, g):
        return JFunc(lambda *a: self._f(
            (g._f if isinstance(g, JFunc) else g)(*a)))

    def negate(self):
        return JFunc(lambda *a: not self._f(*a))

    def reversed(self):            # Comparator.reversed()
        return JFunc(lambda a, b: self._f(b, a))

    def thenComparing(self, other):  # noqa: N802
        o = other._f if isinstance(other, JFunc) else other
        try:
            two_arg = o.__code__.co_argcount >= 2
        except AttributeError:
            two_arg = True

        def cmp(a, b):
            r = self._f(a, b)
            if r != 0:
                return r
            if two_arg:
                return o(a, b)
            ka, kb = o(a), o(b)
            return -1 if ka < kb else (1 if ka > kb else 0)
        return JFunc(cmp)


def _jfn(f):
    return f if isinstance(f, JFunc) else JFunc(f)


class _JavaComparator:
    """Comparator statics: comparing/comparingInt/naturalOrder/..."""

    @staticmethod
    def comparing(key):
        k = key._f if isinstance(key, JFunc) else key

        def cmp(a, b):
            ka, kb = k(a), k(b)
            return -1 if ka < kb else (1 if ka > kb else 0)
        return JFunc(cmp)

    comparingInt = comparingLong = comparingDouble = comparing

    @staticmethod
    def naturalOrder():            # noqa: N802
        return JFunc(lambda a, b: -1 if a < b else (1 if a > b else 0))

    @staticmethod
    def reverseOrder():            # noqa: N802
        return JFunc(lambda a, b: -1 if b < a else (1 if b > a else 0))


class _JavaMapStatics:
    """java.util.Map statics (Java 9 factories + entry)."""

    @staticmethod
    def of(*kv):
        if len(kv) % 2:
            raise ValueError("Map.of requires an even argument count")
        m = JMap()
        for i in range(0, len(kv), 2):
            m[kv[i]] = kv[i + 1]
        return m

    @staticmethod
    def copyOf(m):                 # noqa: N802
        return JMap(m)

    @staticmethod
    def entry(k, v):
        m = JMap({k: v})
        return _JEntry(m, k)


class _JavaListStatics:
    """java.util.List statics."""

    @staticmethod
    def of(*items):
        return JList(items)

    @staticmethod
    def copyOf(xs):                # noqa: N802
        return JList(xs)


class _JavaSetStatics:
    """java.util.Set statics."""

    @staticmethod
    def of(*items):
        return JSet(items)

    @staticmethod
    def copyOf(xs):                # noqa: N802
        return JSet(xs)


class _JavaStreamStatics:
    """java.util.stream.Stream statics."""

    @staticmethod
    def of(*items):
        return _JStream(list(items))

    @staticmethod
    def concat(a, b):
        return _JStream(list(a._items) + list(b._items))

    @staticmethod
    def empty():
        return _JStream([])

    @staticmethod
    def iterate(seed, fn):
        # Java's lazy infinite stream: the eager engine defers until the
        # REQUIRED bounding limit(n) arrives
        return _JLazyIterate(seed, fn)


class _JLazyIterate:
    """`Stream.iterate(seed, f)` — infinite until .limit(n) bounds it;
    any other operation on the unbounded form fails loud (the eager
    streams-lite engine cannot represent it)."""

    __slots__ = ("_seed", "_fn")

    def __init__(self, seed, fn):
        self._seed, self._fn = seed, fn

    def limit(self, n):
        out, v = [], self._seed
        for _ in range(int(n)):
            out.append(v)
            v = self._fn(v)
        return _JStream(out)

    def __getattr__(self, name):
        raise AttributeError(
            f"Stream.iterate is unbounded: call .limit(n) before .{name}")


class _JavaIntStreamStatics:
    """IntStream/LongStream statics (range/rangeClosed/of)."""

    @staticmethod
    def range(a, b):
        return _JStream(list(range(int(a), int(b))))

    @staticmethod
    def rangeClosed(a, b):         # noqa: N802
        return _JStream(list(range(int(a), int(b) + 1)))

    @staticmethod
    def of(*items):
        return _JStream(list(items))


class _JavaFunctionStatics:
    """Function/UnaryOperator statics (identity)."""

    @staticmethod
    def identity():
        return JFunc(lambda x: x)


class _JavaLocale:
    """java.util.Locale constants (toLowerCase(Locale.ROOT) etc.)."""
    ROOT = "ROOT"
    ENGLISH = "ENGLISH"
    US = "US"
    UK = "UK"

    @staticmethod
    def forLanguageTag(tag):       # noqa: N802
        return str(tag)


class _JavaDouble:
    MAX_VALUE = 1.7976931348623157e308
    MIN_VALUE = 4.9e-324
    POSITIVE_INFINITY = float("inf")
    NEGATIVE_INFINITY = float("-inf")
    NaN = float("nan")

    @staticmethod
    def parseDouble(s):            # noqa: N802
        return float(str(s).strip())

    @staticmethod
    def valueOf(v):                # noqa: N802
        return float(str(v).strip()) if isinstance(v, str) else float(v)

    @staticmethod
    def isNaN(v):                  # noqa: N802
        return v != v

    @staticmethod
    def isInfinite(v):             # noqa: N802
        return v in (float("inf"), float("-inf"))

    @staticmethod
    def compare(a, b):
        return (a > b) - (a < b)

    @staticmethod
    def toString(v):               # noqa: N802
        return JStr(_jrender(float(v)))


class _JavaFloat(_JavaDouble):
    MAX_VALUE = 3.4028234663852886e38
    MIN_VALUE = 1.401298464324817e-45

    @staticmethod
    def parseFloat(s):             # noqa: N802
        return float(str(s).strip())


_JFMT_SPEC = re.compile(r"%(\d+\$)?([-#+ 0,]*)(\d+)?(\.\d+)?([a-zA-Z%])")


class _JavaString:
    @staticmethod
    def valueOf(v):                # noqa: N802
        if isinstance(v, bool):
            return JStr("true" if v else "false")
        return JStr(str(v))

    @staticmethod
    def join(sep, *parts):
        if len(parts) == 1 and isinstance(parts[0], (list, tuple)):
            parts = parts[0]
        return JStr(str(sep).join(
            str(p) if isinstance(p, str) else _jrender(p) for p in parts))

    @staticmethod
    def format(fmt, *args):
        """java.lang.String.format — accepts BOTH painless signatures:
        a def[] second arg (`new def[]{...}` lowering) and Java-style
        varargs (`String.format('%05d-%s', x, y)`).  The common
        conversions map 1:1 onto Python %-formatting; %b renders Java
        booleans, %n a newline."""
        if len(args) == 1 and isinstance(args[0], (list, tuple)):
            args = list(args[0])
        else:
            args = list(args)
        it = iter(args)
        out = []
        pos = 0
        for m in _JFMT_SPEC.finditer(str(fmt)):
            out.append(str(fmt)[pos:m.start()])
            pos = m.end()
            idx, flags, width, prec, conv = m.groups()
            if conv == "%":
                out.append("%")
                continue
            if conv == "n":
                out.append("\n")
                continue
            arg = args[int(idx[:-1]) - 1] if idx else next(it)
            flags = (flags or "").replace(",", "")
            pyspec = "%" + flags + (width or "") + (prec or "")
            if conv in ("b", "B"):
                s = "true" if arg else "false"
                out.append(pyspec % s if width else s)
                continue
            if conv in ("s", "S"):
                s = arg if isinstance(arg, str) else _jrender(arg)
                s = (pyspec + "s") % s
                out.append(s.upper() if conv == "S" else s)
                continue
            if conv == "c":
                out.append((pyspec + "c") % (chr(arg) if isinstance(
                    arg, int) and not isinstance(arg, bool) else str(arg)))
                continue
            if conv == "d":
                out.append((pyspec + "d") % int(arg))
                continue
            if conv in "xXo":
                out.append((pyspec + conv) % int(arg))
                continue
            if conv in "eEfgG":
                out.append((pyspec + conv) % float(arg))
                continue
            raise ValueError(f"UnknownFormatConversionException: %{conv}")
        out.append(str(fmt)[pos:])
        return JStr("".join(out))


class _Processors:
    @staticmethod
    def lowercase(s):
        return JStr(str(s).lower())

    @staticmethod
    def uppercase(s):
        return JStr(str(s).upper())

    @staticmethod
    def trim(s):
        return JStr(str(s).strip())

    @staticmethod
    def urlDecode(s):              # noqa: N802
        from urllib.parse import unquote_plus
        return JStr(unquote_plus(str(s)))

    @staticmethod
    def json(s, field=None):
        import json as _json
        if field is not None:
            # ES overload json(Map, String): parse map[field] in place —
            # works on plain maps AND on ctx itself (the common call shape
            # ``Processors.json(ctx, 'field')``)
            key = str(field)
            cur = s[key] if isinstance(s, dict) else getattr(s, key)
            parsed = _wrap(_json.loads(str(cur)))
            if isinstance(s, dict):
                s[key] = parsed
            else:
                setattr(s, key, parsed)
            return None
        return _wrap(_json.loads(str(s)))

    # community-id v1 bidirectional ICMP type pairs (same tables as the
    # community_id processor, operators/net.py:866)
    _ICMP_EQ = {8: 0, 0: 8, 13: 14, 14: 13, 15: 16, 16: 15,
                17: 18, 18: 17, 10: 9, 9: 10}
    _ICMP6_EQ = {128: 129, 129: 128, 133: 134, 134: 133,
                 135: 136, 136: 135}
    _PROTO = {"icmp": 1, "igmp": 2, "tcp": 6, "udp": 17, "gre": 47,
              "icmpv6": 58, "sctp": 132}

    @staticmethod
    def communityId(source_ip, dest_ip, iana_number, transport,  # noqa: N802
                    source_port, dest_port, icmp_type, icmp_code, seed=0):
        """ES Processors.communityId (9-arg; 8-arg form binds seed=0):
        Community ID v1 flow hash, same layout as the community_id
        processor (seed 2B BE + ips + proto + pad + ports, SHA-1,
        base64, '1:' prefix)."""
        import base64
        import hashlib
        import ipaddress
        sip = ipaddress.ip_address(str(source_ip))
        dip = ipaddress.ip_address(str(dest_ip))
        if iana_number is not None:
            proto = int(iana_number)
        else:
            name = str(transport).lower()
            if name not in _Processors._PROTO:
                raise ValueError(f"could not resolve transport [{transport}]")
            proto = _Processors._PROTO[name]
        one_way = False
        if proto in (1, 58):
            tbl = _Processors._ICMP_EQ if proto == 1 \
                else _Processors._ICMP6_EQ
            t = int(icmp_type)
            eq = tbl.get(t)
            sp, dp = t, (eq if eq is not None else int(icmp_code))
            one_way = eq is None
        else:
            if source_port is None or dest_port is None:
                raise ValueError(
                    "could not compute community id: missing ports")
            sp, dp = int(source_port) & 0xFFFF, int(dest_port) & 0xFFFF
        sb, db = sip.packed, dip.packed
        if not one_way and (sb > db or (sb == db and sp > dp)):
            sb, db, sp, dp = db, sb, dp, sp
        buf = (int(seed).to_bytes(2, "big") + sb + db
               + bytes([proto & 0xFF, 0])
               + sp.to_bytes(2, "big") + dp.to_bytes(2, "big"))
        return JStr("1:" + base64.b64encode(
            hashlib.sha1(buf).digest()).decode())

    @staticmethod
    def uriParts(s):               # noqa: N802
        # same field set as the uri_parts processor (operators/net.py)
        from urllib.parse import urlsplit
        raw = str(s)
        u = urlsplit(raw)
        if not u.netloc:
            raise ValueError(f"unable to parse URI [{raw}]")
        ext = ""
        if "." in (u.path.rsplit("/", 1)[-1]):
            ext = u.path.rsplit("/", 1)[-1].rsplit(".", 1)[-1]
        ui = ""
        if "@" in u.netloc:
            ui = u.netloc.rsplit("@", 1)[0]
        out = {
            "scheme": u.scheme.lower(), "domain": u.hostname,
            "port": u.port, "path": u.path, "query": u.query or None,
            "fragment": u.fragment or None, "user_info": ui or None,
            "username": (ui.split(":", 1)[0] if ui else None),
            "password": (ui.split(":", 1)[1]
                         if ui and ":" in ui else None),
            "extension": ext or None, "original": raw,
        }
        return _wrap({k: v for k, v in out.items() if v is not None})

    @staticmethod
    def bytes(s):
        units = {"b": 1, "kb": 1024, "mb": 1024 ** 2, "gb": 1024 ** 3,
                 "tb": 1024 ** 4, "pb": 1024 ** 5}
        m = re.match(r"(?i)^\s*([0-9]*\.?[0-9]+)\s*(b|kb|mb|gb|tb|pb)?\s*$",
                     str(s))
        if not m:
            raise ValueError(f"cannot parse bytes: {s!r}")
        return int(float(m.group(1)) * units.get((m.group(2) or "b").lower(), 1))


# ------------------------------------------------------- java.time subset --
# Painless exposes java.time for timestamp manipulation — the most common
# real-integration constructs after string ops (reference executes
# arbitrary Painless, docs/index.asciidoc:192).  Aware-datetime-backed;
# unsupported methods fail loud (AttributeError -> row failure channel).
import datetime as _datetime


def _parse_iso_aware(s: str):
    s = str(s)
    # trim >6 fractional digits (Java nanos) for fromisoformat
    s2 = re.sub(r"(\.\d{6})\d+", r"\1", s.replace("Z", "+00:00"))
    dt = _datetime.datetime.fromisoformat(s2)
    if dt.tzinfo is None:
        raise ValueError(f"text '{s}' could not be parsed: missing offset")
    return dt


class JZoneId:
    def __init__(self, tz):
        self.tz = tz

    @staticmethod
    def of(name):
        name = str(name)
        if name in ("Z", "UTC", "GMT"):
            return JZoneId(_datetime.timezone.utc)
        m = re.match(r"^(?:UTC|GMT)?([+-])(\d{2}):?(\d{2})$", name)
        if m:
            sign = 1 if m.group(1) == "+" else -1
            delta = _datetime.timedelta(hours=int(m.group(2)),
                                        minutes=int(m.group(3)))
            return JZoneId(_datetime.timezone(sign * delta))
        from zoneinfo import ZoneInfo
        return JZoneId(ZoneInfo(name))


class _JZoneOffset:
    UTC = JZoneId(_datetime.timezone.utc)


def _java_offset(dt) -> str:
    off = dt.utcoffset()
    if off == _datetime.timedelta(0):
        return "Z"
    total = int(off.total_seconds())
    sign = "+" if total >= 0 else "-"
    total = abs(total)
    return f"{sign}{total // 3600:02d}:{(total % 3600) // 60:02d}"


_JFMT_TOKEN = re.compile(
    r"yyyy|yy|MMM|MM|dd|HH|hh|mm|ss|SSS|SS|S|EEE|XXX|XX|X|ZZ|Z|a|'[^']*'")
_MONTH_ABBR = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_DAY_ABBR = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]


def _java_format(dt, fmt: str) -> str:
    def tok(m):
        t = m.group(0)
        if t.startswith("'"):
            return t[1:-1] or "'"
        ms = dt.microsecond // 1000
        off = dt.utcoffset() or _datetime.timedelta(0)
        tot = int(off.total_seconds())
        sgn, atot = ("+" if tot >= 0 else "-"), abs(int(tot))
        return {
            "yyyy": f"{dt.year:04d}", "yy": f"{dt.year % 100:02d}",
            "MMM": _MONTH_ABBR[dt.month - 1], "MM": f"{dt.month:02d}",
            "dd": f"{dt.day:02d}", "HH": f"{dt.hour:02d}",
            "hh": f"{(dt.hour % 12) or 12:02d}",
            "mm": f"{dt.minute:02d}", "ss": f"{dt.second:02d}",
            "SSS": f"{ms:03d}", "SS": f"{ms // 10:02d}", "S": f"{ms // 100}",
            "EEE": _DAY_ABBR[dt.weekday()],
            "XXX": _java_offset(dt),
            "XX": ("Z" if tot == 0 else
                   f"{sgn}{atot // 3600:02d}{(atot % 3600) // 60:02d}"),
            "X": ("Z" if tot == 0 else f"{sgn}{atot // 3600:02d}"),
            "ZZ": f"{sgn}{atot // 3600:02d}:{(atot % 3600) // 60:02d}",
            "Z": f"{sgn}{atot // 3600:02d}{(atot % 3600) // 60:02d}",
            "a": "AM" if dt.hour < 12 else "PM",
        }[t]
    return _JFMT_TOKEN.sub(tok, fmt)


class JDateTimeFormatter:
    def __init__(self, pattern):
        self.pattern = pattern

    @staticmethod
    def ofPattern(p):              # noqa: N802
        return JDateTimeFormatter(str(p))

    def format(self, temporal):
        if isinstance(temporal, (JLocalDate, JLocalDateTime)):
            return temporal.format(self)
        return JStr(_java_format(temporal.dt, self.pattern))


JDateTimeFormatter.ISO_OFFSET_DATE_TIME = JDateTimeFormatter(
    "yyyy-MM-dd'T'HH:mm:ssXXX")
JDateTimeFormatter.ISO_LOCAL_DATE = JDateTimeFormatter("yyyy-MM-dd")
JDateTimeFormatter.ISO_LOCAL_DATE_TIME = JDateTimeFormatter(
    "yyyy-MM-dd'T'HH:mm:ss")

_STRPTIME_MAP = [("yyyy", "%Y"), ("yy", "%y"), ("MMM", "%b"),
                 ("MM", "%m"), ("dd", "%d"), ("HH", "%H"), ("hh", "%I"),
                 ("mm", "%M"), ("ss", "%S"), ("SSS", "%f"), ("a", "%p"),
                 ("EEE", "%a")]


def _pattern_to_strptime(pattern: str) -> str:
    out, i = [], 0
    n = len(pattern)
    while i < n:
        if pattern[i] == "'":       # quoted literal
            j = pattern.find("'", i + 1)
            j = n if j < 0 else j
            out.append(pattern[i + 1:j])
            i = j + 1
            continue
        for tok, py in _STRPTIME_MAP:
            if pattern.startswith(tok, i):
                out.append(py)
                i += len(tok)
                break
        else:
            out.append(pattern[i])
            i += 1
    return "".join(out)


class JLocalDate:
    """java.time.LocalDate (date-only temporal painless scripts parse
    with a DateTimeFormatter pattern)."""

    __slots__ = ("d",)

    def __init__(self, d):
        self.d = d

    @staticmethod
    def parse(s, formatter=None):
        if formatter is None:
            return JLocalDate(_datetime.date.fromisoformat(str(s)))
        fmt = _pattern_to_strptime(formatter.pattern)
        return JLocalDate(
            _datetime.datetime.strptime(str(s), fmt).date())

    @staticmethod
    def of(y, m, d):
        return JLocalDate(_datetime.date(int(y), int(m), int(d)))

    def getYear(self):             # noqa: N802
        return self.d.year

    def getMonthValue(self):       # noqa: N802
        return self.d.month

    def getDayOfMonth(self):       # noqa: N802
        return self.d.day

    def getDayOfWeek(self):        # noqa: N802
        return _JDayOfWeek(self.d.isoweekday())

    def getDayOfYear(self):        # noqa: N802
        return self.d.timetuple().tm_yday

    def plusDays(self, n):         # noqa: N802
        return JLocalDate(self.d + _datetime.timedelta(days=int(n)))

    def minusDays(self, n):        # noqa: N802
        return JLocalDate(self.d - _datetime.timedelta(days=int(n)))

    def atStartOfDay(self, zone=None):  # noqa: N802
        tz = zone.tz if zone is not None else _datetime.timezone.utc
        return JZonedDateTime(_datetime.datetime(
            self.d.year, self.d.month, self.d.day, tzinfo=tz))

    def isBefore(self, o):         # noqa: N802
        return self.d < o.d

    def isAfter(self, o):          # noqa: N802
        return self.d > o.d

    def isEqual(self, o):          # noqa: N802
        return self.d == o.d

    def format(self, formatter):
        return JStr(_java_format(
            _datetime.datetime(self.d.year, self.d.month, self.d.day,
                               tzinfo=_datetime.timezone.utc),
            formatter.pattern))

    def __str__(self):
        return self.d.isoformat()

    toString = __str__


class JLocalDateTime:
    """java.time.LocalDateTime — parse/format with patterns; zone-free."""

    __slots__ = ("dt",)

    def __init__(self, dt):
        self.dt = dt

    @staticmethod
    def parse(s, formatter=None):
        if formatter is None:
            return JLocalDateTime(
                _datetime.datetime.fromisoformat(str(s)))
        fmt = _pattern_to_strptime(formatter.pattern)
        return JLocalDateTime(_datetime.datetime.strptime(str(s), fmt))

    def atZone(self, zone):        # noqa: N802
        return JZonedDateTime(self.dt.replace(tzinfo=zone.tz))

    def getYear(self):             # noqa: N802
        return self.dt.year

    def getMonthValue(self):       # noqa: N802
        return self.dt.month

    def getDayOfMonth(self):       # noqa: N802
        return self.dt.day

    def getHour(self):             # noqa: N802
        return self.dt.hour

    def getMinute(self):           # noqa: N802
        return self.dt.minute

    def getSecond(self):           # noqa: N802
        return self.dt.second

    def format(self, formatter):
        return JStr(_java_format(self.dt, formatter.pattern))

    def __str__(self):
        return self.dt.isoformat()

    toString = __str__


class JInstant:
    __slots__ = ("dt",)

    def __init__(self, dt):
        self.dt = dt.astimezone(_datetime.timezone.utc)

    @staticmethod
    def parse(s):
        return JInstant(_parse_iso_aware(s))

    @staticmethod
    def ofEpochMilli(ms):          # noqa: N802
        return JInstant(_datetime.datetime.fromtimestamp(
            int(ms) / 1000.0, _datetime.timezone.utc))

    @staticmethod
    def ofEpochSecond(s):          # noqa: N802
        return JInstant(_datetime.datetime.fromtimestamp(
            float(s), _datetime.timezone.utc))

    def toEpochMilli(self):        # noqa: N802
        return int(self.dt.timestamp() * 1000)

    def getEpochSecond(self):      # noqa: N802
        return int(self.dt.timestamp())

    def atZone(self, zone):        # noqa: N802
        return JZonedDateTime(self.dt.astimezone(zone.tz))

    def plusSeconds(self, n):      # noqa: N802
        return JInstant(self.dt + _datetime.timedelta(seconds=int(n)))

    def plusMillis(self, n):       # noqa: N802
        return JInstant(self.dt + _datetime.timedelta(milliseconds=int(n)))

    def isBefore(self, o):         # noqa: N802
        return self.dt < o.dt

    def isAfter(self, o):          # noqa: N802
        return self.dt > o.dt

    def __str__(self):
        base = self.dt.strftime("%Y-%m-%dT%H:%M:%S")
        if self.dt.microsecond:
            base += f".{self.dt.microsecond // 1000:03d}"
        return base + "Z"

    toString = __str__


class _JDayOfWeek:
    _NAMES = ["MONDAY", "TUESDAY", "WEDNESDAY", "THURSDAY", "FRIDAY",
              "SATURDAY", "SUNDAY"]

    def __init__(self, iso_value):
        self.value = iso_value     # Java: Monday=1 .. Sunday=7

    def getValue(self):            # noqa: N802
        return self.value

    def __str__(self):
        return self._NAMES[self.value - 1]

    toString = __str__


class JZonedDateTime:
    __slots__ = ("dt",)

    def __init__(self, dt):
        self.dt = dt

    @staticmethod
    def parse(s, formatter=None):
        if formatter is not None:
            raise ValueError(
                "ZonedDateTime.parse with a custom formatter is "
                "unsupported; use ISO-8601 input")
        return JZonedDateTime(_parse_iso_aware(s))

    @staticmethod
    def ofInstant(instant, zone):  # noqa: N802
        return JZonedDateTime(instant.dt.astimezone(zone.tz))

    def getYear(self):             # noqa: N802
        return self.dt.year

    def getMonthValue(self):       # noqa: N802
        return self.dt.month

    def getDayOfMonth(self):       # noqa: N802
        return self.dt.day

    def getHour(self):             # noqa: N802
        return self.dt.hour

    def getMinute(self):           # noqa: N802
        return self.dt.minute

    def getSecond(self):           # noqa: N802
        return self.dt.second

    def getNano(self):             # noqa: N802
        return self.dt.microsecond * 1000

    def getDayOfWeek(self):        # noqa: N802
        return _JDayOfWeek(self.dt.isoweekday())

    def getDayOfYear(self):        # noqa: N802
        return self.dt.timetuple().tm_yday

    def toInstant(self):           # noqa: N802
        return JInstant(self.dt)

    def toEpochSecond(self):       # noqa: N802
        return int(self.dt.timestamp())

    def withZoneSameInstant(self, zone):  # noqa: N802
        return JZonedDateTime(self.dt.astimezone(zone.tz))

    def format(self, formatter):
        return JStr(_java_format(self.dt, formatter.pattern))

    def isBefore(self, o):         # noqa: N802
        return self.dt < o.dt

    def isAfter(self, o):          # noqa: N802
        return self.dt > o.dt

    def isEqual(self, o):          # noqa: N802
        return self.dt == o.dt

    def __str__(self):
        base = self.dt.strftime("%Y-%m-%dT%H:%M:%S")
        if self.dt.microsecond:
            base += f".{self.dt.microsecond // 1000:03d}"
        return base + _java_offset(self.dt)

    toString = __str__


def _zdt_plus(unit):
    def plus(self, n):
        return type(self)(self.dt + _datetime.timedelta(**{unit: int(n)}))

    def minus(self, n):
        return type(self)(self.dt - _datetime.timedelta(**{unit: int(n)}))
    return plus, minus


for _u, _names in (("days", ("plusDays", "minusDays")),
                   ("hours", ("plusHours", "minusHours")),
                   ("minutes", ("plusMinutes", "minusMinutes")),
                   ("seconds", ("plusSeconds", "minusSeconds")),
                   ("weeks", ("plusWeeks", "minusWeeks"))):
    _p, _m = _zdt_plus(_u)
    setattr(JZonedDateTime, _names[0], _p)
    setattr(JZonedDateTime, _names[1], _m)


class _ChronoField:
    def __init__(self, seconds_per):
        self._sp = seconds_per

    def between(self, a, b):
        # Java ChronoUnit.between truncates toward zero (so MINUTES over
        # -90s is -1, not floor's -2); int() on the quotient matches.
        delta = (b.dt - a.dt).total_seconds()
        if self._sp < 1:  # millis
            return int(delta * 1000)
        return int(delta / self._sp)


class _ChronoUnit:
    MILLIS = _ChronoField(0.001)
    SECONDS = _ChronoField(1)
    MINUTES = _ChronoField(60)
    HOURS = _ChronoField(3600)
    DAYS = _ChronoField(86400)


def _jdiv(a, b):
    """Java division: int/int truncates toward ZERO (-7/2 = -3); any
    double operand -> double division."""
    if isinstance(a, int) and isinstance(b, int) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        q = abs(a) // abs(b)
        return q if (a < 0) == (b < 0) else -q
    return a / b


def _jmod(a, b):
    """Java %: result has the sign of the DIVIDEND (python % floors)."""
    if isinstance(a, int) and isinstance(b, int) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        r = abs(a) % abs(b)
        return r if a >= 0 else -r
    import math
    return math.fmod(a, b)


# ------------------------------------------------ casts & glue helpers --

class _CastOp:
    """`(int) expr` lowers to `_CAST_int @ expr` (see _rewrite_casts).
    Chained casts `(long)(double) x` arrive left-associated as
    `(_CAST_long @ _CAST_double) @ x` — composing two ops."""

    __slots__ = ("_fn",)

    def __init__(self, fn):
        self._fn = fn

    def __matmul__(self, other):
        if isinstance(other, _CastOp):
            a, b = self._fn, other._fn
            return _CastOp(lambda v: a(b(v)))
        return self._fn(other)


def _c_to_int(v):
    if v is None:
        raise AttributeError("NullPointerException: cast of null to int")
    if isinstance(v, str):
        # (int) char -> code point; charAt returns a 1-char JStr
        if len(v) == 1:
            return ord(v)
        raise TypeError(f"ClassCastException: String {v!r} to int")
    if isinstance(v, bool):
        raise TypeError("ClassCastException: boolean to int")
    return int(v)  # float truncates toward zero, like Java


def _c_to_float(v):
    if v is None:
        raise AttributeError("NullPointerException: cast of null to double")
    if isinstance(v, str) and len(v) == 1:
        return float(ord(v))
    return float(v)


def _c_to_bool(v):
    if isinstance(v, bool):
        return v
    raise TypeError(f"ClassCastException: {type(v).__name__} to boolean")


def _c_to_char(v):
    if v is None:
        raise AttributeError("NullPointerException: cast of null to char")
    if isinstance(v, int) and not isinstance(v, bool):
        return JStr(chr(v))
    s = str(v)
    if len(s) == 1:
        return JStr(s)
    raise TypeError(f"ClassCastException: {v!r} to char")


def _c_to_str(v):
    if v is None:
        return None                # (String) null is null in Java
    if isinstance(v, str):
        return JStr(v)
    raise TypeError(f"ClassCastException: {type(v).__name__} to String")


_CAST_IDENT = _CastOp(lambda v: v)
_CASTS = {
    "int": _CastOp(_c_to_int), "long": _CastOp(_c_to_int),
    "short": _CastOp(_c_to_int), "byte": _CastOp(_c_to_int),
    "Integer": _CastOp(_c_to_int), "Long": _CastOp(_c_to_int),
    "Short": _CastOp(_c_to_int), "Byte": _CastOp(_c_to_int),
    "float": _CastOp(_c_to_float), "double": _CastOp(_c_to_float),
    "Float": _CastOp(_c_to_float), "Double": _CastOp(_c_to_float),
    "boolean": _CastOp(_c_to_bool), "Boolean": _CastOp(_c_to_bool),
    "char": _CastOp(_c_to_char), "Character": _CastOp(_c_to_char),
    "String": _CastOp(_c_to_str), "CharSequence": _CastOp(_c_to_str),
    "Number": _CAST_IDENT, "Object": _CAST_IDENT, "def": _CAST_IDENT,
    "List": _CAST_IDENT, "ArrayList": _CAST_IDENT,
    "Map": _CAST_IDENT, "HashMap": _CAST_IDENT,
}


class _UShr:
    """Reflected-operator pair for `a >>> b` (rewritten to
    `a >> _USHR >> b`): Java's unsigned right shift at int (32-bit) width
    for values in int range, long (64-bit) width otherwise."""

    def __rrshift__(self, left):
        return _UShrPartial(left)


class _UShrPartial:
    __slots__ = ("left",)

    def __init__(self, left):
        self.left = left

    def __rshift__(self, n):
        # Java >>> semantics (r5 ADVICE): the shift count is masked by
        # width-1 (x >>> 32 == x for int), and shift-by-0 returns the
        # value unchanged (-1 >>> 0 == -1).  Width still comes from the
        # runtime value's range (int if it fits, else long) — the
        # documented heuristic in lieu of static type tracking.
        v = self.left
        is_int = -2 ** 31 <= v <= 2 ** 31 - 1
        n_eff = n & (31 if is_int else 63)
        if n_eff == 0:
            return v
        mask = 0xFFFFFFFF if is_int else 0xFFFFFFFFFFFFFFFF
        return (v & mask) >> n_eff


class _JThrown(Exception):
    """A script-thrown Java exception (`throw new X(msg)`): carries the
    declared type name so typed catch blocks can filter."""

    def __init__(self, jtype, msg=None):
        super().__init__(msg if msg is not None else jtype)
        self.jtype = jtype
        self.msg = msg


def _jexc_new(jtype, msg=None):
    return _JThrown(str(jtype), None if msg is None else str(msg))


# Java exception hierarchy (child -> ancestors) for typed catch filtering
_EXC_ANCESTORS = {
    "NumberFormatException": {"IllegalArgumentException",
                              "RuntimeException"},
    "IllegalArgumentException": {"RuntimeException"},
    "IllegalStateException": {"RuntimeException"},
    "NullPointerException": {"RuntimeException"},
    "ClassCastException": {"RuntimeException"},
    "ArithmeticException": {"RuntimeException"},
    "UnsupportedOperationException": {"RuntimeException"},
    "IndexOutOfBoundsException": {"RuntimeException"},
    "ArrayIndexOutOfBoundsException": {"IndexOutOfBoundsException",
                                       "RuntimeException"},
    "StringIndexOutOfBoundsException": {"IndexOutOfBoundsException",
                                        "RuntimeException"},
    "NoSuchElementException": {"RuntimeException"},
}
# Python runtime exception -> the Java type it stands in for
_PY_TO_JAVA_EXC = (
    (ZeroDivisionError, "ArithmeticException"),
    (IndexError, "IndexOutOfBoundsException"),
    (AttributeError, "NullPointerException"),
    (TypeError, "ClassCastException"),
    (ValueError, "NumberFormatException"),
    (KeyError, "NoSuchElementException"),
)


def _exc_is(exc, jtype):
    """Does a caught exception match a painless catch's declared type?"""
    if jtype in ("Exception", "Throwable", "Error", "RuntimeException"):
        return True
    if isinstance(exc, _JThrown):
        name = exc.jtype
    else:
        name = next((j for t, j in _PY_TO_JAVA_EXC
                     if isinstance(exc, t)), None)
        if name is None:
            return jtype == "Exception"
    return name == jtype or jtype in _EXC_ANCESTORS.get(name, ())


def _nsget(v, name):
    """`a?.b` — null receiver short-circuits to null."""
    if v is None:
        return None
    if name.startswith("_"):  # mirror validate(): sandbox, not reachable
        raise AttributeError(f"attribute {name!r} blocked")
    try:
        return getattr(v, name)
    except AttributeError:
        if isinstance(v, dict):
            return _wrap(v.get(name))
        raise


def _nscall(v, name, *args):
    """`a?.m(x)` — null receiver short-circuits without invoking."""
    if v is None:
        return None
    if name.startswith("_"):  # mirror validate(): sandbox, not reachable
        raise AttributeError(f"attribute {name!r} blocked")
    return getattr(v, name)(*args)


def _jm_toString(v):               # noqa: N802
    if v is None:
        raise AttributeError("NullPointerException: toString on null")
    m = getattr(v, "toString", None)
    if m is not None:
        return m()
    if isinstance(v, bool):
        return JStr("true" if v else "false")
    if isinstance(v, float):
        return JStr(_jrender(v))
    return JStr(str(v))


def _jm_value(conv):
    def m(v):
        if v is None:
            raise AttributeError("NullPointerException")
        return conv(v)
    return m


_jm_intValue = _jm_value(int)
_jm_longValue = _jm_value(int)
_jm_shortValue = _jm_value(int)
_jm_byteValue = _jm_value(int)
_jm_doubleValue = _jm_value(float)
_jm_floatValue = _jm_value(float)
_jm_booleanValue = _jm_value(bool)


def _jm_equals(a, b):
    if a is None:
        raise AttributeError("NullPointerException: equals on null")
    m = getattr(a, "equals", None)
    if m is not None:
        return m(b)
    return a == b


def _jm_compareTo(a, b):           # noqa: N802
    if a is None:
        raise AttributeError("NullPointerException: compareTo on null")
    m = getattr(a, "compareTo", None)
    if m is not None:
        return m(b)
    return (a > b) - (a < b)


def _jlist_new(src=None):
    if src is None:
        return JList()
    if isinstance(src, int) and not isinstance(src, bool):
        return JList()             # capacity hint, not contents
    return JList(src)


def _jmap_new(src=None):
    if src is None or (isinstance(src, int) and not isinstance(src, bool)):
        return JMap()
    return JMap(src)


def _jtreemap_new(src=None):
    if src is None or (isinstance(src, int) and not isinstance(src, bool)):
        return JTreeMap()
    return JTreeMap(src)


def _jset_new(src=None):
    if src is None or (isinstance(src, int) and not isinstance(src, bool)):
        return JSet()
    return JSet(src)


def _jtreeset_new(src=None):
    if src is None or (isinstance(src, int) and not isinstance(src, bool)):
        return JSet(sorted_=True)
    return JSet(src, sorted_=True)


_ARR_DEFAULTS = {"int": 0, "long": 0, "short": 0, "byte": 0,
                 "float": 0.0, "double": 0.0, "boolean": False,
                 "char": "\0"}


def _jarr_new(jtype, n):
    return JList([_ARR_DEFAULTS.get(jtype)] * int(n))


def _jarr_lit(*items):
    return JList(items)


def _jstrnew_full(data=b"", charset="UTF-8"):
    if isinstance(data, (bytes, bytearray)):
        enc = str(charset).lower().replace("_", "-")
        return JStr(bytes(data).decode(
            enc if enc in ("utf-8", "ascii", "latin-1", "iso-8859-1")
            else "utf-8", "replace"))
    return JStr(str(data))


_GLOBALS = {
    "ZonedDateTime": JZonedDateTime, "Instant": JInstant,
    "ZoneId": JZoneId, "ZoneOffset": _JZoneOffset,
    "DateTimeFormatter": JDateTimeFormatter, "ChronoUnit": _ChronoUnit,
    "Math": _JavaMath, "Integer": _JavaInteger, "Long": _JavaLong,
    "Short": _JavaInteger, "Byte": _JavaInteger,
    "Double": _JavaDouble, "Float": _JavaFloat, "String": _JavaString,
    "Boolean": _JavaBoolean, "Objects": _JavaObjects, "UUID": _JavaUUID,
    "Duration": _JavaDuration, "Collections": _JavaCollections,
    "Optional": _JOptional, "LocalDate": JLocalDate,
    "LocalDateTime": JLocalDateTime,
    "Processors": _Processors, "Collectors": _Collectors,
    "range": range, "len": len, "abs": abs,
    "min": min, "max": max, "dict": dict, "RuntimeError": RuntimeError,
    "Exception": Exception,
    "_jlist": JList, "_jmap": JMap, "_JS": JStr, "_EV": _ElvisSentinel(),
    "_jtString": _JType(str), "_jtInteger": _JType(int, excl=(bool,)),
    "_jtLong": _JType(int, excl=(bool,)), "_jtDouble": _JType(float),
    "_jtFloat": _JType(float), "_jtBoolean": _JType(bool),
    "_jtList": _JType(list), "_jtArrayList": _JType(list),
    "_jtMap": _JType(dict), "_jtHashMap": _JType(dict),
    "_jtNumber": _JType(int, float, excl=(bool,)),
    "_jtSet": _JType(JSet), "_jtHashSet": _JType(JSet),
    "_jtCharSequence": _JType(str),
    "_jexc": _JavaException,
    "_jdiv": _jdiv, "_jmod": _jmod,
    "Character": _JavaCharacter, "Arrays": _JavaArrays,
    "Base64": _JavaBase64, "_jsb": JStringBuilder,
    "_jsj": JStringJoiner, "_jfn": _jfn,
    "Comparator": _JavaComparator, "Locale": _JavaLocale,
    "Function": _JavaFunctionStatics, "UnaryOperator": _JavaFunctionStatics,
    "Map": _JavaMapStatics, "List": _JavaListStatics,
    "Set": _JavaSetStatics, "Stream": _JavaStreamStatics,
    "IntStream": _JavaIntStreamStatics, "LongStream": _JavaIntStreamStatics,
    "_jstrnew": _jstrnew_full,
    "_jlist_new": _jlist_new, "_jmap_new": _jmap_new,
    "_jtreemap_new": _jtreemap_new, "_jset_new": _jset_new,
    "_jtreeset_new": _jtreeset_new,
    "_jarr_new": _jarr_new, "_jarr_lit": _jarr_lit,
    "_jexc_new": _jexc_new, "_exc_is": _exc_is,
    "_nsget": _nsget, "_nscall": _nscall,
    "_USHR": _UShr(),
    "_jm_toString": _jm_toString, "_jm_intValue": _jm_intValue,
    "_jm_longValue": _jm_longValue, "_jm_shortValue": _jm_shortValue,
    "_jm_byteValue": _jm_byteValue, "_jm_doubleValue": _jm_doubleValue,
    "_jm_floatValue": _jm_floatValue,
    "_jm_booleanValue": _jm_booleanValue,
    "_jm_equals": _jm_equals, "_jm_compareTo": _jm_compareTo,
}
for _ct, _cv in _CASTS.items():
    _GLOBALS[f"_CAST_{_ct}"] = _cv
_GLOBALS["__builtins__"] = {}

# class names whose method calls are STATIC (never rewritten by
# _JavaMethods): everything bound as a class-like global above
_STATIC_NAMES = {k for k, v in _GLOBALS.items()
                 if isinstance(v, type) or k in (
                     "Math", "Integer", "Long", "Short", "Byte", "Double",
                     "Float", "String", "Boolean", "Objects", "UUID",
                     "Duration", "Collections", "Collectors", "Character",
                     "Arrays", "Base64", "Processors", "ZonedDateTime",
                     "Instant", "ZoneId", "ZoneOffset", "DateTimeFormatter",
                     "ChronoUnit", "LocalDate", "LocalDateTime",
                     "Optional")}


class _JavaArith(ast.NodeTransformer):
    """Rewrite `/` and `%` BinOps to _jdiv/_jmod calls — Java numeric
    semantics (truncating int division, dividend-sign remainder)."""

    def visit_BinOp(self, node):   # noqa: N802
        self.generic_visit(node)
        if isinstance(node.op, ast.Div):
            fn = "_jdiv"
        elif isinstance(node.op, ast.Mod):
            fn = "_jmod"
        else:
            return node
        return ast.Call(func=ast.Name(id=fn, ctx=ast.Load()),
                        args=[node.left, node.right], keywords=[])

    def visit_AugAssign(self, node):  # noqa: N802
        # x /= y  and  x %= y  carry the same Java semantics
        self.generic_visit(node)
        if not isinstance(node.op, (ast.Div, ast.Mod)):
            return node
        fn = "_jdiv" if isinstance(node.op, ast.Div) else "_jmod"
        load = ast.parse(ast.unparse(node.target), mode="eval").body
        return ast.Assign(
            targets=[node.target],
            value=ast.Call(func=ast.Name(id=fn, ctx=ast.Load()),
                           args=[load, node.value], keywords=[]))


class _JStrLiterals(ast.NodeTransformer):
    """Rewrite string Constant nodes to ``_JS('...')`` so literals carry
    Java String semantics (concat coercion, .length(), .substring()...).
    JStr subclasses str, so dict keys / comparisons are unaffected."""

    def visit_Constant(self, node):  # noqa: N802
        if isinstance(node.value, str):
            return ast.Call(func=ast.Name(id="_JS", ctx=ast.Load()),
                            args=[node], keywords=[])
        return node


# zero-arg Java value/conversion methods valid on ANY receiver (painless
# autoboxes: `5.toString()`, `x.intValue()`); one-arg universal methods
# (equals/compareTo).  Lowered to dispatch helpers because Python ints
# and floats don't carry these attributes.
_JM_ZERO = {"toString", "intValue", "longValue", "doubleValue",
            "floatValue", "shortValue", "byteValue", "booleanValue"}
_JM_ONE = {"equals", "compareTo"}


class _JavaMethods(ast.NodeTransformer):
    def visit_Call(self, node):    # noqa: N802
        self.generic_visit(node)
        f = node.func
        if isinstance(f, ast.Attribute):
            # never rewrite STATIC calls (Integer.toString(v, 16)): the
            # receiver being a known class Name is the discriminator
            static_recv = (isinstance(f.value, ast.Name)
                           and f.value.id in _STATIC_NAMES)
            if not static_recv:
                if f.attr in _JM_ZERO and not node.args:
                    return ast.Call(
                        func=ast.Name(id=f"_jm_{f.attr}", ctx=ast.Load()),
                        args=[f.value], keywords=[])
                if f.attr in _JM_ONE and len(node.args) == 1:
                    return ast.Call(
                        func=ast.Name(id=f"_jm_{f.attr}", ctx=ast.Load()),
                        args=[f.value, node.args[0]], keywords=[])
        return node


class _JLambdas(ast.NodeTransformer):
    """Wrap every lambda literal in _jfn(...) so Java functional-interface
    method names work on stored lambdas (`Function f = x -> ...;
    f.apply(5)`, maps of lambdas).  JFunc stays plain-callable, so every
    existing consumer (streams, sort comparators) is unaffected."""

    def visit_Lambda(self, node):  # noqa: N802
        self.generic_visit(node)
        return ast.Call(func=ast.Name(id="_jfn", ctx=ast.Load()),
                        args=[node], keywords=[])


class CompiledScript:
    """Transpiled + validated + compiled Painless statements, executable
    per row.  Pickles by source (code objects recompile per worker)."""

    def __init__(self, source: str, params: dict | None = None):
        self.source = source
        self.params = dict(params or {})
        tree, regexes = parse(source)
        for node in ast.walk(tree):
            if nullsafe_underscore(node):   # _nsget is getattr: sandbox
                raise UnsupportedScriptError(
                    f"attribute {node.args[1].value!r} blocked")
        self.reads, self.writes = collect_ctx_paths(tree)
        # Painless string literals are Java Strings: '+' concatenates with
        # any operand ('count=' + 5 -> 'count=5').  Rewrite str constants to
        # JStr AFTER path collection (which pattern-matches raw Constants).
        tree = _JavaMethods().visit(tree)
        tree = _JStrLiterals().visit(tree)
        tree = _JavaArith().visit(tree)
        tree = _JLambdas().visit(tree)
        ast.fix_missing_locations(tree)
        self._rx_env = {
            f"_rx{kind}{i}": (_RxMatch(pat) if kind == "m"
                              else _JPattern(pat) if kind == "p"
                              else _RxFind(pat))
            for i, (kind, pat) in enumerate(regexes)}
        self._code = compile(tree, "<painless>", "exec")

    def __getstate__(self):
        return {"source": self.source, "params": self.params}

    def __setstate__(self, state):
        self.__init__(state["source"], state["params"])

    def run_row(self, row: dict) -> dict:
        """-> {path: new_value} for the fields the script assigned.  Paths
        the script did NOT touch on this row are absent from the result —
        callers must keep the prior value for them (the reference leaves
        untouched ctx fields intact).  Removed fields surface as None."""
        return self.run_row_ex(row)[0]

    def run_row_ex(self, row: dict) -> tuple[dict, set]:
        """-> (writes, nulled): ``nulled`` holds the paths the script
        EXPLICITLY assigned null (present-null in the reference's map —
        containsKey true), as opposed to ctx.remove'd (absent)."""
        writes: dict = {}
        cache: dict = {}
        # ONE namespace (globals == locals): user-defined functions resolve
        # names through their defining globals, so recursion and
        # helper-calls-helper need everything in the same dict
        env = dict(_GLOBALS)
        env.update({"ctx": _CtxNode(row, writes, cache),
                    "params": dict(self.params), **self._rx_env})
        exec(self._code, env)  # noqa: S102 (validated AST)
        for k, v in cache.items():
            # fold in-place list mutations (ctx.tags.add(..)) into writes;
            # _wrap copied, so row[k] still holds the original to diff against
            if k not in writes and v != row.get(k):
                writes[k] = v
        nulled = {k for k, v in writes.items() if v is None}

        def out(v):
            if v is _REMOVED:
                return None
            if isinstance(v, (JZonedDateTime, JInstant, JLocalDate,
                              JLocalDateTime, _JDuration)):
                # temporal ctx values serialize as ISO strings in the
                # document, matching ES's index-time rendering
                return str(v)
            if isinstance(v, JSet):
                # XContent renders a Set as a JSON array
                return JList(v)
            if isinstance(v, JStringBuilder):
                return str(v)
            return v
        return ({k: out(v) for k, v in writes.items()}, nulled)
