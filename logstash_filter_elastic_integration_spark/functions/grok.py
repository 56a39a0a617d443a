"""Grok pattern bank + compiler.

Re-implements, Spark-first, the behavior of the ES ``grok`` ingest processor
(reference contract: /root/reference/spec/integration/
elastic_integration_spec.rb:444-468 — typed captures like
``%{NUMBER:bytes:int}``; first-matching-pattern-wins across a pattern list;
no-match => per-row failure).  The reference executes a shaded joni
byte-regex per event under a watchdog (EventProcessorBuilder.java:224-225);
we instead compile the grok expression ONCE on the driver into an anchored
Python regex with mangled named groups, and execute it vectorized via
``pandas.Series.str.extract`` inside an Arrow-batched pandas UDF — a C-level
loop per batch, no per-row Python.

The pattern bank below is transcribed from the public grok-patterns
definitions that ship with Logstash/Elasticsearch (public knowledge); only
the subset needed by the reference's own test corpus plus common log
patterns is included.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from .lru import LRU

try:  # the `regex` module supports atomic groups (?>...) AND per-call
    # timeouts — both halves of the reference's joni + watchdog pairing
    # (EventProcessorBuilder.java:224-225).  Optional: plain `re` fallback.
    import regex as _regex_mod
except ImportError:  # pragma: no cover
    _regex_mod = None

# -- public grok pattern definitions (subset) --------------------------------
GROK_PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILLOCALPART": r"[a-zA-Z][a-zA-Z0-9_.+-=:]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "BASE10NUM": r"(?<![0-9.+-])(?>[+-]?(?:(?:[0-9]+(?:\.[0-9]+)?)|(?:\.[0-9]+)))",
    "NUMBER": r"(?:%{BASE10NUM})",
    "BASE16NUM": r"(?<![0-9A-Fa-f])(?:[+-]?(?:0x)?(?:[0-9A-Fa-f]+))",
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"(?>(?<!\\)(?>\"(?>\\.|[^\\\"]+)+\"|\"\"|(?>'(?>\\.|[^\\']+)+')|''|(?>`(?>\\.|[^\\`]+)+`)|``))",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": r"(?<![0-9])(?:(?:[0-1]?[0-9]{1,2}|2[0-4][0-9]|25[0-5])[.](?:[0-1]?[0-9]{1,2}|2[0-4][0-9]|25[0-5])[.](?:[0-1]?[0-9]{1,2}|2[0-4][0-9]|25[0-5])[.](?:[0-1]?[0-9]{1,2}|2[0-4][0-9]|25[0-5]))(?![0-9])",
    "IPV6": r"((([0-9A-Fa-f]{1,4}:){7}([0-9A-Fa-f]{1,4}|:))|(([0-9A-Fa-f]{1,4}:){6}(:[0-9A-Fa-f]{1,4}|((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3})|:))|(([0-9A-Fa-f]{1,4}:){5}(((:[0-9A-Fa-f]{1,4}){1,2})|:((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3})|:))|(([0-9A-Fa-f]{1,4}:){4}(((:[0-9A-Fa-f]{1,4}){1,3})|((:[0-9A-Fa-f]{1,4})?:((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}))|:))|(([0-9A-Fa-f]{1,4}:){3}(((:[0-9A-Fa-f]{1,4}){1,4})|((:[0-9A-Fa-f]{1,4}){0,2}:((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}))|:))|(([0-9A-Fa-f]{1,4}:){2}(((:[0-9A-Fa-f]{1,4}){1,5})|((:[0-9A-Fa-f]{1,4}){0,3}:((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}))|:))|(([0-9A-Fa-f]{1,4}:){1}(((:[0-9A-Fa-f]{1,4}){1,6})|((:[0-9A-Fa-f]{1,4}){0,4}:((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}))|:))|(:(((:[0-9A-Fa-f]{1,4}){1,7})|((:[0-9A-Fa-f]{1,4}){0,5}:((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}))|:)))(%.+)?",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*(\.?|\b)",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "UNIXPATH": r"(/[\w_%!$@:.,+~-]+)+",
    "PATH": r"(?:%{UNIXPATH})",
    "URIPROTO": r"[A-Za-z]([A-Za-z0-9+\-.]+)+",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "MONTH": r"\b(?:[Jj]an(?:uary|uar)?|[Ff]eb(?:ruary|ruar)?|[Mm](?:a|ä)?r(?:ch|z)?|[Aa]pr(?:il)?|[Mm]a(?:y|i)?|[Jj]un(?:e|i)?|[Jj]ul(?:y|i)?|[Aa]ug(?:ust)?|[Ss]ep(?:tember)?|[Oo](?:c|k)?t(?:ober)?|[Nn]ov(?:ember)?|[Dd]e(?:c|z)(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?>\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"(?!<[0-9])%{HOUR}:%{MINUTE}(?::%{SECOND})(?![0-9])",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "ISO8601_SECOND": r"(?:%{SECOND}|60)",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "DATE": r"%{DATE_US}|%{DATE_EU}",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[APMCE][SD]T|UTC|GMT)",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "QS": r"%{QUOTEDSTRING}",
    "LOGLEVEL": r"([Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo?(?:rmation)?|INFO?(?:RMATION)?|[Ww]arn?(?:ing)?|WARN?(?:ING)?|[Ee]rr?(?:or)?|ERR?(?:OR)?|[Cc]rit?(?:ical)?|CRIT?(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "COMBINEDAPACHELOG": r'%{IPORHOST:clientip} %{USER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] "(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" %{NUMBER:response} (?:%{NUMBER:bytes}|-) %{QS:referrer} %{QS:agent}',
    "JAVACLASS": r"(?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*",
    "JAVALOGMESSAGE": r"(.*)",
    # Tomcat log shape used by the reference's realistic scenario
    # (spec/integration/elastic_integration_spec.rb:1377-1455)
    "TOMCAT_DATESTAMP": r"20%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{HOUR}:?%{MINUTE}(?::?%{SECOND}) %{ISO8601_TIMEZONE}",
    "TOMCATLOG": r"%{TOMCAT_DATESTAMP:timestamp} \| %{LOGLEVEL:level} \| %{JAVACLASS:class} - %{JAVALOGMESSAGE:logmessage}",
    # httpd / syslog composites (legacy capture names)
    "HTTPDUSER": r"%{EMAILADDRESS}|%{USER}",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "COMMONAPACHELOG": r'%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} \[%{HTTPDATE:timestamp}\] "(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" %{NUMBER:response} (?:%{NUMBER:bytes}|-)',
}

# ECS-compatibility v1 overlay: same match shapes, ECS capture names —
# transcribed from the public logstash-patterns-core ``ecs-v1`` bank (the
# dataset the ES grok processor selects under ``ecs_compatibility: v1``).
# Bracketed capture paths ``[a][b]`` normalize to dotted ``a.b`` fields.
GROK_PATTERNS_ECS_V1 = {
    "HTTPD_COMMONLOG": r'%{IPORHOST:[source][address]} (?:-|%{HTTPDUSER:[apache][access][user][identity]}) (?:-|%{HTTPDUSER:[user][name]}) \[%{HTTPDATE:timestamp}\] "(?:%{WORD:[http][request][method]} %{NOTSPACE:[url][original]}(?: HTTP/%{NUMBER:[http][version]})?|%{DATA:rawrequest})" (?:-|%{INT:[http][response][status_code]:int}) (?:-|%{INT:[http][response][body][bytes]:int})',
    "HTTPD_COMBINEDLOG": r"%{HTTPD_COMMONLOG} %{QS:[http][request][referrer]} %{QS:[user_agent][original]}",
    "COMMONAPACHELOG": r"%{HTTPD_COMMONLOG}",
    "COMBINEDAPACHELOG": r"%{HTTPD_COMBINEDLOG}",
    "SYSLOGPROG": r"%{PROG:[process][name]}(?:\[%{POSINT:[process][pid]:int}\])?",
    "SYSLOGFACILITY": r"<%{NONNEGINT:[log][syslog][facility][code]:int}.%{NONNEGINT:[log][syslog][priority]:int}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:[host][hostname]} %{SYSLOGPROG}:",
}

_SYNTAX = re.compile(r"%\{(\w+)(?::([\w.@\[\]\-]+))?(?::(\w+))?\}")
# python re doesn't support atomic groups (?>...); rewrite as plain groups.
_ATOMIC = re.compile(r"\(\?>")

_TYPE_MAP = {"int": "long", "long": "long", "float": "double", "double": "double",
             "boolean": "boolean", "string": "string"}


@dataclass
class CompiledGrok:
    """One grok expression list compiled to ordered python regexes.

    ``fields``: capture field name -> grok type ('string'|'long'|'double'|
    'boolean').  ``regexes``: one compiled anchored-if-requested regex per
    source pattern; match semantics are *search* (unanchored) like the ES
    processor, first pattern that matches wins.
    """

    regexes: list[re.Pattern] = field(default_factory=list)
    fields: dict[str, str] = field(default_factory=dict)
    # per-regex: mangled group name -> field name
    group_maps: list[dict[str, str]] = field(default_factory=list)
    # expanded patterns WITH atomic groups `(?>` intact: java.util.regex
    # supports them, and they are the backtracking protection the reference
    # wraps a watchdog around (EventProcessorBuilder.java:224-225) — the JVM
    # lowering uses these; the python runtime uses the `regex` module (same
    # atomic-group semantics) when available, stripped `re` otherwise.
    java_patterns: list[str] = field(default_factory=list)
    # runtime engine patterns (regex module w/ atomic groups, or re)
    runtime: list = field(default_factory=list)
    # sentinel-wrapped python regexes for the vectorized fast path
    sentinels: list[re.Pattern] = field(default_factory=list)
    # per-pattern: can it catastrophically backtrack? (nested quantifiers)
    risky: list[bool] = field(default_factory=list)
    has_timeout: bool = False

    def extract(self, series, max_exec_ms: int = 1000,
                batch_budget_s: float | None = None):
        """Extraction over a pandas Series of strings, first-matching-
        pattern-wins per row (ES grok semantics).

        Returns (pandas.DataFrame[str columns], matched mask, interrupted
        mask).  One python-level pass per row (measured at or below
        Series.str.extract cost once group materialization is included, and
        it short-circuits multi-pattern lists per row instead of re-scanning
        the series per pattern).

        Watchdog (reference: EventProcessorBuilder.java:224-225, a joni
        MatcherWatchdog), risk-aware so the hot path stays vectorized:

        - patterns that CANNOT catastrophically backtrack (no quantified
          group containing a quantifier, checked at compile time) run
          through ``Series.str.extract`` with a sentinel whole-match group
          — one C-level scan per pattern, zero watchdog overhead;
        - risky patterns run per row through the `regex` engine (atomic
          groups intact, joni parity) with a hard per-call ``max_exec_ms``
          timeout; timed-out rows are marked *interrupted* and fail with
          the reference's watchdog message;
        - everything additionally respects a cooperative batch budget
          (50us/row, floor 2s): once exceeded — e.g. polynomial-but-not-
          exponential backtracking on the fast path — remaining rows are
          marked interrupted between chunks.
        """
        import numpy as np
        import pandas as pd

        n = len(series)
        fields = list(self.fields)
        cols = {f: np.full(n, None, dtype=object) for f in fields}
        matched = np.zeros(n, dtype=bool)
        match_idx = np.full(n, -1, dtype=np.int64)
        interrupted = np.zeros(n, dtype=bool)
        s = series.astype(object).where(series.notna(), None)
        valid = np.fromiter((isinstance(x, str) for x in s.to_numpy()),
                            dtype=bool, count=n)
        budget = (batch_budget_s if batch_budget_s is not None
                  else max(2.0, n * 50e-6))
        deadline = time.monotonic() + budget
        timeout_s = max_exec_ms / 1000.0
        CHUNK = 8192
        pos_index = np.arange(n)
        for pi in range(len(self.runtime)):
            todo = valid & ~matched & ~interrupted
            idxs = pos_index[todo]
            if len(idxs) == 0:
                break
            gmap = self.group_maps[pi]
            strict = self.risky[pi] and self.has_timeout
            vals = s.to_numpy()
            for start in range(0, len(idxs), CHUNK):
                chunk = idxs[start:start + CHUNK]
                if time.monotonic() > deadline:
                    # cooperative bail: unprocessed rows -> interrupted
                    interrupted[pos_index[valid & ~matched]] = True
                    break
                if strict:
                    rx = self.runtime[pi]
                    for i in chunk:
                        try:
                            m = rx.search(vals[i], timeout=timeout_s)
                        except TimeoutError:
                            interrupted[i] = True
                            continue
                        if m is not None:
                            matched[i] = True
                            match_idx[i] = pi
                            for g, fname in gmap.items():
                                v = m.group(g)
                                if v is not None:
                                    cols[fname][i] = v
                else:
                    sub = s.iloc[chunk]
                    ext = sub.str.extract(self.sentinels[pi], expand=True)
                    hit = ext["__m"].notna().to_numpy()
                    hit_idx = chunk[hit]
                    matched[hit_idx] = True
                    match_idx[hit_idx] = pi
                    for g, fname in gmap.items():
                        if g in ext.columns:
                            gv = ext[g].to_numpy(dtype=object)[hit]
                            present = pd.notna(gv)
                            cols[fname][hit_idx[present]] = gv[present]
        out = pd.DataFrame(cols, index=series.index, columns=fields,
                           dtype=object)
        return (out, pd.Series(matched, index=series.index),
                pd.Series(interrupted, index=series.index),
                pd.Series(match_idx, index=series.index))


def has_nested_quantifier(pattern: str) -> bool:
    """Compile-time backtracking-risk check: True when a group whose body
    contains a quantifier is itself quantified by an UNBOUNDED quantifier
    (+ * {) AND the group's first element does not anchor each iteration.

    A repeated group whose body STARTS with one required, unquantified
    atom (literal/escape/char-class) — e.g. URIPATH's ``(?:/[...]*)+`` —
    consumes that anchor every iteration, so backtracking is at worst
    polynomial (the cooperative batch deadline covers that); the
    exponential shapes ((a+)+, (a?)*, (x|y+)*) have a quantified or
    alternated first position.  False positives are safe — they just take
    the per-row watchdog path."""
    n = len(pattern)
    # frame: [contains_quantifier, first_atom_kind, first_atom_quantified,
    #         top_level_alternation, element_count]
    frames = [[False, None, False, False, 0]]
    prev = ""
    i = 0

    def note_atom(kind: str):
        fr = frames[-1]
        if fr[4] == 0:
            fr[1] = kind
        fr[4] += 1

    def note_quant():
        fr = frames[-1]
        fr[0] = True
        if fr[4] == 1 and prev_atom_was_first[0]:
            fr[2] = True

    prev_atom_was_first = [False]
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            prev_atom_was_first[0] = frames[-1][4] == 0
            note_atom("atom")
            prev = "x"
            i += 2
            continue
        if ch == "[":
            prev_atom_was_first[0] = frames[-1][4] == 0
            note_atom("atom")
            i += 1
            if i < n and pattern[i] == "]":
                i += 1
            while i < n and pattern[i] != "]":
                if pattern[i] == "\\":
                    i += 1
                i += 1
            prev = "x"
        elif ch == "(":
            prev_atom_was_first[0] = frames[-1][4] == 0
            note_atom("group")
            frames.append([False, None, False, False, 0])
            prev = "("
            # skip group markers ((?:  (?P<name>  (?=  (?!  …) so the '?'
            # is not mistaken for a quantifier
            if i + 1 < n and pattern[i + 1] == "?":
                if i + 2 < n and pattern[i + 2] == ":":
                    i += 2
                elif i + 2 < n and pattern[i + 2] == "P":
                    j = pattern.find(">", i)
                    i = j if j != -1 else i + 2
                else:
                    i += 2
        elif ch == ")":
            fr = frames.pop() if len(frames) > 1 else [False, None, False,
                                                       False, 0]
            nxt = pattern[i + 1] if i + 1 < n else ""
            unanchored = (fr[3] or fr[1] != "atom" or fr[2])
            if fr[0] and nxt != "" and nxt in "+*{" and unanchored:
                return True
            if fr[0] and frames:
                frames[-1][0] = True
            prev = ")"
        elif ch == "|":
            frames[-1][3] = True
            frames[-1][4] = 0  # next branch starts fresh
            prev = "|"
        elif ch in "+*{" or (ch == "?" and prev not in ("(", "")):
            note_quant()
            prev = ch
        else:
            if ch not in "^$?":
                prev_atom_was_first[0] = frames[-1][4] == 0
                note_atom("atom")
            prev = ch
        i += 1
    return False


class GrokCompiler:
    def __init__(self, extra_patterns: dict[str, str] | None = None,
                 ecs_compatibility: str = "disabled"):
        if ecs_compatibility not in ("disabled", "v1"):
            # ES GrokProcessor factory validation
            raise ValueError(
                f"[ecs_compatibility] unsupported mode [{ecs_compatibility}]")
        self.bank = dict(GROK_PATTERNS)
        if ecs_compatibility == "v1":
            self.bank.update(GROK_PATTERNS_ECS_V1)
        if extra_patterns:
            self.bank.update(extra_patterns)

    def expand(self, pattern: str, captures: dict[str, str],
               group_map: dict[str, str], depth: int = 0) -> str:
        if depth > 20:
            raise ValueError(f"grok pattern recursion too deep: {pattern!r}")

        def repl(m: re.Match) -> str:
            name, capture, gtype = m.group(1), m.group(2), m.group(3)
            if name not in self.bank:
                raise ValueError(f"Unknown grok pattern %{{{name}}}")
            inner = self.expand(self.bank[name], captures, group_map, depth + 1)
            if capture and capture.startswith("["):
                # ecs-v1 bracket path [a][b] -> dotted a.b (the ES field
                # reference syntax; flat-model dotted columns)
                capture = ".".join(re.findall(r"\[([^\]]+)\]", capture))
            if capture:
                gname = f"g{len(group_map)}"
                group_map[gname] = capture
                captures.setdefault(capture, _TYPE_MAP.get(gtype or "string", "string"))
                return f"(?P<{gname}>{inner})"
            return f"(?:{inner})"

        return _SYNTAX.sub(repl, pattern)

    def compile(self, patterns: list[str] | str) -> CompiledGrok:
        if isinstance(patterns, str):
            patterns = [patterns]
        out = CompiledGrok()
        for p in patterns:
            gmap: dict[str, str] = {}
            expanded = self.expand(p, out.fields, gmap)
            out.java_patterns.append(expanded)
            python_rx = _ATOMIC.sub("(?:", expanded)
            out.regexes.append(re.compile(python_rx))
            out.sentinels.append(re.compile(f"(?P<__m>{python_rx})"))
            out.risky.append(has_nested_quantifier(python_rx))
            if _regex_mod is not None:
                # atomic groups intact: possessive semantics = structural
                # backtracking protection, matching the joni engine
                out.runtime.append(_regex_mod.compile(expanded))
                out.has_timeout = True
            else:
                out.runtime.append(out.regexes[-1])
            out.group_maps.append(gmap)
        return out


# ---------------------------------------------------------------------------
# Worker-process compile cache.
#
# A pandas-UDF closure that captures a CompiledGrok pickles its re/regex
# Pattern objects, and Pattern.__reduce__ RE-COMPILES on every unpickle —
# i.e. once per Spark TASK.  At local[32] with ~200 scan tasks that is
# ~200 redundant compiles of multi-KB expanded patterns per action (and on
# a real cluster, once per task forever).  Executors reuse worker
# processes, so a module-level cache keyed by the pattern/bank content
# compiles once per WORKER instead: the closure captures only strings.
# LRU-capped: a reloaded pipeline with edited patterns adds a key per
# edit, on the driver and on every worker.
# ---------------------------------------------------------------------------
_COMPILE_CACHE = LRU(128)


def cached_compile(patterns: tuple[str, ...],
                   extra_items: tuple[tuple[str, str], ...] = ()) -> CompiledGrok:
    """Process-level memoized GrokCompiler().compile() — see note above."""
    key = (patterns, extra_items)
    hit = _COMPILE_CACHE.get(key)
    if hit is None:
        hit = _COMPILE_CACHE[key] = GrokCompiler(
            extra_patterns=dict(extra_items) or None).compile(list(patterns))
    return hit
