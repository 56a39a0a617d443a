"""Parse/extract processors: grok, dissect, kv, csv, json, redact.

Execution strategy (SURVEY.md §2.3):
- dissect, redact, kv, csv, json: pure JVM Column expressions always.
- grok: two physical paths chosen at compile time —
  (a) JVM lowering: the expanded pattern is Java-regex compatible, so each
      capture becomes ``F.regexp_extract`` (match gate via ``rlike``) —
      no Python at all; used for single-pattern groks (the common case).
  (b) vectorized pandas UDF (Arrow-batched ``Series.str.extract``) for
      multi-pattern grok lists — ONE UDF call per chain, never per row.

Reference contracts: grok spec/integration/elastic_integration_spec.rb:
444-468 + failure golden :1222-1248; dissect :303-333; kv :567-590;
csv :225-250; json :543-565; redact :640-666.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.dissect import compile_dissect
from ..functions.grok import GrokCompiler
from ..plans.document import Step, fcol, field_type, guarded
from .common import template_column

_SPARK_TYPE = {"string": T.StringType(), "long": T.LongType(),
               "double": T.DoubleType(), "boolean": T.BooleanType()}


def _noncapture(pattern: str) -> str:
    """Turn every unnamed capturing ``(`` into ``(?:`` so that named groups
    are the only captures (stable group indexing for regexp_extract)."""
    out = []
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            out.append(pattern[i:i + 2])
            i += 2
            continue
        if c == "(" and (i + 1 >= n or pattern[i + 1] != "?"):
            out.append("(?:")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _to_java_regex(py_regex: str) -> str:
    return py_regex.replace("(?P<", "(?<")


_NAMED_GROUP = re.compile(r"\(\?P?<([A-Za-z][A-Za-z0-9]*)>")


def _group_indexes(regex: str) -> dict[str, int]:
    """group name -> 1-based capture index, assuming ALL captures are named
    (after _noncapture)."""
    return {m.group(1): i + 1 for i, m in enumerate(_NAMED_GROUP.finditer(regex))}


def _grok_compiler(spec):
    return GrokCompiler(
        extra_patterns=spec.config.get("pattern_definitions"),
        ecs_compatibility=spec.config.get("ecs_compatibility", "disabled"))


# constructs that keep a grok on the Python engine: numbered backrefs and
# \k<name> refs (the _noncapture group renumbering would re-bind them).
# Atomic groups / possessive quantifiers are java.util.regex-native AND
# backtracking-safe, so they lower fine.
_RISKY_GROK = re.compile(r"\\[1-9]|\\k<")


def p_grok(df, spec, ctx):
    """Physical engine choice (config ``engine``):
    - ``auto`` (default): single-pattern groks with no backrefs and no
      explicit watchdog request lower to the JVM path (zero Python in the
      plan; measured 0.78s vs 1.13s per 1M rows min-of-3 warm on the
      flagship pattern, local[32]); multi-pattern / backref /
      watchdog-configured groks run the watchdogged pandas engine.
    - ``pandas``: ONE Arrow-batched pandas UDF per grok processor running
      ``Series.str.extract`` — handles any number of patterns, and the
      per-row watchdog interrupts catastrophic backtracking (the
      reference's MatcherWatchdog, EventProcessorBuilder.java:224-225).
    - ``jvm``: force rlike + regexp_extract (or the packed
      single-execution variant for anchored patterns); single-pattern only.
    """
    cfg = spec.config
    f_name = cfg["field"]
    patterns = cfg.get("patterns") or [cfg["pattern"]]
    ignore_missing = cfg.get("ignore_missing", False)
    engine = cfg.get("engine", "auto")
    active = ctx.active(df, spec)

    compiler = _grok_compiler(spec)
    compiled = compiler.compile(patterns)
    if engine == "auto":
        # JVM path has no interrupt hook: an explicit watchdog request
        # keeps the Python engine (the reference's MatcherWatchdog)
        engine = ("jvm" if len(compiled.regexes) == 1
                  and "watchdog_max_exec_ms" not in cfg
                  and not _RISKY_GROK.search(compiled.java_patterns[0])
                  else "pandas")

    if f_name not in df.columns:
        if not ignore_missing:
            df = ctx.fail(
                df, active, spec,
                "java.lang.IllegalArgumentException: field "
                f"[{f_name}] not present as part of path [{f_name}]")
        return df
    src = fcol(f_name).cast("string")
    interrupted = None

    if engine == "jvm" and len(compiled.regexes) == 1:
        # -- JVM lowering ---------------------------------------------------
        # java_patterns keep atomic groups `(?>` (java.util.regex supports
        # them) — the backtracking protection the reference's grok watchdog
        # guards (EventProcessorBuilder.java:224-225)
        nc = _noncapture(compiled.java_patterns[0])
        # "(?P<" starts with "(?" so _noncapture preserved it; convert to
        # java named groups.
        java_rx = _to_java_regex(nc)
        gidx = _group_indexes(nc)
        groups = list(compiled.group_maps[0].items())  # (gname, fieldname)
        gsrc = F.when(active, src)  # inactive rows never run the regex
        # packed fast path: ONE regexp_replace rewrites the whole string
        # to all captures \x01-joined, with a LEADING \x01 SENTINEL — one
        # regex execution per row TOTAL (r6; was rlike + replace = 2 for
        # matching rows): a non-match leaves the source unchanged, and a
        # source without \x01 can never start with the sentinel, so
        # startswith('\x01') IS the match test.  Unanchored patterns
        # (ES search semantics) get group-local-DOTALL wrappers
        # \A(?s:.*?) ... (?s:.*)\z so the single match consumes the whole
        # string without changing `.` semantics INSIDE the user pattern.
        #
        # MATERIALIZATION STAGING: the regexp_replace lands in ONE
        # __grok_packed_src column.  Spark >= 3.3 (SPARK-36718) keeps it
        # staged: CollapseProject refuses to inline a non-cheap producer
        # expression (regexp_replace) that downstream projections
        # reference more than once, so the regex tree exists exactly once
        # in the physical plan and runs once per row — without this the
        # regex would re-execute per downstream reference
        # (convert/fingerprint/route conditions...), a measured 5x
        # flagship wall blowup at 8M rows.  Earlier rounds forced the
        # staging with a nondeterministic rand() guard; Spark 4.1
        # constant-folds that guard away (plan showed no rand), proving
        # the CollapseProject rule is what actually protects the plan.
        # tests/test_plan_shape.py pins single-execution (the only RLIKE
        # left sits behind the lazily-evaluated contains('\x01') branch).
        pat = compiled.java_patterns[0]
        if groups:
            refs = "\x01" + "\x01".join("${" + g + "}" for g, _ in groups)
            pre = "" if pat.startswith("^") else r"\A(?s:.*?)"
            # a trailing $ only anchors when not escaped (\$ is a literal)
            m_end = re.search(r"(\\*)\$\Z", pat)
            anchored_end = bool(m_end) and len(m_end.group(1)) % 2 == 0
            post = "" if anchored_end else r"(?s:.*)\z"
            df = df.withColumn(
                "__grok_packed_src",
                F.regexp_replace(gsrc, pre + java_rx + post, refs))
            pk = fcol("__grok_packed_src")
            # a source row CONTAINING the \x01 separator would mis-split
            # the packed column; such rows (vanishingly rare in real
            # text) take an rlike + per-group regexp_extract branch
            # instead — CASE evaluates lazily, so ordinary rows never pay
            # that cost and \x01 rows are still exact.  The leading ""
            # element keeps both branches aligned with the sentinel split.
            extracted = F.array(F.lit(""), *[
                F.regexp_extract(gsrc, java_rx, gidx[g])
                for g, _ in groups])
            has_sep = gsrc.contains("\x01")
            matched_src = F.when(has_sep, gsrc.rlike(java_rx)) \
                .otherwise(pk.startswith("\x01"))
            raw_parts = F.when(has_sep, extracted) \
                .otherwise(F.split(pk, "\x01", -1))
        else:
            matched_src = gsrc.rlike(java_rx)
            raw_parts = F.array(F.lit(""))
        # stage 1 — the parts land in ONE array column, multi-referenced
        # downstream, so CollapseProject keeps the stage (see note above)
        df = df.withColumn("__grok_parts", F.when(matched_src, raw_parts))
        st = Step(df)
        pcol = fcol("__grok_parts")
        matched = pcol.isNotNull()

        # stage 2 — typed captures from cheap attribute accesses (element
        # 1 is the "" before the leading sentinel; captures start at 2)
        updates, dtypes = {}, {}
        for i, (g, fname) in enumerate(groups):
            raw = F.element_at(pcol, i + 2)
            v = F.when(raw != "", raw)
            gtype = compiled.fields[fname]
            if gtype != "string":
                v = v.cast(_SPARK_TYPE[gtype])
            updates[fname] = v
            dtypes[fname] = _SPARK_TYPE[gtype]
        if cfg.get("trace_match", False):
            # single pattern: the matching index is always 0
            updates["_ingest._grok_match_index"] = F.lit("0")
            dtypes["_ingest._grok_match_index"] = T.StringType()
        st.guarded(active & matched, updates, dtypes)
    else:
        # -- vectorized pandas UDF path ------------------------------------
        out_fields = list(compiled.fields)
        schema = T.StructType(
            [T.StructField(f, T.StringType()) for f in out_fields]
            + [T.StructField("__matched", T.BooleanType()),
               T.StructField("__interrupted", T.BooleanType()),
               T.StructField("__midx", T.LongType())])
        max_exec_ms = int(cfg.get("watchdog_max_exec_ms", 1000))

        # capture STRINGS, not the CompiledGrok: pickled Pattern objects
        # recompile on every unpickle (= every task).  cached_compile
        # compiles once per worker process instead (functions/grok.py).
        patterns_key = tuple(patterns)
        extra_items = tuple(sorted(
            (cfg.get("pattern_definitions") or {}).items()))

        def extract(series):
            import pandas as pd
            from ..functions.grok import cached_compile
            vals, matched, interrupted, midx = cached_compile(
                patterns_key, extra_items).extract(
                series, max_exec_ms=max_exec_ms)
            vals = vals.where(pd.notna(vals), None)
            vals["__matched"] = matched
            vals["__interrupted"] = interrupted
            vals["__midx"] = midx
            return vals

        udf = F.pandas_udf(extract, schema)
        # gate the UDF INPUT, not just the output: ArrowEvalPython always
        # evaluates the UDF for every row, so rows excluded by the
        # processor's `if` condition would still ship their text to Python
        # and get regex-scanned.  Nulling the input for inactive rows keeps
        # the Arrow transfer and the Python-side work proportional to the
        # rows the processor actually applies to (extract() skips
        # non-strings via its valid mask).
        # the UDF result is read by every capture: staged once
        st = Step(df.withColumn("__grok", udf(F.when(active, src))))
        matched = F.coalesce(fcol("__grok")["__matched"], F.lit(False))
        interrupted = F.coalesce(fcol("__grok")["__interrupted"],
                                 F.lit(False))
        updates, dtypes = {}, {}
        for fname in out_fields:
            gtype = compiled.fields[fname]
            val = fcol("__grok")[fname]
            if gtype != "string":
                val = val.cast(_SPARK_TYPE[gtype])
            updates[fname] = val
            dtypes[fname] = _SPARK_TYPE[gtype]
        if cfg.get("trace_match", False):
            # ES trace_match: record WHICH pattern matched (string index,
            # GrokProcessor stores it under _ingest._grok_match_index)
            updates["_ingest._grok_match_index"] = \
                fcol("__grok")["__midx"].cast("string")
            dtypes["_ingest._grok_match_index"] = T.StringType()
        st.guarded(active & matched, updates, dtypes)
        # watchdog parity (EventProcessorBuilder.java:224-225): interrupted
        # rows fail with the reference's MatcherWatchdog message, distinct
        # from a plain no-match
        ctx.fail(st, active & interrupted, spec,
                 "grok pattern matching was interrupted after "
                 f"[{max_exec_ms}] ms")

    if not ignore_missing:
        ctx.fail(
            st, active & src.isNull(), spec,
            "java.lang.IllegalArgumentException: field "
            f"[{f_name}] not present as part of path [{f_name}]")
    no_match = active & src.isNotNull() & ~matched
    if interrupted is not None:
        no_match = no_match & ~interrupted
    ctx.fail(st, no_match, spec,
             "Provided Grok expressions do not match field value: ["
             + f_name + "]")
    st.drop("__grok", "__grok_parts", "__grok_packed_src")
    return st.done()


def p_dissect(df, spec, ctx):
    cfg = spec.config
    f_name = cfg["field"]
    compiled = compile_dissect(cfg["pattern"], cfg.get("append_separator", ""))
    ignore_missing = cfg.get("ignore_missing", False)
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not ignore_missing:
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    src = fcol(f_name).cast("string")
    java_rx = _to_java_regex(compiled.regex)
    gidx = _group_indexes(compiled.regex)
    matched = src.rlike(java_rx)
    updates = {}
    for g, fname in compiled.group_map.items():
        updates[fname] = F.regexp_extract(src, java_rx, gidx[g])
    for fname, groups in compiled.appends.items():
        parts = [F.regexp_extract(src, java_rx, gidx[g]) for g in groups]
        updates[fname] = F.concat_ws(compiled.append_separator, *parts)
    refs = sorted(set(compiled.ref_keys) & set(compiled.ref_vals))
    if refs:
        # %{*k}/%{&k}: data-driven field names -> the _extras map
        # side-channel (same lift-on-read contract as kv dynamic keys)
        keys = F.array(*[F.regexp_extract(src, java_rx,
                                          gidx[compiled.ref_keys[n]])
                         for n in refs])
        vals = F.array(*[F.regexp_extract(src, java_rx,
                                          gidx[compiled.ref_vals[n]])
                         for n in refs])
        new_map = F.map_from_arrays(keys, vals)
        if "_extras" in df.columns:
            old = fcol("_extras")
            merged = F.map_concat(
                F.map_filter(old, lambda k, _:
                             ~F.map_contains_key(new_map, k)), new_map)
            new_map = F.when(old.isNotNull(), merged).otherwise(new_map)
        updates["_extras"] = new_map
    st = Step(df)
    st.guarded(active & matched, updates,
               {f: T.StringType() for f in updates if f != "_extras"})
    if not ignore_missing:
        ctx.fail(st, active & src.isNull(), spec,
                 f"field [{f_name}] is null, cannot process it.")
    ctx.fail(st, active & src.isNotNull() & ~matched, spec,
             f"Unable to find match for dissect pattern: {cfg['pattern']} "
             f"against source: [{f_name}]")
    return st.done()


def p_kv(df, spec, ctx):
    """``str_to_map`` (JVM).  ``include_keys`` lifts those keys to flat
    root fields like ES does.  WITHOUT include_keys the per-row-dynamic
    keys land in the shared ``_extras`` map side-channel (keys scoped by
    ``target_field``/``prefix``) — field resolution falls back to
    ``try_element_at(_extras, name)`` (plans/document.py), so downstream
    processors and painless conditions read dynamic keys exactly like
    static fields: the flat-model answer to the reference's fully dynamic
    document (IngestDuplexMarshaller.java:144-152)."""
    cfg = spec.config
    f_name = cfg["field"]
    fs, vs = cfg["field_split"], cfg["value_split"]
    include_keys = cfg.get("include_keys")
    prefix = cfg.get("prefix", "")
    target = cfg.get("target_field")
    active = ctx.active(df, spec)
    ignore_missing = cfg.get("ignore_missing", False)
    if f_name not in df.columns:
        if not ignore_missing:
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    src = fcol(f_name).cast("string")
    m = F.str_to_map(src, F.lit(fs), F.lit(vs))
    # ES option parity (KeyValueProcessor): trim_key/trim_value are
    # char-SETS trimmed from both ends; strip_brackets removes surrounding
    # ()<>[] and quotes; exclude_keys drops keys after trimming.  All stay
    # JVM-side (btrim/map_filter/transform_*).
    if cfg.get("trim_key"):
        m = F.transform_keys(
            m, lambda k, _: F.btrim(k, F.lit(cfg["trim_key"])))
    if cfg.get("trim_value"):
        m = F.transform_values(
            m, lambda _, v: F.btrim(v, F.lit(cfg["trim_value"])))
    if cfg.get("strip_brackets", False):
        # ES strips exactly ONE leading and ONE trailing bracket/quote
        # (anchored regex, not a char-set trim): ((x)) -> (x)
        m = F.transform_values(
            m, lambda _, v: F.regexp_replace(
                v, '(^[(\\[<"\'])|([)\\]>"\']$)', ""))
    if cfg.get("exclude_keys"):
        m = F.map_filter(
            m, lambda k, _: ~k.isin(*cfg["exclude_keys"]))
    if include_keys:
        updates = {f"{target + '.' if target else ''}{prefix}{k}":
                   F.element_at(m, k) for k in include_keys}
        dtypes = {f: T.StringType() for f in updates}
    else:
        keyfix = (f"{target}." if target else "") + prefix
        new_map = (F.transform_keys(
            m, lambda k, _: F.concat(F.lit(keyfix), k)) if keyfix else m)
        if "_extras" in df.columns:
            old = fcol("_extras")
            # merge, new keys win; map_concat alone throws on dup keys
            merged = F.map_concat(
                F.map_filter(old, lambda k, _:
                             ~F.map_contains_key(new_map, k)), new_map)
            new_map = F.when(old.isNotNull(), merged).otherwise(new_map)
        updates = {"_extras": new_map}
        dtypes = None
    st = Step(df)
    st.guarded(active & src.isNotNull(), updates, dtypes)
    if not ignore_missing:
        ctx.fail(st, active & src.isNull(), spec,
                 f"field [{f_name}] is null, cannot extract key-value pairs.")
    return st.done()


def p_csv(df, spec, ctx):
    """``F.from_csv`` (JVM, quote-aware)."""
    cfg = spec.config
    f_name = cfg["field"]
    targets = cfg["target_fields"]
    sep = cfg.get("separator", ",")
    quote = cfg.get("quote", '"')
    trim = cfg.get("trim", False)
    ignore_missing = cfg.get("ignore_missing", False)
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not ignore_missing:
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    src = fcol(f_name).cast("string")
    ddl = ", ".join(f"c{i} STRING" for i in range(len(targets)))
    parsed = F.from_csv(src, F.lit(ddl), {"sep": sep, "quote": quote,
                                          "ignoreLeadingWhiteSpace": str(trim).lower(),
                                          "ignoreTrailingWhiteSpace": str(trim).lower()})
    empty_value = cfg.get("empty_value")

    def cell(i):
        c = parsed[f"c{i}"]
        if empty_value is not None:  # ES: fill empty fields when provided
            return F.when(c.isNull() | (c == ""), F.lit(empty_value)) \
                .otherwise(c)
        return c

    updates = {t: cell(i) for i, t in enumerate(targets)}
    st = Step(df)
    st.guarded(active & src.isNotNull(), updates,
               None if empty_value is not None
               else {t: T.StringType() for t in targets})
    if not ignore_missing:
        ctx.fail(st, active & src.isNull(), spec,
                 f"field [{f_name}] is null, cannot process it.")
    return st.done()


def p_json(df, spec, ctx):
    """``F.from_json`` when a schema is declared (config extension
    ``schema``: DDL string), else Spark 4 VariantType via ``F.parse_json``
    (dynamic shape, still JVM-side; access via ``variant_get``)."""
    cfg = spec.config
    f_name = cfg["field"]
    target = cfg.get("target_field", f_name)
    ignore_missing = cfg.get("ignore_missing", False)
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not ignore_missing:
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    src = fcol(f_name).cast("string")
    add_to_root = cfg.get("add_to_root", False)
    strict = cfg.get("strict_json_parsing", True)
    allow_dup = cfg.get("allow_duplicate_keys", False)
    if allow_dup and df.sparkSession.conf.get(
            "spark.sql.variant.allowDuplicateKeys", "false") != "true":
        # ES allow_duplicate_keys=true: last duplicate wins.  Jackson
        # (from_json) natively last-wins; the variant parser rejects
        # duplicates unless the session conf says otherwise.  Engine
        # sessions set the conf statically at build (session.py), so
        # this compile-time mutation only fires on foreign sessions —
        # r5 ADVICE: a mid-session conf flip silently changed other
        # pipelines' behavior; the strict duplicate check below is
        # conf-independent either way.
        df.sparkSession.conf.set(
            "spark.sql.variant.allowDuplicateKeys", "true")
    # Spark's json parser is natively LENIENT exactly like ES's
    # strict_json_parsing=false (first value parsed, trailing characters
    # ignored: "123 junk" -> 123 — verified against try_parse_json and
    # from_json).  The ES strict DEFAULT must instead reject trailing
    # junk, so enforce full consumption JVM-side: the trimmed input must
    # END where its first value ends (scalar = anchored full-match;
    # object/array = closing bracket is the last char — a trailing-junk
    # tail that itself ends in the matching bracket is the one
    # undetectable corner, documented).
    strict_ok = None
    if strict:
        t = F.trim(src)
        scalar_full = t.rlike(
            r'^(-?\d+(\.\d+)?([eE][+-]?\d+)?|"([^"\\]|\\.)*"'
            r"|true|false|null)$")
        strict_ok = (scalar_full
                     | (t.startswith("{") & t.endswith("}"))
                     | (t.startswith("[") & t.endswith("]")))
    if "schema" in cfg:
        parsed = F.from_json(src, cfg["schema"])
        ok = parsed.isNotNull()
    else:
        parsed = F.try_parse_json(src)
        ok = parsed.isNotNull()
        if not allow_dup and strict:
            # ES default allow_duplicate_keys=false fails the doc on a
            # duplicate key (JsonProcessor -> XContent strict dup check).
            # try_parse_json already rejects duplicates when the session
            # conf spark.sql.variant.allowDuplicateKeys is false, but an
            # allow_duplicate_keys:true pipeline elsewhere in the session
            # flips that conf — so detect explicitly: duplicate keys
            # collapse when the parsed variant is re-serialized, so the
            # key-token counts of source vs round-trip differ.  A quoted
            # string followed by ':' is a key token iff the text is one
            # valid JSON value, which the strict full-consumption check
            # above guarantees (string VALUES are followed by ,}]).
            # Exact for nested dups and colon/escape-laden values
            # (tests/test_parse.py::test_json_duplicate_keys).  Lenient
            # mode (strict_json_parsing=false) skips this — trailing
            # junk would miscount — and relies on the conf state
            # (README Known divergences).
            key_rx = F.lit(r'"([^"\\]|\\.)*"\s*:')
            no_dup = (F.regexp_count(src, key_rx)
                      == F.regexp_count(F.to_json(parsed), key_rx))
            ok = ok & no_dup
    if strict_ok is not None:
        ok = ok & strict_ok
    st = Step(df)
    ctx.fail(st, active & src.isNotNull() & ~ok, spec,
             f"Unable to parse field [{f_name}] as JSON")
    if add_to_root:
        # ES add_to_root: merge the object's top-level keys into the doc
        # root (default replace strategy — new keys win).  With a declared
        # schema each struct field becomes a root column; without one the
        # dynamic keys land in _extras (same contract as kv dynamic keys).
        conflict = cfg.get("add_to_root_conflict_strategy", "replace")
        if conflict not in ("replace", "merge"):
            raise ValueError(
                f"conflict strategy [{conflict}] not supported, cannot "
                f"convert field [add_to_root_conflict_strategy]")
        if "schema" in cfg:
            from pyspark.sql import types as T
            sch = T._parse_datatype_string(cfg["schema"])
            if not isinstance(sch, T.StructType):
                raise ValueError("json add_to_root needs an object schema")
            updates = {}
            for sf in sch.fields:
                new_v = parsed[sf.name]
                if (conflict == "merge" and sf.name in df.columns
                        and isinstance(sf.dataType, T.StructType)
                        and isinstance(field_type(df, sf.name),
                                       T.StructType)):
                    # ES recursiveMerge: map⊕map merges per-key (new wins
                    # per present key); from_json yields null for absent
                    # fields, so new-non-null-else-old is the per-field
                    # presence test
                    old_v = fcol(sf.name)
                    inner = [F.coalesce(new_v[f2.name],
                                        old_v[f2.name]).alias(f2.name)
                             for f2 in sf.dataType.fields]
                    updates[sf.name] = F.when(
                        old_v.isNotNull() & new_v.isNotNull(),
                        F.struct(*inner)).otherwise(
                            F.coalesce(new_v, old_v))
                else:
                    updates[sf.name] = new_v
            st.guarded(active & ok, updates)
        else:
            new_map = F.from_json(src, "map<string,string>")
            root_ok = ok & new_map.isNotNull()
            if "_extras" in df.columns:
                old = fcol("_extras")
                if conflict == "merge":
                    # recursiveMerge on the dynamic map: keys present in
                    # BOTH whose old+new values are themselves json
                    # objects merge per inner key (new wins); every other
                    # conflict takes the new value — all JVM-side
                    def _merge_val(k, v):
                        old_v = F.try_element_at(old, k)
                        om = F.from_json(old_v, "map<string,string>")
                        nm = F.from_json(v, "map<string,string>")
                        inner = F.map_concat(
                            F.map_filter(om, lambda k2, _:
                                         ~F.map_contains_key(nm, k2)), nm)
                        return F.when(
                            om.isNotNull() & nm.isNotNull(),
                            F.to_json(inner)).otherwise(v)
                    new_map = F.transform_values(new_map, _merge_val)
                merged = F.map_concat(
                    F.map_filter(old, lambda k, _:
                                 ~F.map_contains_key(new_map, k)), new_map)
                new_map = F.when(old.isNotNull(), merged).otherwise(new_map)
            st.guarded(active & root_ok, {"_extras": new_map})
    else:
        st.guarded(active & ok, {target: parsed})
    if not ignore_missing:
        ctx.fail(st, active & src.isNull(), spec,
                 f"field [{f_name}] is null, cannot parse JSON.")
    return st.done()


def p_redact(df, spec, ctx):
    """Grok-pattern-driven masking (x-pack redact bridged at
    EventProcessorBuilder.java:117).  Each pattern's whole match is replaced
    by ``prefix + capture_name + suffix`` — a chain of JVM
    ``regexp_replace`` calls, one per pattern."""
    cfg = spec.config
    f_name = cfg["field"]
    prefix = cfg.get("prefix", "<")
    suffix = cfg.get("suffix", ">")
    ignore_missing = cfg.get("ignore_missing", False)
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not ignore_missing:
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    compiler = _grok_compiler(spec)
    col = fcol(f_name).cast("string")
    for pat in cfg["patterns"]:
        compiled = compiler.compile([pat])
        gmap = compiled.group_maps[0]
        if len(gmap) != 1:
            raise ValueError(f"redact pattern must have exactly one capture: {pat}")
        label = next(iter(gmap.values()))
        java_rx = _to_java_regex(_noncapture(compiled.java_patterns[0]))
        replacement = (prefix + label + suffix).replace("\\", "\\\\").replace("$", "\\$")
        col = F.regexp_replace(col, java_rx, replacement)
    updates = {f_name: col}
    if cfg.get("trace_redact", False):
        # ES 8.16 trace_redact: flag `_ingest._redact._is_redacted` = true
        # iff any pattern fired (field only written when a redaction
        # happened — untouched rows keep it missing/null)
        orig = fcol(f_name).cast("string")
        flag = "_ingest._redact._is_redacted"
        prev = (fcol(flag) if flag in df.columns
                else F.lit(None).cast("boolean"))
        updates[flag] = F.when(col != orig, F.lit(True)).otherwise(prev)
    return guarded(df, active & fcol(f_name).isNotNull(), updates)
