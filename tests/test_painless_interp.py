"""Painless statement-interpreter engine (loops/locals/compound updates):
transpiler, sandbox, and the script processor's per-row failure contract."""

import pytest

from tests.conftest import run_one

from logstash_filter_elastic_integration_spark.functions.painless import (
    UnsupportedScriptError)
from logstash_filter_elastic_integration_spark.functions.painless_exec import (
    CompiledScript)


def test_c_style_for_loop_and_locals():
    cs = CompiledScript(
        "int t = 0; for (int i = 1; i <= ctx.n; i++) { t += i * i; } "
        "ctx.sq_sum = t;")
    assert cs.run_row({"n": 4}) == {"sq_sum": 30}


def test_for_each_and_java_string_methods():
    cs = CompiledScript("""
        def out = '';
        for (def p : ctx.s.splitOnToken(',')) {
            if (p.trim().startsWith('a')) { out = out + p.trim().toUpperCase(); }
        }
        ctx.joined = out;
    """)
    assert cs.run_row({"s": "ax, b, ay"}) == {"joined": "AXAY"}


def test_while_watchdog_caps_runaway():
    cs = CompiledScript("while (ctx.n > 0) { ctx.x = 1; }")
    with pytest.raises(RuntimeError, match="watchdog"):
        cs.run_row({"n": 1})


def test_sandbox_blocks_imports_and_dunders():
    for src in ["import os;", "ctx.x = (1).__class__;"]:
        with pytest.raises(UnsupportedScriptError):
            CompiledScript(src)


def test_missing_field_reads_null():
    cs = CompiledScript(
        "if (ctx.absent == None) { ctx.ok = true; } else { ctx.ok = false; }")
    assert cs.run_row({}) == {"ok": True}


def test_script_processor_interpreter_engine(spark, registry):
    rows = run_one(spark, registry, [
        {"script": {"source": """
            int acc = 0;
            for (int i = 0; i < ctx.reps; i++) { acc += ctx.step; }
            ctx.total = acc;
        """}}],
        [(1, 3, 10), (2, 5, 2)], "id long, reps long, step long")
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["total"] == 30
    assert by_id[2]["total"] == 10


def test_script_runtime_error_fails_row_not_batch(spark, registry):
    """A script exception (parse failure on one row's data) must fail THAT
    row through the failure channel; other rows still get values."""
    rows = run_one(spark, registry, [
        {"script": {"source": """
            int v = Integer.parseInt(ctx.raw);
            int t = 0;
            for (int i = 0; i < 2; i++) { t += v; }
            ctx.doubled = t;
        """}}],
        [(1, "21"), (2, "not-a-number")], "id long, raw string")
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["doubled"] == 42
    assert by_id[1].get("_ingest_pipeline_failure") is None
    assert by_id[2]["doubled"] is None
    assert by_id[2]["_ingest_pipeline_failure"] is not None


def test_column_compiler_still_wins_for_straight_line(spark, registry):
    """Straight-line scripts must NOT take the interpreter path (no Python
    eval node in the plan — the fast path stays codegen)."""
    from logstash_filter_elastic_integration_spark.plans.pipeline import (
        run_pipeline)
    registry.register("fast", {"processors": [
        {"script": {"source": "ctx.y = ctx.x + 1"}}]})
    df = spark.createDataFrame([(1,)], "x long")
    plan = run_pipeline(df, "fast", registry)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_conditional_assign_keeps_untouched_value():
    """run_row must NOT report paths the script didn't assign on this row
    (the reference leaves untouched ctx fields intact)."""
    cs = CompiledScript("""
        for (int i = 0; i < 1; i++) { }
        if (ctx.flag > 0) { ctx.status = 'hot'; }
    """)
    assert cs.run_row({"flag": 1, "status": "cold"}) == {"status": "hot"}
    assert cs.run_row({"flag": 0, "status": "cold"}) == {}


def test_conditional_assign_processor_keeps_prior_column(spark, registry):
    """Interpreter engine: rows where the script's branch did not assign a
    field must keep the existing column value, not get nulled."""
    rows = run_one(spark, registry, [
        {"script": {"source": """
            int n = 0;
            for (int i = 0; i < ctx.reps; i++) { n += 1; }
            if (n >= 2) { ctx.status = 'hot'; }
        """}}],
        [(1, 3, "cold"), (2, 1, "cold")], "id long, reps long, status string")
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["status"] == "hot"
    assert by_id[2]["status"] == "cold"   # untouched, NOT null


def test_contains_key_ships_literal_named_field(spark, registry):
    """A field referenced ONLY via containsKey must still be shipped into
    the UDF so the guard sees it."""
    rows = run_one(spark, registry, [
        {"script": {"source": """
            for (int i = 0; i < 1; i++) { }
            if (ctx.containsKey('maybe')) { ctx.seen = true; }
            else { ctx.seen = false; }
        """}}],
        [(1, "yes"), (2, None)], "id long, maybe string")
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["seen"] is True
    assert by_id[2]["seen"] is False  # null conflates with missing (flat model)


def test_inplace_list_mutation_persists():
    """ctx.tags.add('x') mutates a live object and surfaces as a write."""
    cs = CompiledScript("for (int i = 0; i < 2; i++) { ctx.tags.add('x'); }")
    assert "tags" in cs.writes
    assert cs.run_row({"tags": ["a"]}) == {"tags": ["a", "x", "x"]}
    # unchanged list -> no write reported
    cs2 = CompiledScript("""
        for (int i = 0; i < 1; i++) { }
        if (ctx.n > 5) { ctx.tags.add('big'); }
    """)
    assert cs2.run_row({"n": 1, "tags": ["a"]}) == {}


def test_inplace_mutation_processor_roundtrip(spark, registry):
    rows = run_one(spark, registry, [
        {"script": {"source": """
            for (int i = 0; i < 1; i++) { }
            if (ctx.keep == false) {
                ctx.tags.remove(ctx.tags.indexOf('drop-me'));
            }
        """}}],
        [(1, False, ["a", "drop-me", "b"]), (2, True, ["a", "b"])],
        "id long, keep boolean, tags array<string>")
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["tags"] == ["a", "b"]
    assert by_id[2]["tags"] == ["a", "b"]


def test_jlist_java_remove_semantics():
    from logstash_filter_elastic_integration_spark.functions.painless_exec import (
        JList)
    xs = JList(["a", "b", "c"])
    assert xs.remove(1) == "b"          # by index (Java overload)
    assert xs == ["a", "c"]
    assert xs.remove("a") is True       # by value
    assert xs == ["c"]
    assert xs.indexOf("zz") == -1
    xs.addAll(["d", "e"])
    assert xs == ["c", "d", "e"]


def test_regex_operators_interpreter():
    cs = CompiledScript("""
        for (int i = 0; i < 1; i++) { }
        ctx.found = ctx.msg =~ /err(or)?/;
        ctx.full = ctx.code ==~ /E[0-9]+/;
    """)
    assert cs.run_row({"msg": "an error", "code": "E42"}) == {
        "found": True, "full": True}
    assert cs.run_row({"msg": "ok", "code": "xE42"}) == {
        "found": False, "full": False}


def test_map_and_list_literals_interpreter():
    cs = CompiledScript("""
        def m = ['a': 1, 'b': 2];
        m.put('c', m.get('a') + m.get('b'));
        def l = [10, 20];
        l.add(30);
        def e = [:];
        e.put('x', 1);
        ctx.csum = m.get('c');
        ctx.lsum = l.get(0) + l.get(2);
        ctx.esize = e.size();
        ctx.keys = m.keySet();
    """)
    assert cs.run_row({}) == {
        "csum": 3, "lsum": 40, "esize": 1, "keys": ["a", "b", "c"]}


def test_empty_foreach_body_transpiles():
    cs = CompiledScript("for (def x : ctx.xs) { } ctx.n = ctx.xs.size();")
    assert cs.run_row({"xs": ["a", "b"]}) == {"n": 2}


def test_regex_ops_column_compiler_jvm_side(spark, registry):
    """=~ / ==~ in the Column-compiler engine must lower to JVM rlike —
    no Python in the plan."""
    from logstash_filter_elastic_integration_spark.plans import run_pipeline
    registry.register("rx", {"processors": [
        {"script": {"source":
                    "ctx.sev = ctx.msg =~ /err/ ? 'high' : 'low';"}},
        {"set": {"field": "tag", "value": "E",
                 "if": "ctx.code ==~ /E[0-9]+/"}},
    ]})
    df = spark.createDataFrame(
        [(1, "an error!", "E42"), (2, "ok", "E42x")],
        "id long, msg string, code string")
    out = run_pipeline(df, "rx", registry)
    rows = {r["id"]: r for r in
            (r.asDict() for r in out.select("id", "sev", "tag").collect())}
    assert rows[1]["sev"] == "high" and rows[1]["tag"] == "E"
    assert rows[2]["sev"] == "low" and rows[2]["tag"] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_user_defined_functions():
    cs = CompiledScript("""
        long fib(int n) {
            if (n < 2) { return n; }
            long a = 0; long b = 1;
            for (int i = 2; i <= n; i++) { long t = a + b; a = b; b = t; }
            return b;
        }
        String shout(String s) { return s.toUpperCase() + '!'; }
        ctx.f10 = fib(10);
        ctx.loud = shout(ctx.word);
    """)
    assert cs.run_row({"word": "hey"}) == {"f10": 55, "loud": "HEY!"}


def test_user_defined_function_runaway_recursion_fails_row():
    cs = CompiledScript("int f(int n) { return f(n); } ctx.x = f(1);")
    import pytest as _pytest
    with _pytest.raises(RecursionError):
        cs.run_row({})


def test_elvis_operator_both_engines(spark, registry):
    """`a ?: b` is NULL-coalesce (0/''/[] are kept, unlike Python or)."""
    cs = CompiledScript("""
        for (int i = 0; i < 1; i++) { }
        ctx.kept_zero = ctx.n ?: 99;
        ctx.chain = ctx.x ?: ctx.y ?: 'last';
    """)
    assert cs.run_row({"n": 0, "x": None, "y": None}) == {
        "kept_zero": 0, "chain": "last"}
    # Column compiler: lowers to coalesce, no Python in the plan
    rows = run_one(spark, registry, [
        {"script": {"source": "ctx.lvl = ctx.level ?: 'info';"}},
        {"set": {"field": "flag", "value": "Y",
                 "if": "(ctx.level ?: 'info') == 'error'"}},
    ], [(1, "error"), (2, None)], "id long, level string")
    by = {r["id"]: r for r in rows}
    assert by[1]["lvl"] == "error" and by[1]["flag"] == "Y"
    assert by[2]["lvl"] == "info" and by[2]["flag"] is None


def test_elvis_binds_looser_than_comparison():
    """Painless `a ?: b == c` is `a ?: (b == c)` — ?: is lowest-precedence
    (above only ternary/assignment), unlike Python's `|`."""
    cs = CompiledScript("ctx.x = ctx.a ?: ctx.b == 'c';")
    assert cs.run_row({"a": "A", "b": None}) == {"x": "A"}
    assert cs.run_row({"a": None, "b": "c"}) == {"x": True}
    assert cs.run_row({"a": None, "b": "z"}) == {"x": False}


def test_string_literal_java_concat_coercion():
    """Plain string LITERALS are Java Strings: 'count=' + 5 -> 'count=5'
    (reference Painless semantics; Python would raise TypeError)."""
    cs = CompiledScript("ctx.msg = 'count=' + ctx.n;")
    assert cs.run_row({"n": 5}) == {"msg": "count=5"}
    cs2 = CompiledScript("ctx.msg = 'v=' + ctx.b + '/' + ctx.x;")
    assert cs2.run_row({"b": True, "x": None}) == {"msg": "v=true/null"}
    # literal methods work too
    cs3 = CompiledScript("ctx.n = 'abc'.length();")
    assert cs3.run_row({}) == {"n": 3}


def test_ctx_map_field_mutation_persists():
    """ctx.meta.put(...) on a dict-valued field must mutate a cached live
    wrap that run_row folds back into writes (not a throwaway copy)."""
    cs = CompiledScript("ctx.meta.put('k', 'v');")
    assert cs.run_row({"meta": {"a": 1}}) == {"meta": {"a": 1, "k": "v"}}
    cs2 = CompiledScript("ctx.meta.remove('a'); ctx.n = ctx.meta.size();")
    assert cs2.run_row({"meta": {"a": 1, "b": 2}}) == {
        "meta": {"b": 2}, "n": 1}


def test_lambda_comparator_sort_and_streams():
    """Painless arrows + streams-lite in the interpreter: list.sort with a
    comparator, stream().filter/map/sorted/collect, reduce."""
    cs = CompiledScript(
        "ctx.ws.sort((a,b) -> a.length() == b.length()"
        " ? a.compareTo(b) : a.length() - b.length());")
    assert cs.run_row({"ws": ["bb", "a", "ccc", "ab"]}) == {
        "ws": ["a", "ab", "bb", "ccc"]}
    cs2 = CompiledScript("""
        for (int i = 0; i < 1; i++) { }
        ctx.longs = ctx.ws.stream().filter(w -> w.length() > 1)
            .map(w -> w.toUpperCase()).collect(Collectors.toList());
        ctx.total = ctx.ns.stream().reduce(0, (a,b) -> a + b);
        ctx.joined = ctx.ws.stream().sorted().collect(Collectors.joining('|'));
    """)
    out = cs2.run_row({"ws": ["bb", "a", "ccc"], "ns": [1, 2, 3]})
    assert out["longs"] == ["BB", "CCC"]
    assert out["total"] == 6
    assert out["joined"] == "a|bb|ccc"


def test_method_references_both_kinds():
    cs = CompiledScript(
        "for (int i = 0; i < 1; i++) { }"
        "ctx.ints = ctx.ss.stream().map(Integer::parseInt)"
        ".collect(Collectors.toList());"
        "ctx.up = ctx.ws.stream().map(String::toUpperCase)"
        ".collect(Collectors.joining(','));")
    out = cs.run_row({"ss": ["1", "2"], "ws": ["x", "y"]})
    assert out["ints"] == [1, 2] and out["up"] == "X,Y"


def test_streams_lower_to_catalyst_in_column_engine(spark, registry):
    """The Column compiler lowers stream chains / lambda sorts /
    String.join to pyspark higher-order functions — no Python in the
    plan."""
    from logstash_filter_elastic_integration_spark.plans import run_pipeline
    registry.register("s", {"processors": [
        {"script": {"source":
                    "ctx.longs = ctx.ws.stream().filter(w -> w.length() > 1)"
                    ".map(w -> w.toUpperCase()).collect(Collectors.toList());"}},
        {"script": {"source":
                    "ctx.sorted_ws = ctx.ws.stream()"
                    ".sorted((a,b) -> a.length() - b.length())"
                    ".collect(Collectors.joining('-'));"}},
        {"script": {"source": "ctx.joined = String.join('+', ctx.ws);"}},
        {"script": {"source":
                    "ctx.n = ctx.ws.stream().filter(w -> w.length() > 1)"
                    ".count();"}},
        {"script": {"source":
                    "ctx.any3 = ctx.ws.stream()"
                    ".anyMatch(w -> w.length() > 2);"}},
    ]})
    df = spark.createDataFrame([(1, ["bb", "a", "ccc"])],
                               "id long, ws array<string>")
    out = run_pipeline(df, "s", registry)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    r = out.collect()[0].asDict()
    assert r["longs"] == ["BB", "CCC"]
    assert r["sorted_ws"] == "a-bb-ccc"
    assert r["joined"] == "bb+a+ccc"
    assert r["n"] == 2
    assert r["any3"] is True


def test_try_catch_and_exception_message():
    cs = CompiledScript("""
        try {
            ctx.v = Integer.parseInt(ctx.raw);
            ctx.ok = true;
        } catch (NumberFormatException e) {
            ctx.ok = false;
            ctx.err = e.getMessage();
        }
        for (int i = 0; i < 1; i++) { }
    """)
    assert cs.run_row({"raw": "42"}) == {"v": 42, "ok": True}
    out = cs.run_row({"raw": "zz"})
    assert out["ok"] is False and "zz" in out["err"]


def test_ctx_put_get_remove():
    cs = CompiledScript("""
        for (int i = 0; i < 1; i++) { }
        ctx.put('copied', ctx.get('src'));
        ctx.old = ctx.remove('tmp');
    """)
    assert {"src", "tmp"} <= cs.reads
    assert {"copied", "tmp"} <= cs.writes
    assert cs.run_row({"src": "hello", "tmp": "bye"}) == {
        "copied": "hello", "tmp": None, "old": "bye"}


def test_try_catch_processor_row_isolation(spark, registry):
    """try/catch INSIDE the script means the row does NOT go through the
    failure channel — the script handled it."""
    rows = run_one(spark, registry, [
        {"script": {"source": """
            for (int i = 0; i < 1; i++) { }
            try { ctx.n = Integer.parseInt(ctx.raw); }
            catch (Exception e) { ctx.n = -1; }
        """}}],
        [(1, "7"), (2, "bad")], "id long, raw string")
    by = {r["id"]: r for r in rows}
    assert by[1]["n"] == 7
    assert by[2]["n"] == -1
    assert by[2].get("_ingest_pipeline_failure") is None


def test_java_string_method_surface():
    cs = CompiledScript("""
        for (int i = 0; i < 1; i++) { }
        ctx.eq = ctx.a.equalsIgnoreCase('HELLO');
        ctx.m = ctx.a.matches('[a-z]+');
        ctx.rep = ctx.a.replaceAll('l+', 'L');
        ctx.first = ctx.a.replaceFirst('l', 'L');
        ctx.c0 = ctx.a.charAt(0);
        ctx.last = ctx.a.lastIndexOf('l');
        ctx.cat = ctx.a.concat('!');
    """)
    assert cs.run_row({"a": "hello"}) == {
        "eq": True, "m": True, "rep": "heLo", "first": "heLlo",
        "c0": "h", "last": 3, "cat": "hello!"}


def test_interpreter_reads_dynamic_extras_keys(spark, registry):
    """A field that exists only as a kv dynamic key (_extras map) must be
    readable by the interpreter engine via the same lift-on-read the
    Column compiler uses."""
    rows = run_one(spark, registry, [
        {"kv": {"field": "msg", "field_split": " ", "value_split": "="}},
        {"script": {"source": """
            int n = 0;
            for (int i = 0; i < 3; i++) { n += 1; }
            ctx.combo = ctx.dynkey + '-' + n;
        """}}],
        [(1, "dynkey=abc other=x"), (2, "dynkey=def other=y")],
        "id long, msg string")
    by = {r["id"]: r for r in rows}
    assert by[1]["combo"] == "abc-3"
    assert by[2]["combo"] == "def-3"


def test_instanceof_both_engines(spark, registry):
    cs = CompiledScript("""
        for (int i = 0; i < 1; i++) { }
        ctx.is_s = ctx.a instanceof String;
        ctx.is_n = ctx.n instanceof Number;
        ctx.is_l = ctx.xs instanceof List;
        ctx.null_never = ctx.missing instanceof String;
    """)
    assert cs.run_row({"a": "x", "n": 5, "xs": [1], "missing": None}) == {
        "is_s": True, "is_n": True, "is_l": True, "null_never": False}
    # Column compiler: static dtype + null-is-never-an-instance
    rows = run_one(spark, registry, [
        {"set": {"field": "t", "value": "Y",
                 "if": "ctx.a instanceof String"}}],
        [(1, "x"), (2, None)], "id long, a string")
    by = {r["id"]: r for r in rows}
    assert by[1]["t"] == "Y" and by[2]["t"] is None


def test_do_while_loop():
    cs = CompiledScript(
        "int i = 0; def acc = []; do { acc.add(i); i++; } while (i < 3); "
        "ctx.out = acc;")
    assert cs.run_row({}) == {"out": [0, 1, 2]}


def test_do_while_watchdog():
    cs = CompiledScript("int i = 0; do { i++; } while (true); ctx.x = i;")
    with pytest.raises(RuntimeError, match="watchdog"):
        cs.run_row({})


def test_pattern_matcher_and_split():
    cs = CompiledScript("""
        def m = /v(\\d+)\\.(\\d+)/.matcher(ctx.s);
        if (m.find()) { ctx.major = m.group(1); ctx.minor = m.group(2); }
        ctx.clean = /[0-9]+/.matcher(ctx.s).replaceAll('N');
        ctx.parts = /,\\s*/.split(ctx.csv);
    """)
    got = cs.run_row({"s": "app v42.7 here", "csv": "x, y,z"})
    assert got["major"] == "42" and got["minor"] == "7"
    assert got["clean"] == "app vN.N here"
    assert got["parts"] == ["x", "y", "z"]


def test_java_integer_division_and_remainder():
    # Java: int/int truncates toward zero; % takes the dividend's sign
    cs = CompiledScript(
        "ctx.a = 7 / 2; ctx.b = -7 / 2; ctx.c = 7.0 / 2; "
        "ctx.d = -7 % 3; ctx.e = 7 % 3;")
    assert cs.run_row({}) == {"a": 3, "b": -3, "c": 3.5, "d": -1, "e": 1}


def test_java_compound_division():
    cs = CompiledScript(
        "int x = 7; x /= 2; ctx.a = x; int y = -7; y %= 3; ctx.b = y;")
    assert cs.run_row({}) == {"a": 3, "b": -1}


def test_java_stdlib_statics():
    cs = CompiledScript("""
        ctx.b = Long.parseLong('99');
        ctx.e = Math.floorMod(-7, 3);
        ctx.f = Character.isDigit(ctx.s.charAt(0));
        ctx.g = new StringBuilder().append('a').append(1).toString();
        ctx.h = Base64.getEncoder().encodeToString(ctx.s.getBytes());
        ctx.i = new String(Base64.getDecoder().decode('aGk='));
        ctx.j = Arrays.asList(1,2,3).size();
    """)
    got = cs.run_row({"s": "5x"})
    assert got == {"b": 99, "e": 2, "f": True, "g": "a1",
                   "h": "NXg=", "i": "hi", "j": 3}


# ------------------------------------------------------ ADVICE r4 fixes ----
def test_map_dot_access_missing_key_is_null():
    """Painless `map.key` == `map.get('key')`: absent keys yield null so
    null-guard scripts take the null branch instead of failing the row."""
    cs = CompiledScript("""
        Map m = ['a': ['b': 1]];
        if (m.c == null) { ctx.ok = true; }
        if (m.a.b == 1) { ctx.inner = true; }
        if (m.a.zz == null) { ctx.nested_ok = true; }
    """)
    assert cs.run_row({}) == {"ok": True, "inner": True, "nested_ok": True}


def test_chronounit_between_truncates_toward_zero():
    """Java ChronoUnit.between truncates toward zero: -90s is -1 minute
    (floor division would give -2)."""
    cs = CompiledScript("""
        def a = ZonedDateTime.parse(ctx.a);
        def b = ZonedDateTime.parse(ctx.b);
        ctx.mins = ChronoUnit.MINUTES.between(a, b);
        ctx.hours = ChronoUnit.HOURS.between(a, b);
    """)
    out = cs.run_row({"a": "2024-01-01T00:01:30Z", "b": "2024-01-01T00:00:00Z"})
    assert out["mins"] == -1
    assert out["hours"] == 0
    fwd = cs.run_row({"a": "2024-01-01T00:00:00Z", "b": "2024-01-01T00:01:30Z"})
    assert fwd["mins"] == 1


def test_do_while_continue_reevaluates_condition():
    """`continue` inside do-while must re-check the loop condition (Java
    semantics), not spin unconditionally into the watchdog."""
    cs = CompiledScript("""
        int i = 0; int s = 0;
        do {
            i++;
            if (i % 2 == 0) { continue; }
            s += i;
        } while (i < 5);
        ctx.s = s; ctx.i = i;
    """)
    assert cs.run_row({}) == {"s": 9, "i": 5}


def test_do_while_body_runs_once_when_condition_false():
    cs = CompiledScript("int n = 0; do { n++; } while (false); ctx.n = n;")
    assert cs.run_row({}) == {"n": 1}


# ------------------------------------------------------- r5 ADVICE fixes --

def test_nullsafe_cannot_reach_underscore_attributes():
    """Sandbox: the ?. lowering turns attribute names into string
    constants — validate() must still block underscore names there
    (previously ctx.msg?.__class__?.__mro__ compiled and returned live
    class objects)."""
    for src in ("ctx.a = ctx.msg?.__class__;",
                "ctx.a = ctx.msg?.__class__?.__mro__;",
                "ctx.a = ctx?._row;"):
        with pytest.raises(UnsupportedScriptError):
            CompiledScript(src)


def test_ushr_java_corners():
    """>>> must mask the shift count by width-1 and return the value
    unchanged for an effective shift of 0 (Java int semantics:
    -1 >>> 0 == -1, x >>> 32 == x)."""
    cs = CompiledScript("ctx.a = -1 >>> 0; ctx.b = 7 >>> 32; "
                        "ctx.c = -1 >>> 1; ctx.d = -8 >>> 2;")
    out = cs.run_row({})
    assert out["a"] == -1
    assert out["b"] == 7
    assert out["c"] == 2147483647
    assert out["d"] == 1073741822


def test_nested_object_keyset_ships_prefix_columns(spark, registry):
    """ctx.some_obj.keySet() on a dotted-column object: the prefix's flat
    columns must ship into the UDF (previously nothing shipped and the
    row failed with an NPE instead of listing keys)."""
    out = run_one(
        spark, registry,
        [{"script": {"lang": "painless", "source":
                     "def ks = ctx.obj.keySet();"
                     "ctx.nkeys = ks.size();"
                     "ctx.names = ks.toString();"}}],
        [("a", "b")], "`obj.x` string, `obj.y` string")
    assert (out[0]["tags"] or []) == []
    assert out[0]["nkeys"] == 2
    assert out[0]["names"] == "[x, y]"


def test_ctx_metadata_attribute_reads_and_writes():
    """`ctx._index` is the map key `_index`, as in the bracket form; the
    underscore block still holds off ctx (`ctx?._row` above) and on
    dunders."""
    cs = CompiledScript("ctx._index = 'logs-x'; ctx.a = ctx._id + '!';")
    assert cs.run_row({"_id": "7"}) == {"_index": "logs-x", "a": "7!"}
    with pytest.raises(UnsupportedScriptError):
        CompiledScript("ctx.a = ctx.__class__;")
