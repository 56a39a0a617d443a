"""Physical-plan regression guards: the compiled pipeline must stay a
narrow, JVM-only projection (the whole performance story at 100 TB).
These fail if a change reintroduces Python row processing or a shuffle
into the parse/route path."""

from pyspark.sql import functions as F

from logstash_filter_elastic_integration_spark.flagship import (
    build_router, with_datastream)
from logstash_filter_elastic_integration_spark.sources.datagen import transcripts


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_plan_is_narrow_jvm_only(spark, tmp_path):
    src = str(tmp_path / "t")
    transcripts(spark, 500).write.parquet(src)
    tdf = spark.read.parquet(src)
    out = build_router(spark).execute(with_datastream(tdf))
    plan = _executed_plan(out)
    # grok runs as Arrow-batched pandas UDFs — NEVER row-at-a-time Python
    assert "BatchEvalPython" not in plan
    # no shuffle: broadcast joins only (BroadcastExchange is fine)
    stripped = plan.replace("BroadcastExchange", "BCX")
    assert "Exchange" not in stripped
    # r6: the tiny role/tool lookup dims compile to fused map-literal
    # probes — the flagship parse/enrich/route path carries NO join at
    # all (previously two BroadcastHashJoins re-copied the wide working
    # row; operators/enrich.py literal-map fast path)
    assert "Join" not in plan
    assert "map(keys" in plan or "try_element_at" in plan, plan[:2000]


def test_grok_jvm_engine_has_no_python_nodes(spark, tmp_path):
    """engine='jvm' grok compiles to pure Column expressions."""
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    reg = PipelineRegistry()
    reg.register("j", {"processors": [
        {"grok": {"field": "text", "engine": "jvm",
                  "patterns": ["%{IPV4:ip} %{WORD:w}"],
                  "ignore_failure": True}}]})
    src = str(tmp_path / "tj")
    transcripts(spark, 200).write.parquet(src)
    out = run_pipeline(spark.read.parquet(src), "j", reg)
    assert "EvalPython" not in _executed_plan(out)


def test_grok_jvm_regex_executes_once_despite_downstream_refs(spark):
    """The staged __grok_parts projection must NOT be inlined into
    downstream references (SPARK-36718: CollapseProject keeps non-cheap
    multi-referenced producer expressions staged).  Regression pin for
    the measured 5x blowup when the regex re-executes per reference —
    and for the removal of the legacy rand() pseudo-barrier, which
    Spark 4.1 constant-folds away anyway."""
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    df = spark.createDataFrame(
        [("1 ok 2",), ("7 go 9",)], ["msg"])
    reg = PipelineRegistry()
    reg.register("once", {"processors": [
        {"grok": {"field": "msg", "engine": "jvm",
                  "patterns": ["^%{INT:uid:int} %{WORD:etype} %{INT:val:int}$"]}},
        # three downstream references to the grok outputs = the
        # inlining pressure that used to duplicate the regex
        {"set": {"field": "combo", "value": "{{uid}}-{{etype}}-{{val}}"}},
    ]})
    out = run_pipeline(df, "once", reg).select("uid", "etype", "val", "combo")
    plan = _executed_plan(out)
    # the match predicate runs exactly once per row
    assert plan.count("RLIKE") == 1, plan
    # the packed rewrite runs exactly once per row
    assert plan.count("regexp_replace") == 1, plan
    # the nondeterministic pseudo-barrier is gone for good
    assert "rand(" not in plan, plan


def test_sink_counts_is_partial_final_hash_agg(spark, tmp_path):
    src = str(tmp_path / "t2")
    transcripts(spark, 500).write.parquet(src)
    tdf = spark.read.parquet(src)
    router = build_router(spark)
    out = router.execute(with_datastream(tdf))
    plan = _executed_plan(router.sink_counts(out))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "SortAggregate" not in plan


def test_scan_prunes_columns(spark, tmp_path):
    """Column pruning reaches the parquet scan for a projecting query."""
    src = str(tmp_path / "t3")
    transcripts(spark, 500).write.parquet(src)
    df = spark.read.parquet(src).select("conv_id").filter(
        F.col("conv_id") == "conv-00000000")
    plan = _executed_plan(df)
    assert "ReadSchema: struct<conv_id:string>" in plan
    assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id" in plan


def test_adjacent_groks_fuse_into_one_arrow_node(spark):
    """SURVEY §7.5 'fused one-UDF-per-chain': Spark's ExtractPythonUDFs
    batches independent pandas UDFs in one stage into a single
    ArrowEvalPython node — one Arrow exchange for N adjacent groks."""
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    reg = PipelineRegistry()
    reg.register("two", {"processors": [
        {"grok": {"field": "a", "patterns": ["%{INT:x:int}"],
                  "engine": "pandas", "ignore_failure": True}},
        {"grok": {"field": "b", "patterns": ["%{WORD:y}"],
                  "engine": "pandas", "ignore_failure": True}},
    ]})
    df = spark.createDataFrame([("1", "w")], "a string, b string")
    out = run_pipeline(df, "two", reg)
    assert _executed_plan(out).count("ArrowEvalPython") == 1


def test_grok_auto_engine_selects_jvm_for_safe_patterns(spark):
    """engine=auto (default): a single-pattern grok with no atomic groups /
    possessive quantifiers / backrefs lowers to rlike + regexp_extract —
    ZERO Python in the plan.  Multi-pattern groks stay on the watchdogged
    pandas engine."""
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    reg = PipelineRegistry()
    reg.register("safe", {"processors": [
        {"grok": {"field": "a", "patterns": ["%{INT:x:int} %{WORD:w}"],
                  "ignore_failure": True}}]})
    df = spark.createDataFrame([("1 w",)], "a string")
    assert "ArrowEvalPython" not in _executed_plan(
        run_pipeline(df, "safe", reg))
    reg2 = PipelineRegistry()
    reg2.register("multi", {"processors": [
        {"grok": {"field": "a", "patterns": ["%{INT:x:int}", "%{WORD:w}"],
                  "ignore_failure": True}}]})
    assert "ArrowEvalPython" in _executed_plan(
        run_pipeline(df, "multi", reg2))


def test_flagship_plan_is_python_free(spark, tmp_path):
    """The flagship parse->enrich->route plan under engine=auto: no
    ArrowEvalPython anywhere — grok lowered to the JVM, everything else
    already Column-only."""
    from logstash_filter_elastic_integration_spark.flagship import (
        run_flagship)
    from logstash_filter_elastic_integration_spark.sources.datagen import (
        transcripts)
    src = str(tmp_path / "fs")
    transcripts(spark, 200).write.parquet(src)
    df = spark.read.parquet(src)
    plan = _executed_plan(run_flagship(spark, df))
    assert "ArrowEvalPython" not in plan


def test_integration_mix_plan_has_one_python_node(spark, tmp_path):
    """The facade over examples/pipelines: the token-count loop in
    logs-web.json is the only script the Column lowering rejects, and
    user_agent parses in its own pandas UDF.  Spark evaluates both UDFs
    in one ArrowEvalPython node, every `if` condition stays on the JVM,
    and the plan has no Exchange (the scan is written to parquet first,
    so the generator's own shuffle is not in it)."""
    import os
    from logstash_filter_elastic_integration_spark.engine import (
        SparkIngestFilter)
    from logstash_filter_elastic_integration_spark.sources.datagen import (
        tool_dim)
    pipelines = os.path.join(os.path.dirname(__file__), "..", "examples",
                             "pipelines")
    src = str(tmp_path / "mix")
    transcripts(spark, 200).write.parquet(src)
    frame = (spark.read.parquet(src)
             .withColumn("ua", F.lit("curl/8.4.0"))
             .withColumn("data_stream.type", F.lit("logs"))
             .withColumn("data_stream.dataset", F.lit("web.access"))
             .withColumn("data_stream.namespace", F.lit("default")))
    out = SparkIngestFilter(
        pipelines=pipelines, dims={"tool_dim": tool_dim(spark)},
        routing={"logs-web.access-default": "logs-web",
                 "logs-web.tools-*": "logs-tools"}).filter(frame)
    plan = _executed_plan(out)
    assert plan.count("ArrowEvalPython") == 1
    node, = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert "kernel(" in node and "parse(" in node, node
    assert "token_count" in plan
    assert "Exchange" not in plan


def test_registered_domain_plan_broadcast_only(spark):
    """The PSL rule joins must all be broadcast hash joins: no exchange on
    the fact side regardless of rule-set size."""
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    reg = PipelineRegistry()
    reg.register("rd", {"processors": [
        {"registered_domain": {"field": "domain_field",
                               "target_field": "url"}}]})
    df = spark.range(100).selectExpr("concat('www.example', id, '.co.uk') AS domain_field")
    out = run_pipeline(df, "rd", reg)
    plan = _executed_plan(out)
    stripped = plan.replace("BroadcastExchange", "BCX")
    assert "Exchange" not in stripped
    assert plan.count("BroadcastHashJoin") >= 4  # one per PSL depth


def test_geoip_range_plan_broadcast_only(spark, tmp_path):
    """Range geoip (incl. most-specific segmentation) keeps the fact side
    exchange-free: segmentation runs dim-side at compile."""
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    reg = PipelineRegistry()
    dim = spark.createDataFrame(
        [(0, 100, "a"), (50, 60, "b")], "lo long, hi long, zone string")
    reg.dims["r.mmdb"] = dim
    reg.register("g", {"processors": [
        {"geoip": {"field": "ip", "database_file": "r.mmdb",
                   "range_keys": ["lo", "hi"], "target_field": "geo"}}]})
    df = spark.range(100).selectExpr("concat('10.0.0.', id % 255) AS ip")
    out = run_pipeline(df, "g", reg)
    plan = _executed_plan(out)
    stripped = plan.replace("BroadcastExchange", "BCX")
    assert "Exchange" not in stripped
    assert "BroadcastNestedLoopJoin" in plan


def test_decontaminate_plan_never_shuffles_corpus(spark):
    """Decontamination: ONE corpus pass — the exploded shingle stream
    reaches the benchmark dim through a broadcast LEFT join (no
    SortMergeJoin anywhere), and the only corpus-side exchange is the
    partial+final per-doc aggregate AFTER the join."""
    from logstash_filter_elastic_integration_spark import queries as Q
    df = Q.QUERIES["decontaminate_ngram"](spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # single partial+final agg: exactly one doc_id-keyed exchange
    assert plan.count("Exchange hashpartitioning(doc_id#") == 1


# ------------------------------------------------------- user_agent -------
def _ua_pipeline(spark, rows, cfg):
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    reg = PipelineRegistry()
    reg.register("ua", {"processors": [{"user_agent": cfg}]})
    df = spark.createDataFrame(rows, "ua string")
    return run_pipeline(df, "ua", reg)


_UA_ROWS = [
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",),
    ("Mozilla/5.0 (compatible; Googlebot/2.1; "
     "+http://www.google.com/bot.html)",),
    ("curl/8.4.0",), (None,),
]


def test_user_agent_chain_outside_wholestage_codegen(spark):
    """The bank must never be inlined into a fused processNext(): it runs
    in one pandas UDF, whose ArrowEvalPython node stands outside
    WholeStageCodegen (no `*(n)` marker), and no regex expression of the
    bank is left in the JVM plan."""
    out = _ua_pipeline(spark, _UA_ROWS, {"field": "ua"})
    rows = {r["ua"]: r for r in out.collect()}
    plan = _executed_plan(out)
    udf_lines = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(udf_lines) == 1, plan
    assert "parse(" in udf_lines[0]
    assert not udf_lines[0].lstrip("+- ").startswith("*("), udf_lines[0]
    for jvm_regex in ("RLIKE", "regexp_extract", "coalesce(CASE WHEN"):
        assert jvm_regex not in plan, jvm_regex
    assert rows[_UA_ROWS[0][0]]["user_agent.name"] == "Chrome"


def test_user_agent_default_dedup_parse_broadcasts(spark):
    """DEFAULT path: the bank runs once per DISTINCT UA (ES UserAgentCache
    parity), now inside the UDF, so no distinct-parse aggregate, Exchange
    or join back (broadcast or sort-merge) is left in the plan."""
    import pandas as pd
    from logstash_filter_elastic_integration_spark.operators import ua_bank

    out = _ua_pipeline(spark, _UA_ROWS * 50, {"field": "ua"})
    rows = out.collect()                      # finalize the AQE plan
    plan = _executed_plan(out)
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" not in plan
    by_ua = {r["ua"]: r for r in rows}
    assert by_ua[_UA_ROWS[0][0]]["user_agent.name"] == "Chrome"
    assert by_ua[None]["user_agent.name"] is None

    # The UDF body: 200 rows, 3 distinct non-null UAs -> 3 parses.
    calls = []

    class Counting:
        def parse(self, ua):
            calls.append(ua)
            return (ua, "v", None, None, "Other", "Desktop")

    digest = "test-dedup-digest"
    ua_bank._PARSER_CACHE[digest] = Counting()
    try:
        uas = pd.Series([r[0] for r in _UA_ROWS * 50])
        got = ua_bank.parse_series(None, digest, uas, 5)
    finally:
        ua_bank._PARSER_CACHE.pop(digest, None)
        for key in [k for k in ua_bank._PARSE_MEMO if k[0] == digest]:
            ua_bank._PARSE_MEMO.pop(key)
    assert sorted(calls) == sorted(r[0] for r in _UA_ROWS[:3])
    assert len(got) == 200
    assert list(got.iloc[0]) == [_UA_ROWS[0][0], "v", None, None, "Other"]
    assert got.iloc[3].isna().all()


def test_user_agent_default_bank_values(spark):
    out = _ua_pipeline(spark, _UA_ROWS, {"field": "ua",
                                         "extract_device_type": True})
    rows = {r["ua"]: r for r in out.collect()}
    chrome = rows[_UA_ROWS[0][0]]
    assert chrome["user_agent.name"] == "Chrome"
    assert chrome["user_agent.os.name"] == "Windows"
    assert rows[_UA_ROWS[1][0]]["user_agent.name"] == "Googlebot"


def test_user_agent_full_scale_bank_parses_through_the_udf(spark, tmp_path):
    """A wholesale ~1200-entry regex_file bank (uap-core scale) ships in
    the UDF closure and parses through the same memoized path."""
    lines = ["user_agent_parsers:"]
    for i in range(1150):
        lines.append(f"  - regex: '(SynthAgent{i:04d})/(\\d+)\\.(\\d+)'")
    lines.append("os_parsers:")
    for i in range(120):
        lines.append(f"  - regex: 'SynthOS{i:03d} (\\d+)'")
        lines.append(f"    os_replacement: 'Synth OS {i}'")
    lines.append("device_parsers:")
    for i in range(80):
        lines.append(f"  - regex: 'SynthDev{i:03d}'")
        lines.append(f"    device_replacement: 'Device {i}'")
    p = tmp_path / "big.yaml"
    p.write_text("\n".join(lines) + "\n")
    rows = [("SynthAgent1149/9.7 SynthOS119 42 SynthDev079",),
            ("SynthAgent0000/1.0",), ("nothing-matches",)]
    out = _ua_pipeline(spark, rows, {"field": "ua", "regex_file": str(p)})
    got = {r["ua"]: r for r in out.collect()}
    assert _executed_plan(out).count("ArrowEvalPython") == 1
    last = got["SynthAgent1149/9.7 SynthOS119 42 SynthDev079"]
    assert last["user_agent.name"] == "SynthAgent1149"
    assert last["user_agent.version"] == "9.7"
    assert last["user_agent.os.name"] == "Synth OS 119"
    assert last["user_agent.device.name"] == "Device 79"
    assert got["SynthAgent0000/1.0"]["user_agent.name"] == "SynthAgent0000"
    assert got["nothing-matches"]["user_agent.name"] == "Other"


# ------------------------------------------------ plan determinism --------
_NESTED_DEFINITION = {"processors": [
    {"community_id": {}},
    {"convert": {"field": "a", "type": "integer", "on_failure": [
        {"set": {"field": "err", "value": "{{_ingest.on_failure_message}}"}},
        {"convert": {"field": "b", "type": "integer", "on_failure": [
            {"set": {"field": "err2", "value": "inner"}}]}}]}},
]}


def test_plans_identical_across_registries(spark):
    """Staging-column names derive from the pipeline content, never from
    object ids or the per-process str hash: two separately parsed
    registries of a pipeline with nested on_failure and community_id
    compile to the same analyzed plan (expression ids and the counter
    suffix of lambda variable names, both session-global, masked)."""
    import json
    import re

    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    from logstash_filter_elastic_integration_spark.plans.document import (
        staging_name)
    df = spark.createDataFrame(
        [("10.0.0.1", "10.0.0.2", 1000, 80, "tcp", "x", "y")],
        "`source.ip` string, `destination.ip` string, `source.port` int, "
        "`destination.port` int, `network.transport` string, a string, "
        "b string")
    plans = []
    for _ in range(2):
        reg = PipelineRegistry()
        reg.register("p", json.dumps(_NESTED_DEFINITION))
        out = run_pipeline(df, "p", reg)
        plans.append(re.sub(r"(_\d+)?#\d+L?", "#",
                            out._jdf.queryExecution().analyzed().toString()))
    assert plans[0] == plans[1]
    assert staging_name("__cidhex_", "network.community_id") in plans[0]
    assert "__pfail_" in plans[0]
    row = out.first()
    assert row["err2"] == "inner" and row["network.community_id"]


def test_staging_names_do_not_depend_on_the_hash_seed():
    import os
    import subprocess
    import sys
    code = ("from logstash_filter_elastic_integration_spark.plans.document "
            "import staging_name; "
            "print(staging_name('__pfail_', ('p',), 'p', 'convert', "
            "{'field': 'a'}))")
    names = {subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=os.path.join(os.path.dirname(__file__), ".."),
        env={**os.environ, "PYTHONHASHSEED": seed}, check=True).stdout
        for seed in ("1", "2")}
    assert len(names) == 1


_PLAN_CHILD = """
import re, sys
from logstash_filter_elastic_integration_spark import get_spark
from logstash_filter_elastic_integration_spark.engine import SparkIngestFilter
from logstash_filter_elastic_integration_spark.router import Router
spark = get_spark(app_name="plan-dump", cores=1)
df = spark.createDataFrame([("web", "GET / 200", "curl/8.4.0", "logs-web")],
                           "svc string, text string, ua string, p string")
facade = SparkIngestFilter(pipelines=sys.argv[1], pipeline_name="logs-%{svc}")
by_field = Router(facade.registry, {}, pipeline_field="p")
for out in (facade.filter(df), by_field.execute(df)):
    print(re.sub(r"(_\\d+)?#\\d+L?", "#",
                 out._jdf.queryExecution().analyzed().toString()))
"""


def test_resolver_plans_identical_across_driver_processes():
    """Two driver processes with PYTHONHASHSEEDs under which a set of
    examples/pipelines' names plus '_none' iterates in different orders
    compile those pipelines behind a sprintf template (facade) and behind
    a field resolver (Router) to the same analyzed plans, expression ids
    and lambda-variable counter suffixes masked."""
    import os
    import subprocess
    import sys
    root = os.path.join(os.path.dirname(__file__), "..")
    pipelines = os.path.join(root, "examples", "pipelines")
    plans = [subprocess.run(
        [sys.executable, "-c", _PLAN_CHILD, pipelines],
        capture_output=True, text=True, cwd=root, timeout=300, check=True,
        env={**os.environ, "PYTHONHASHSEED": seed,
             "SPARK_DRIVER_MEM": "1g"}).stdout
        for seed in ("1", "3")]
    assert "pipeline not loaded [" in plans[0]
    assert plans[0] == plans[1]
