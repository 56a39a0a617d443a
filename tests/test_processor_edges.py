"""Edge-case coverage: on_failure sub-chains, ignore_failure, geoip
miss-tag, convert auto/ip, set copy_from/override, append no-dup,
pipeline-level on_failure, painless ternary, date UNIX formats."""

from tests.conftest import run_one


def test_on_failure_subchain(spark, registry):
    # docs/index.asciidoc:357-367: processor on_failure handles the error,
    # pipeline continues, no failure tag
    out = run_one(
        spark, registry,
        [{"rename": {"field": "nope", "target_field": "x",
                     "on_failure": [
                         {"set": {"field": "error.message",
                                  "value": "rename failed"}}]}},
         {"set": {"field": "after", "value": "ran"}}],
        [("v",)], "other string")
    r = out[0]
    assert (r["tags"] or []) == []
    assert r["error.message"] == "rename failed"
    assert r["after"] == "ran"


def test_ignore_failure(spark, registry):
    out = run_one(
        spark, registry,
        [{"convert": {"field": "num", "type": "integer", "ignore_failure": True}},
         {"set": {"field": "after", "value": "ran"}}],
        [("not-a-number",)], "num string")
    r = out[0]
    assert (r["tags"] or []) == []
    # in-place convert retypes the column; unconvertible+ignored -> null
    # (flat static schema; documented divergence)
    assert r["num"] is None
    assert r["after"] == "ran"


def test_pipeline_level_on_failure(spark, registry):
    from logstash_filter_elastic_integration_spark.plans import run_pipeline
    registry.register("p", {
        "processors": [{"fail": {"message": "boom"}}],
        "on_failure": [{"set": {"field": "recovered", "value": "yes"}}],
    })
    df = spark.createDataFrame([("x",)], "other string")
    r = [x.asDict() for x in run_pipeline(df, "p", registry).collect()][0]
    assert r["recovered"] == "yes"
    assert (r["tags"] or []) == []  # handled -> not a pipeline failure


def test_geoip_with_dim_and_missing_db(spark, registry):
    dim = spark.createDataFrame(
        [("1.2.3.4", "US", "Dallas")], "ip string, country string, city string")
    registry.dims["GeoLite2-City.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "src_ip", "target_field": "geo"}},
         {"geoip": {"field": "src_ip", "database_file": "MyCustom.mmdb",
                    "target_field": "geo2"}}],
        [("1.2.3.4",), ("9.9.9.9",)], "src_ip string")
    by_ip = {r["src_ip"]: r for r in out}
    assert by_ip["1.2.3.4"]["geo.country"] == "US"
    assert by_ip["9.9.9.9"]["geo.country"] is None  # miss: no fields, no tag
    # missing database -> reference-parity tag
    assert "_geoip_database_unavailable_MyCustom.mmdb" in by_ip["1.2.3.4"]["tags"]


def test_convert_auto_and_ip(spark, registry):
    out = run_one(
        spark, registry,
        [{"convert": {"field": "a", "type": "auto", "target_field": "a2"}},
         {"convert": {"field": "ip", "type": "ip", "target_field": "ip2"}}],
        [("42", "10.1.2.3")], "a string, ip string")
    assert out[0]["a2"] == "42"
    assert out[0]["ip2"] == "10.1.2.3"


def test_convert_ip_invalid_fails(spark, registry):
    out = run_one(spark, registry,
                  [{"convert": {"field": "ip", "type": "ip"}}],
                  [("not.an.ip.addr",)], "ip string")
    assert "_ingest_pipeline_failure" in (out[0]["tags"] or [])


def test_set_copy_from_and_override(spark, registry):
    out = run_one(
        spark, registry,
        [{"set": {"field": "b", "copy_from": "a"}},
         {"set": {"field": "c", "value": "new", "override": False}}],
        [("val", "keep")], "a string, c string")
    assert out[0]["b"] == "val"
    assert out[0]["c"] == "keep"


def test_append_no_duplicates(spark, registry):
    out = run_one(
        spark, registry,
        [{"append": {"field": "arr", "value": ["b", "c"],
                     "allow_duplicates": False}}],
        [((["a", "b"]),)], "arr array<string>")
    assert out[0]["arr"] == ["a", "b", "c"]


def test_painless_ternary_and_helpers(spark, registry):
    out = run_one(
        spark, registry,
        [{"script": {"source": "ctx.size_class = ctx.n > 10 ? 'big' : 'small'"}},
         {"script": {"source": "ctx.low = Processors.lowercase(ctx.word)"}}],
        [(20, "HELLO"), (5, "WORLD")], "n int, word string")
    by_n = {r["n"]: r for r in out}
    assert by_n[20]["size_class"] == "big"
    assert by_n[5]["size_class"] == "small"
    assert by_n[20]["low"] == "hello"


def test_date_unix_formats(spark, registry):
    out = run_one(
        spark, registry,
        [{"date": {"field": "epoch", "formats": ["UNIX"],
                   "target_field": "iso"}}],
        [("1700000000",)], "epoch string")
    assert out[0]["iso"].startswith("2023-11-14T22:13:20")


def test_mustache_template_fields(spark, registry):
    out = run_one(
        spark, registry,
        [{"set": {"field": "greeting", "value": "hi {{name}}, id={{id}}!"}}],
        [("ada", 7)], "name string, id int")
    assert out[0]["greeting"] == "hi ada, id=7!"


def test_geoip_range_join(spark, registry):
    # IP-range dim (the .mmdb shape): ranges as IPv4-longs
    def ip2long(ip):
        a, b, c, d = (int(x) for x in ip.split("."))
        return (a << 24) | (b << 16) | (c << 8) | d
    dim = spark.createDataFrame(
        [(ip2long("10.0.0.0"), ip2long("10.255.255.255"), "corp", "internal"),
         (ip2long("8.8.8.0"), ip2long("8.8.8.255"), "US", "dns")],
        "lo long, hi long, country string, net string")
    registry.dims["ranges.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "ip", "database_file": "ranges.mmdb",
                    "range_keys": ["lo", "hi"], "target_field": "geo"}}],
        [("10.1.2.3",), ("8.8.8.8",), ("1.1.1.1",)], "ip string")
    by_ip = {r["ip"]: r for r in out}
    assert by_ip["10.1.2.3"]["geo.country"] == "corp"
    assert by_ip["8.8.8.8"]["geo.net"] == "dns"
    assert by_ip["1.1.1.1"]["geo.country"] is None


def test_community_id_known_vector(spark, registry):
    """RFC known-answer test: the canonical published Community-ID vector
    (128.232.110.120:34855 -> 66.35.250.204:80 TCP seed 0)."""
    out = run_one(
        spark, registry, [{"community_id": {}}],
        [("128.232.110.120", 34855, "66.35.250.204", 80, "tcp")],
        "`source.ip` string, `source.port` int, `destination.ip` string, "
        "`destination.port` int, `network.transport` string")
    assert out[0]["network.community_id"] == "1:LQU9qZlK+B5F3KDmev6m5PMibrg="


def test_painless_if_block(spark, registry):
    out = run_one(
        spark, registry,
        [{"script": {"source":
            "if (ctx.n > 10) { ctx.cls = 'big'; ctx.flag = 'Y' } "
            "else { ctx.cls = 'small' }"}}],
        [(20,), (5,)], "n int")
    by_n = {r["n"]: r for r in out}
    assert by_n[20]["cls"] == "big" and by_n[20]["flag"] == "Y"
    assert by_n[5]["cls"] == "small" and by_n[5]["flag"] is None


def test_nested_ternary_condition_routes_rows(spark):
    """A processor `if` has no interpreter fallback: a nested ternary in
    it must lower to one Column condition, and Router.execute reroutes
    exactly the rows it selects."""
    from pyspark.sql import functions as F

    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry)
    from logstash_filter_elastic_integration_spark.router import Router
    reg = PipelineRegistry()
    reg.register("p", {"processors": [
        {"reroute": {"dataset": "picked",
                     "if": "(ctx.a ? (ctx.b ? 'x' : 'y') : 'z') == 'y'"}}]})
    df = spark.createDataFrame(
        [(1, True, True), (2, True, False), (3, False, False),
         (4, False, True)], "id long, a boolean, b boolean") \
        .withColumn("_index", F.lit("logs-a-default"))
    out = Router(registry=reg, routing={"logs-a-default": "p"}).execute(df)
    assert {r["id"]: r["_index"] for r in out.collect()} == {
        1: "logs-a-default", 2: "logs-picked-default",
        3: "logs-a-default", 4: "logs-a-default"}


def test_script_if_keeps_untaken_rows_absent(spark, registry):
    """A lowered `if` that did not assign a field leaves it absent on that
    row: containsKey after the script is true only where a branch wrote
    it, a null write included (present-null)."""
    for src in ("if (ctx.id == 1) { ctx.x = 'w'; }",
                "ctx.a = 1; if (ctx.id == 1) { ctx.x = null; }",
                "if (ctx.id == 2) { ctx.y = 1; } "
                "else if (ctx.id == 1) { if (ctx.a == null) { ctx.x = 'w'; } }"):
        out = run_one(spark, registry, [
            {"script": {"source": src}},
            {"set": {"field": "hasx", "value": "Y",
                     "if": "ctx.containsKey('x')"}},
        ], [(1, "a"), (2, None)], "id long, other string")
        assert {r["id"]: r["hasx"] for r in out} == {1: "Y", 2: None}, src


def test_script_if_chain_past_node_budget_runs_per_row(spark, registry):
    """Each lowered `if` inlines the field's prior value in both arms, so
    20 sequential updates of one field would be a 2^20-node expression:
    the lowering gives up early and the script runs per row instead."""
    import time

    import pytest

    from logstash_filter_elastic_integration_spark.functions.painless import (
        UnsupportedScriptError, compile_script)
    from logstash_filter_elastic_integration_spark.plans.document import (
        resolver_for)
    src = "ctx.score = 0; " + " ".join(
        f"if (ctx.id > {k}) {{ ctx.score = ctx.score + {k}; }}"
        for k in range(20))
    df = spark.createDataFrame([(3,)], "id long")
    t0 = time.perf_counter()
    with pytest.raises(UnsupportedScriptError):
        compile_script(src, resolver_for(df))
    assert time.perf_counter() - t0 < 5
    out = run_one(spark, registry, [{"script": {"source": src}}],
                  [(3,), (30,)], "id long")
    assert {r["id"]: r["score"] for r in out} == {3: 3, 30: 190}


def test_nullsafe_metadata_key_in_condition(spark, registry):
    """`ctx?._tmp?.x` reads the map key `_tmp` in a processor `if`, like
    `ctx._tmp?.x` does (an absent key is null)."""
    out = run_one(spark, registry, [
        {"set": {"field": "hit", "value": "Y",
                 "if": "ctx?._tmp?.x == null && ctx?._temp_?.foo == null"}},
    ], [(1,)], "id long")
    assert out[0]["hit"] == "Y"


def test_dissect_append_and_skip(spark, registry):
    out = run_one(
        spark, registry,
        [{"dissect": {"field": "line",
                      "pattern": "%{+name} %{+name} %{?skipme} %{rest}",
                      "append_separator": "_"}}],
        [("john smith ignored remainder",)], "line string")
    assert out[0]["name"] == "john_smith"
    assert out[0]["rest"] == "remainder"
    assert "skipme" not in out[0]


def test_convert_array_elementwise(spark, registry):
    out = run_one(
        spark, registry,
        [{"convert": {"field": "nums", "type": "integer"}}],
        [((["1", "2", "3"]),)], "nums array<string>")
    assert out[0]["nums"] == [1, 2, 3]


def test_reserved_timestamp_fallback(spark, registry):
    """Dissect golden (spec :303-333): an uncoercible value written to
    @timestamp lands in _@timestamp on the way out."""
    out = run_one(
        spark, registry,
        [{"dissect": {"field": "line",
                      "pattern": "[%{@timestamp}] %{msg}"}}],
        [("[01/Apr/2023:22:00:52 +0000] hello",)], "line string")
    r = out[0]
    assert r["_@timestamp"] == "01/Apr/2023:22:00:52 +0000"
    # the required @timestamp falls back to the ingest timestamp
    # (IngestDuplexMarshaller sanitizeEventRequiredTimestamp chain)
    assert r["@timestamp"] is not None and r["@timestamp"].startswith("20")
    assert r["msg"] == "hello"


def test_reserved_timestamp_coercible_kept(spark, registry):
    out = run_one(
        spark, registry,
        [{"set": {"field": "@timestamp", "value": "2023-03-08T09:10:17.000Z"}},
         {"set": {"field": "@version", "value": "not-an-int"}}],
        [("x",)], "other string")
    r = out[0]
    assert r["@timestamp"] == "2023-03-08T09:10:17.000Z"
    assert r.get("_@timestamp") is None
    assert r["@version"] == "1"          # default applied
    assert r["_@version"] == "not-an-int"


def test_lookup_duplicate_dim_keys_no_fanout(spark, registry):
    """Duplicate keys in the dim must NOT multiply fact rows (ADVICE r1:
    the reference returns exactly one record per key); the deterministic
    pick is the smallest property tuple."""
    dim = spark.createDataFrame(
        [("1.2.3.4", "US", "Dallas"), ("1.2.3.4", "CA", "Toronto")],
        "ip string, country string, city string")
    registry.dims["GeoLite2-City.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "src_ip", "target_field": "geo"}}],
        [("1.2.3.4",), ("1.2.3.4",), ("9.9.9.9",)], "src_ip string")
    assert len(out) == 3  # no row multiplication
    hits = [r for r in out if r["src_ip"] == "1.2.3.4"]
    assert all(r["geo.country"] == "CA" for r in hits)  # deterministic pick


def test_geoip_range_overlap_most_specific_wins(spark, registry):
    """Overlapping IP ranges (normal in CIDR data) resolve to the
    NARROWEST covering range — most-specific-prefix semantics — and
    never duplicate the fact row."""
    def ip2long(ip):
        a, b, c, d = (int(x) for x in ip.split("."))
        return (a << 24) | (b << 16) | (c << 8) | d
    dim = spark.createDataFrame(
        [(ip2long("10.0.0.0"), ip2long("10.255.255.255"), "broad"),
         (ip2long("10.1.0.0"), ip2long("10.1.255.255"), "narrow"),
         (ip2long("10.1.2.0"), ip2long("10.1.2.255"), "narrowest")],
        "lo long, hi long, net string")
    registry.dims["ranges.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "ip", "database_file": "ranges.mmdb",
                    "range_keys": ["lo", "hi"], "target_field": "geo"}}],
        [("10.1.2.3",), ("10.1.9.9",), ("10.200.0.1",), ("11.0.0.1",)],
        "ip string")
    assert len(out) == 4
    by_ip = {r["ip"]: r for r in out}
    assert by_ip["10.1.2.3"]["geo.net"] == "narrowest"
    assert by_ip["10.1.9.9"]["geo.net"] == "narrow"
    assert by_ip["10.200.0.1"]["geo.net"] == "broad"
    assert by_ip["11.0.0.1"]["geo.net"] is None


def test_geoip_range_inference_leaves_registered_config_alone(spark,
                                                              registry):
    """Range mode inferred from a dim's lo/hi columns is decided per
    compile, not written into the registered processor: after the dim is
    replaced by an exact-key one, the same registry resolves by key, as a
    fresh registry does."""
    from logstash_filter_elastic_integration_spark.plans import run_pipeline
    registry.dims["GeoLite2-City.mmdb"] = spark.createDataFrame(
        [(0, 100, "a")], "lo long, hi long, zone string")
    out = run_one(spark, registry,
                  [{"geoip": {"field": "ip", "target_field": "geo"}}],
                  [("0.0.0.7",)], "ip string")
    assert out[0]["geo.zone"] == "a"
    registry.dims["GeoLite2-City.mmdb"] = spark.createDataFrame(
        [("1.2.3.4", "US")], "ip string, country string")
    df = spark.createDataFrame([("1.2.3.4",)], "ip string")
    r = run_pipeline(df, "test", registry).collect()[0]
    assert r["geo.country"] == "US"


def test_grok_watchdog_interrupts_pathological_pattern(spark, registry):
    """A catastrophically backtracking (pattern, input) pair must not stall
    the executor: the per-row watchdog interrupts it and the row fails with
    the reference's MatcherWatchdog message (EventProcessorBuilder.java:
    224-225), distinct from a plain no-match."""
    out = run_one(
        spark, registry,
        [{"grok": {"field": "msg", "patterns": [r"(a+)+c$"],
                   "watchdog_max_exec_ms": 200}}],
        [("a" * 3000 + "b",), ("ok",)], "msg string")
    by = {r["msg"][:2]: r for r in out}
    tags = " ".join(by["aa"]["tags"] or [])
    assert "_grok_parse_failure" in tags or by["aa"]["tags"]
    # distinct watchdog failure message recorded
    fails = by["aa"].get("_ingest_pipeline_failure") or ""
    assert "interrupted" in str(fails)
    # the healthy row is a plain no-match, not an interruption
    fails_ok = str(by["ok"].get("_ingest_pipeline_failure") or "")
    assert "interrupted" not in fails_ok


def test_reserved_timestamp_event_created_fallback(spark, registry):
    """IngestDuplexMarshallerTest ingestDocToEventRemovedAtTimestampWith
    EventCreatedAt: a non-coercible @timestamp falls back to the ECS
    `event.created` value before the ingest timestamp."""
    out = run_one(
        spark, registry,
        [{"set": {"field": "@timestamp", "value": "not a time"}},
         {"set": {"field": "event.created",
                  "value": "2020-01-23T17:45:21.918Z"}}],
        [("x",)], "other string")
    r = out[0]
    assert r["_@timestamp"] == "not a time"
    assert r["@timestamp"] == "2020-01-23T17:45:21.918Z"


def test_reserved_metadata_shape_enforced(spark, registry):
    """IngestDuplexMarshallerTest ingestDocToEventIncludingReservedAt
    MetadataFieldWithInvalidShape: a scalar @metadata moves to _@metadata
    and the required map applies."""
    out = run_one(
        spark, registry,
        [{"set": {"field": "@metadata", "value": "wrong-shape"}}],
        [("x",)], "other string")
    r = out[0]
    assert r["_@metadata"] == "wrong-shape"
    assert r["@metadata"] == {}


def test_reserved_tags_shapes(spark):
    """sanitizeEventOptionalTags: string tags coerce to a one-element list;
    a non-coercible (numeric) tags input moves to _tags."""
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    reg = PipelineRegistry()
    reg.register("t", {"processors": [
        {"set": {"field": "seen", "value": "y"}}]})
    df = spark.createDataFrame([("hello", "strtag")], "msg string, tags string")
    r = run_pipeline(df, "t", reg).collect()[0].asDict()
    assert r["tags"] == ["strtag"]

    df2 = spark.createDataFrame([("hello", 42)], "msg string, tags int")
    r2 = run_pipeline(df2, "t", reg).collect()[0].asDict()
    assert r2["_tags"] == 42
    assert r2["tags"] is None or r2["tags"] == []


def test_ingest_document_metadata_surfaced(spark):
    """normalizeIngestDocumentMetadata (IngestDuplexMarshaller.java:331-346):
    [@metadata][_ingest_document] carries index/version/timestamp; absent
    metadata keys are excluded, version defaults to 1."""
    from logstash_filter_elastic_integration_spark.plans import (
        PipelineRegistry, run_pipeline)
    reg = PipelineRegistry()
    reg.register("m", {"processors": []})
    df = spark.createDataFrame([("logs-x", "hi")], "_index string, msg string")
    r = run_pipeline(df, "m", reg).collect()[0].asDict()
    meta = r["@metadata._ingest_document"]
    assert meta["index"] == "logs-x"
    assert meta["version"] == 1
    assert meta["timestamp"] is not None
    assert "routing" not in meta.asDict()

    # no _index column -> index key excluded entirely
    df2 = spark.createDataFrame([("hi",)], "msg string")
    r2 = run_pipeline(df2, "m", reg).collect()[0].asDict()
    assert "index" not in r2["@metadata._ingest_document"].asDict()


def test_registered_domain_psl_semantics(spark, registry):
    """Full PSL algorithm: exact rules, wildcard ('*.ck'), exception
    ('!www.ck'), default '*' rule for unknown TLDs, multi-label suffixes
    (spec/integration/elastic_integration_spec.rb:668-693 family)."""
    cases = [
        ("www.example.ac.uk", "ac.uk", "example.ac.uk", "www"),
        ("example.com", "com", "example.com", None),
        ("a.b.example.co.jp", "co.jp", "example.co.jp", "a.b"),
        # wildcard *.ck: public suffix is <anything>.ck
        ("foo.bar.ck", "bar.ck", "foo.bar.ck", None),
        ("sub.foo.bar.ck", "bar.ck", "foo.bar.ck", "sub"),
        # exception !www.ck: www.ck itself is registrable
        ("www.ck", "ck", "www.ck", None),
        ("sub.www.ck", "ck", "www.ck", "sub"),
        # unknown TLD: implicit '*' default rule (last label)
        ("example.unknowntld", "unknowntld", "example.unknowntld", None),
        # private-domain rule families
        ("myapp.github.io", "github.io", "myapp.github.io", None),
    ]
    out = run_one(
        spark, registry,
        [{"registered_domain": {"field": "domain_field",
                                "target_field": "url"}}],
        [(d,) for d, *_ in cases], "domain_field string")
    by = {r["domain_field"]: r for r in out}
    for dom, tld, reg, sub in cases:
        r = by[dom]
        assert r["url.top_level_domain"] == tld, (dom, r["url.top_level_domain"])
        assert r["url.registered_domain"] == reg, (dom, r["url.registered_domain"])
        assert r["url.subdomain"] == sub, (dom, r["url.subdomain"])
        assert r["url.domain"] == dom


def test_user_agent_expanded_families(spark, registry):
    """UA families beyond the r1 subset (VERDICT: Opera, Samsung Internet,
    UC, Edge-on-Chrome, Windows NT marketing-version mapping)."""
    uas = {
        "opera": "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"
                 " (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 OPR/106.0.0.0",
        "samsung": "Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36"
                   " (KHTML, like Gecko) Chrome/115.0.0.0 Mobile Safari/537.36"
                   " SamsungBrowser/23.0",
        "uc": "Mozilla/5.0 (Linux; U; Android 12) UCBrowser/13.4.0.1306 Mobile",
        "ie11": "Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko",
        "fx_mobile": "Mozilla/5.0 (Android 14; Mobile; rv:123.0) Gecko/123.0"
                     " Firefox/123.0",
        "yandex": "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/"
                  "537.36 (KHTML, like Gecko) Chrome/122.0.0.0 YaBrowser/"
                  "24.4.1.951 Yowser/2.5 Safari/537.36",
        "vivaldi": "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36"
                   " (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36"
                   " Vivaldi/6.7",
        "wechat": "Mozilla/5.0 (Linux; Android 13; 22081212C) AppleWebKit/"
                  "537.36 (KHTML, like Gecko) Version/4.0 Chrome/116.0.0.0"
                  " Mobile Safari/537.36 XWEB/1160065 MMWEBSDK/20231202"
                  " MicroMessenger/8.0.47",
        "silk": "Mozilla/5.0 (Linux; Android 9; KFTRWI) AppleWebKit/537.36"
                " (KHTML, like Gecko) Silk/112.5.1 like Chrome/112.0.0.0"
                " Safari/537.36",
    }
    out = run_one(
        spark, registry,
        [{"user_agent": {"field": "agent"}}],
        [(k, v) for k, v in uas.items()], "k string, agent string")
    by = {r["k"]: r for r in out}
    assert by["opera"]["user_agent.name"] == "Opera"
    assert by["opera"]["user_agent.version"].startswith("106")
    assert by["opera"]["user_agent.os.name"] == "Windows"
    assert by["opera"]["user_agent.os.version"] == "10"
    assert by["samsung"]["user_agent.name"] == "Samsung Internet"
    assert by["samsung"]["user_agent.device.name"] == "Samsung SM-S918B"
    assert by["uc"]["user_agent.name"] == "UC Browser"
    assert by["ie11"]["user_agent.name"] == "IE"
    assert by["ie11"]["user_agent.version"].startswith("11")
    assert by["ie11"]["user_agent.os.version"] == "7"
    assert by["fx_mobile"]["user_agent.name"] == "Firefox Mobile"
    assert by["yandex"]["user_agent.name"] == "Yandex Browser"
    assert by["yandex"]["user_agent.version"].startswith("24.4")
    assert by["vivaldi"]["user_agent.name"] == "Vivaldi"
    assert by["vivaldi"]["user_agent.os.name"] == "Linux"
    assert by["wechat"]["user_agent.name"] == "WeChat"
    assert by["wechat"]["user_agent.os.name"] == "Android"
    assert by["silk"]["user_agent.name"] == "Amazon Silk"
    assert by["silk"]["user_agent.version"].startswith("112.5")


def _community_id_model(seed, saddr, daddr, proto, sport, dport, one_way=False):
    """Independent python model of Community ID v1 (ipaddress + hashlib)."""
    import base64
    import hashlib
    import ipaddress
    import struct
    sb = ipaddress.ip_address(saddr).packed
    db = ipaddress.ip_address(daddr).packed
    if not one_way and (sb > db or (sb == db and sport > dport)):
        sb, db, sport, dport = db, sb, dport, sport
    payload = (struct.pack("!H", seed) + sb + db
               + struct.pack("!BBHH", proto, 0, sport, dport))
    return "1:" + base64.b64encode(hashlib.sha1(payload).digest()).decode()


def test_community_id_ipv6_and_icmp(spark, registry):
    """IPv6 endpoints hash correctly (r1 produced null under a passing ok
    gate); ICMP derives the port pair from type/code with the
    bidirectional-equivalent table; one-way ICMP types never flip."""
    schema = ("`source.ip` string, `source.port` int, `destination.ip` string, "
              "`destination.port` int, `network.transport` string, "
              "`icmp.type` int, `icmp.code` int, k string")
    rows = [
        ("2001:db8::68", 2305, "2001:db8::69", 80, "tcp", None, None, "v6tcp"),
        ("192.168.0.89", 0, "192.168.0.1", 0, "icmp", 8, 0, "echo"),
        ("192.168.0.89", 0, "192.168.0.1", 0, "icmp", 11, 0, "oneway"),
        ("fe80::1", 0, "fe80::2", 0, "icmpv6", 128, 0, "v6echo"),
    ]
    out = run_one(spark, registry, [{"community_id": {}}], rows, schema)
    by = {r["k"]: r for r in out}
    assert by["v6tcp"]["network.community_id"] == _community_id_model(
        0, "2001:db8::68", "2001:db8::69", 6, 2305, 80)
    # echo request: dst "port" is the equivalent reply type (0)
    assert by["echo"]["network.community_id"] == _community_id_model(
        0, "192.168.0.89", "192.168.0.1", 1, 8, 0)
    # time-exceeded (11) has no equivalent: one-way, ports (type, code)
    assert by["oneway"]["network.community_id"] == _community_id_model(
        0, "192.168.0.89", "192.168.0.1", 1, 11, 0, one_way=True)
    assert by["v6echo"]["network.community_id"] == _community_id_model(
        0, "fe80::1", "fe80::2", 58, 128, 129)


def test_community_id_invalid_ip_fails_cleanly(spark, registry):
    """Unparseable endpoints fail with the missing-fields message instead
    of hashing nulls."""
    out = run_one(
        spark, registry, [{"community_id": {}}],
        [("not-an-ip", 1, "10.0.0.1", 2, "tcp")],
        "`source.ip` string, `source.port` int, `destination.ip` string, "
        "`destination.port` int, `network.transport` string")
    assert "_ingest_pipeline_failure" in (out[0]["tags"] or [])


def test_network_direction_ipv6_internal(spark, registry):
    out = run_one(
        spark, registry,
        [{"network_direction": {"internal_networks":
                                ["private", "loopback", "2001:db8::/32"]}}],
        [("fd00::1", "2001:db8::5", "both"),
         ("fd00::1", "2607:f8b0::1", "out"),
         ("2607:f8b0::1", "::1", "in"),
         ("2607:f8b0::1", "2600::1", "ext")],
        "`source.ip` string, `destination.ip` string, k string")
    by = {r["k"]: r for r in out}
    assert by["both"]["network.direction"] == "internal"
    assert by["out"]["network.direction"] == "outbound"
    assert by["in"]["network.direction"] == "inbound"
    assert by["ext"]["network.direction"] == "external"


def test_date_tai64n_and_week_formats(spark, registry):
    """TAI64N parses with ES DateFormat.Tai64n semantics (r1 yielded null);
    ISO week dates and ordinal dates parse despite Spark banning week-based
    pattern letters."""
    tai = "@4000000037c219bf2ef02e94"
    exp_ms = int(tai[2:17], 16) * 1000 - 10000 + int(tai[17:25], 16) // 10**6
    import datetime
    exp = datetime.datetime.fromtimestamp(exp_ms / 1000.0,
                                          tz=datetime.timezone.utc)
    out = run_one(
        spark, registry,
        [{"date": {"field": "t", "formats": ["TAI64N"], "target_field": "iso"}}],
        [(tai,)], "t string")
    assert out[0]["iso"].startswith(exp.strftime("%Y-%m-%dT%H:%M:%S"))

    out2 = run_one(
        spark, registry,
        [{"date": {"field": "t", "formats": ["week_date"],
                   "target_field": "iso"}}],
        [("2023-W10-3",)], "t string")
    assert out2[0]["iso"].startswith("2023-03-08T00:00:00")

    out3 = run_one(
        spark, registry,
        [{"date": {"field": "t", "formats": ["ordinal_date"],
                   "target_field": "iso"}}],
        [("2023-067",)], "t string")
    assert out3[0]["iso"].startswith("2023-03-08T00:00:00")

    # unparseable TAI64N still fails the row (parse-or-fail, not null-out)
    out4 = run_one(
        spark, registry,
        [{"date": {"field": "t", "formats": ["TAI64N"], "target_field": "iso"}}],
        [("garbage",)], "t string")
    assert "_ingest_pipeline_failure" in (out4[0]["tags"] or [])


def test_painless_math_parse_and_string_methods(spark, registry):
    """Widened painless subset: Math.*, Integer/Double parse statics,
    String.valueOf, substring/indexOf/replace, Processors.bytes."""
    out = run_one(
        spark, registry,
        [{"script": {"source": "ctx.mx = Math.max(ctx.a, ctx.b);"}},
         {"script": {"source": "ctx.fl = Math.floor(ctx.f)"}},
         {"script": {"source": "ctx.n = Integer.parseInt(ctx.numstr)"}},
         {"script": {"source": "ctx.bad = Integer.parseInt(ctx.word)"}},
         {"script": {"source": "ctx.s = String.valueOf(ctx.a)"}},
         {"script": {"source": "ctx.sub = ctx.word.substring(1, 3)"}},
         {"script": {"source": "ctx.idx = ctx.word.indexOf('l')"}},
         {"script": {"source": "ctx.rep = ctx.word.replace('l', 'L')"}},
         {"script": {"source": "ctx.kb = Processors.bytes('2kb')"}}],
        [(3, 7, 2.9, "41", "hello")],
        "a int, b int, f double, numstr string, word string")
    r = out[0]
    assert r["mx"] == 7
    assert r["fl"] == 2
    assert r["n"] == 41
    assert r["bad"] is None  # NumberFormatException analogue: null
    assert r["s"] == "3"
    assert r["sub"] == "el"
    assert r["idx"] == 2
    assert r["rep"] == "heLLo"
    assert r["kb"] == 2048


def test_foreach_bytes_elementwise(spark, registry):
    from tests.conftest import run_one
    rows = run_one(spark, registry, [
        {"foreach": {"field": "sizes",
                     "processor": {"bytes": {}}}}],
        [(1, ["1kb", "2mb", "10b"])], "id long, sizes array<string>")
    assert rows[0]["sizes"] == [1024, 2 * 1024 * 1024, 10]


def test_kv_trim_strip_exclude_options(spark, registry):
    """ES KeyValueProcessor option parity: trim_key/trim_value char sets,
    strip_brackets, exclude_keys (all JVM-side)."""
    out = run_one(
        spark, registry,
        [{"kv": {"field": "msg", "field_split": " ", "value_split": "=",
                 "trim_key": "_", "trim_value": " ",
                 "strip_brackets": True,
                 "exclude_keys": ["secret"],
                 "include_keys": ["a", "b", "c"]}}],
        [(1, "_a_=[x] b=<y> secret=s c='z'")], "id long, msg string")
    r = out[0]
    assert r["a"] == "x" and r["b"] == "y" and r["c"] == "z"
    assert "secret" not in r or r.get("secret") is None


def test_kv_strip_brackets_single_layer_only(spark, registry):
    """ES strips exactly one leading + one trailing bracket: ((x)) -> (x),
    not x (the btrim char-set behavior this replaced)."""
    out = run_one(
        spark, registry,
        [{"kv": {"field": "msg", "field_split": " ", "value_split": "=",
                 "strip_brackets": True,
                 "include_keys": ["a", "b"]}}],
        [(1, "a=((x)) b=[<y>]")], "id long, msg string")
    r = out[0]
    assert r["a"] == "(x)"
    assert r["b"] == "<y>"


def test_kv_exclude_on_dynamic_extras(spark, registry):
    out = run_one(
        spark, registry,
        [{"kv": {"field": "msg", "field_split": " ", "value_split": "=",
                 "exclude_keys": ["drop_me"]}}],
        [(1, "keep=1 drop_me=2")], "id long, msg string")
    extras = out[0]["_extras"]
    assert extras.get("keep") == "1"
    assert "drop_me" not in extras


def test_convert_ip_on_array(spark, registry):
    """convert type=ip over an array column: every element validated, one
    bad element fails the whole row (ES element-wise semantics)."""
    out = run_one(
        spark, registry,
        [{"convert": {"field": "ips", "type": "ip"}}],
        [(1, ["10.0.0.1", "192.168.1.9"]), (2, ["10.0.0.1", "nope"])],
        "id long, ips array<string>")
    by = {r["id"]: r for r in out}
    assert (by[1].get("tags") or []) == []
    assert by[1]["ips"] == ["10.0.0.1", "192.168.1.9"]
    assert "_ingest_pipeline_failure" in (by[2].get("tags") or [])


def test_csv_empty_value_fill(spark, registry):
    out = run_one(
        spark, registry,
        [{"csv": {"field": "line", "target_fields": ["a", "b", "c"],
                  "empty_value": "N/A"}}],
        [(1, "x,,z")], "id long, line string")
    r = out[0]
    assert r["a"] == "x" and r["b"] == "N/A" and r["c"] == "z"


def test_network_direction_dynamic_networks_field(spark, registry):
    """internal_networks_field: per-ROW network lists (ES option) — pure
    Column expressions, no UDF."""
    out = run_one(
        spark, registry,
        [{"network_direction": {
            "internal_networks_field": "nets"}}],
        [
            # row-specific CIDR: 10.x internal here
            ("10.1.2.3", "8.8.8.8", ["10.0.0.0/8"]),
            # same src considered EXTERNAL for this row's networks
            ("10.1.2.3", "192.168.0.9", ["192.168.0.0/16"]),
            # named range element
            ("127.0.0.1", "1.2.3.4", ["loopback"]),
            # bare IP element = /32
            ("4.4.4.4", "9.9.9.9", ["4.4.4.4"]),
            # dynamic IPv6 CIDR (nibble-aligned)
            ("fc12::1", "2001:db8::1", ["fc00::/8"]),
            # NON-nibble-aligned /10: fe80::1 IS in fe80::/10
            ("fe80::1", "2001:db8::1", ["fe80::/10"]),
            # ... but fec0::1 is NOT (bit 10 differs) — both external
            ("fec0::1", "2001:db8::1", ["fe80::/10"]),
        ],
        "`source.ip` string, `destination.ip` string, nets array<string>")
    dirs = [r["network.direction"] for r in out]
    assert dirs == ["outbound", "inbound", "outbound", "outbound",
                    "outbound", "outbound", "external"]


def test_user_agent_properties_and_device_type(spark, registry):
    ua_chrome = ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/"
                 "537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36")
    ua_phone = ("Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36"
                " (KHTML, like Gecko) Chrome/115.0.0.0 Mobile Safari/537.36")
    ua_bot = "Googlebot/2.1 (+http://www.google.com/bot.html)"
    out = run_one(
        spark, registry,
        [{"user_agent": {"field": "agent", "properties": ["name", "os"],
                         "extract_device_type": True}}],
        [("c", ua_chrome), ("p", ua_phone), ("b", ua_bot)],
        "k string, agent string")
    by = {r["k"]: r for r in out}
    assert by["c"]["user_agent.name"] == "Chrome"
    assert by["c"]["user_agent.os.name"] == "Windows"
    # properties filter: version/original/device.name dropped
    assert "user_agent.version" not in by["c"]
    assert "user_agent.original" not in by["c"]
    assert "user_agent.device.name" not in by["c"]
    # device.type survives via extract_device_type... wait: filtered by properties?
    # ES keeps requested properties only; device not requested -> dropped too
    assert "user_agent.device.type" not in by["c"]
    out2 = run_one(
        spark, registry,
        [{"user_agent": {"field": "agent", "extract_device_type": True}}],
        [("c", ua_chrome), ("p", ua_phone), ("b", ua_bot)],
        "k string, agent string")
    by2 = {r["k"]: r for r in out2}
    assert by2["c"]["user_agent.device.type"] == "Desktop"
    assert by2["p"]["user_agent.device.type"] == "Phone"
    assert by2["b"]["user_agent.device.type"] == "Robot"


def test_rename_override(spark, registry):
    out = run_one(
        spark, registry,
        [{"rename": {"field": "a", "target_field": "b", "override": True}}],
        [("src", "old")], "a string, b string")
    assert out[0]["b"] == "src"
    assert (out[0]["tags"] or []) == []
    out2 = run_one(
        spark, registry,
        [{"rename": {"field": "a", "target_field": "b"}}],
        [("src", "old")], "a string, b string")
    assert "_ingest_pipeline_failure" in (out2[0]["tags"] or [])


def test_grok_trace_match_index(spark, registry):
    out = run_one(
        spark, registry,
        [{"grok": {"field": "msg",
                   "patterns": ["^num=%{INT:n}$", "^word=%{WORD:w}$"],
                   "trace_match": True}}],
        [(1, "num=5"), (2, "word=hey")], "id long, msg string")
    by = {r["id"]: r for r in out}
    assert by[1]["_ingest._grok_match_index"] == "0"
    assert by[2]["_ingest._grok_match_index"] == "1"


def test_dissect_reference_keys(spark, registry):
    """%{*k}/%{&k}: field NAME from the data; lands in _extras and reads
    back through lift-on-read (set copy_from / painless)."""
    out = run_one(
        spark, registry,
        [{"dissect": {"field": "line", "pattern": "%{*k1}=%{&k1} %{rest}"}},
         {"set": {"field": "copied", "copy_from": "color"}}],
        [(1, "color=red tail"), (2, "size=XL tail")], "id long, line string")
    by = {r["id"]: r for r in out}
    assert by[1]["_extras"].get("color") == "red"
    assert by[1]["copied"] == "red"
    assert by[2]["_extras"].get("size") == "XL"
    assert by[1]["rest"] == "tail"


def test_dissect_unpaired_reference_key_fails_compile(spark, registry):
    import pytest as _pytest

    from logstash_filter_elastic_integration_spark.functions.dissect import (
        compile_dissect)
    with _pytest.raises(ValueError, match="reference key"):
        compile_dissect("%{*a}=%{b}")


def test_json_add_to_root(spark, registry):
    # schema path: fields become root columns
    out = run_one(
        spark, registry,
        [{"json": {"field": "payload", "add_to_root": True,
                   "schema": "a string, n long"}}],
        [(1, '{"a": "x", "n": 7}')], "id long, payload string")
    assert out[0]["a"] == "x" and out[0]["n"] == 7
    # dynamic path: keys land in _extras and read back via lift-on-read
    out2 = run_one(
        spark, registry,
        [{"json": {"field": "payload", "add_to_root": True}},
         {"set": {"field": "copied", "copy_from": "color"}}],
        [(1, '{"color": "red", "size": "XL"}')], "id long, payload string")
    assert out2[0]["_extras"].get("color") == "red"
    assert out2[0]["copied"] == "red"


def test_script_stored_id(spark, registry):
    # ES stored scripts: `id` resolves from the script store (registry
    # analogue); unknown id fails the document like the reference
    registry.scripts["double_it"] = "ctx.twice = ctx.n * 2;"
    out = run_one(spark, registry,
                  [{"script": {"id": "double_it"}}],
                  [(21,)], "n long")
    assert out[0]["twice"] == 42
    out2 = run_one(spark, registry,
                   [{"script": {"id": "nope"}}],
                   [(1,)], "n long")
    assert (out2[0]["tags"] or []) != []


def test_grok_jvm_packed_separator_laden_input(spark, registry):
    """VERDICT r4 #6: source text containing the \\x01 packing separator
    must not mis-split the packed capture column — such rows take the
    per-group extract branch and parse exactly."""
    rows = [
        ("alpha bravo 42",),
        ("al\x01pha bravo 17",),          # \x01 inside a capture
        ("\x01\x01alpha bravo 5\x01",),   # leading/trailing separators
    ]
    out = run_one(
        spark, registry,
        [{"grok": {"field": "m", "engine": "jvm",
                   "patterns": [r"%{DATA:a} %{WORD:b} %{INT:c:int}"],
                   "ignore_failure": True}}],
        rows, "m string")
    assert (out[0]["a"], out[0]["b"], out[0]["c"]) == ("alpha", "bravo", 42)
    assert (out[1]["a"], out[1]["b"], out[1]["c"]) == ("al\x01pha", "bravo", 17)
    assert out[2]["b"] == "bravo"
    assert out[2]["c"] == 5


def test_grok_jvm_packed_fuzz_vs_python_re(spark, registry):
    """Deterministic fuzz: random printable text with \\x01 sprinkled in,
    JVM packed grok vs a Python-re reference evaluation of the same
    pattern.  One Spark job for all examples."""
    import random
    import re as _re
    rnd = random.Random(20260817)
    alphabet = "ab c1\x01-Z."
    rows = ["".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 30)))
            for _ in range(200)]
    out = run_one(
        spark, registry,
        [{"grok": {"field": "m", "engine": "jvm",
                   "patterns": [r"%{DATA:a}-%{DATA:b}-%{GREEDYDATA:c}"],
                   "ignore_failure": True}}],
        [(r,) for r in rows], "m string")
    ref_rx = _re.compile(r"^(?P<a>.*?)-(?P<b>.*?)-(?P<c>.*)$", _re.DOTALL)

    def norm(s):
        # engine contract: empty captures land as null (regexp_extract
        # cannot distinguish empty match from no match)
        return s if s else None

    for row, got in zip(rows, out):
        m = ref_rx.search(row)
        if m:
            assert got["a"] == norm(m.group("a")), repr(row)
            assert got["b"] == norm(m.group("b")), repr(row)
            assert got["c"] == norm(m.group("c")), repr(row)
        else:
            assert got.get("a") is None, repr(row)


def test_fingerprint_murmurhash3_matches_guava(spark, registry):
    """ES FingerprintProcessor `MurmurHash3` = MurmurHash3 x64_128 seed 0,
    h1||h2 little-endian, base64.  Cross-check the pure-Python kernel
    against Spark's shaded Guava murmur3_128 (same algorithm + layout),
    then the processor end-to-end."""
    import base64
    from logstash_filter_elastic_integration_spark.functions.murmur3 import (
        murmur3_x64_128)
    jvm = spark.sparkContext._jvm
    hashing = jvm.org.sparkproject.guava.hash.Hashing
    for payload in [b"", b"a", b"foo", b"The quick brown fox", b"\x00" * 16,
                    bytes(range(64)), "smörgåsbord".encode(), b"x" * 17]:
        expect = bytes(hashing.murmur3_128(0).hashBytes(payload).asBytes())
        assert murmur3_x64_128(payload) == expect, payload

    out = run_one(
        spark, registry,
        [{"fingerprint": {"fields": ["v"], "method": "MurmurHash3"}}],
        [("sequence",), (None,)], "v string")
    # canonical bytes for a top-level string value: UTF-8 only (the same
    # serialization every other method uses, golden-pinned in _es_fp_enc)
    canon = b"sequence"
    expect64 = base64.b64encode(
        bytes(hashing.murmur3_128(0).hashBytes(canon).asBytes())).decode()
    assert out[0]["fingerprint"] == expect64
    assert out[1].get("fingerprint") is None
