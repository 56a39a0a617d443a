"""Processor option corners vs the ES surface: set ignore_empty_value /
media_type, remove keep, json strict_json_parsing / conflict strategy,
dot_expander path/*/override, geoip first_only, redact trace_redact, date
locale, grok ecs_compatibility, user_agent regex_file, painless
Processors.uriParts / json(map, field)."""

import textwrap

import pytest

from tests.conftest import run_one


# ------------------------------------------------------------------- set --
def test_set_ignore_empty_value_skips_null_and_empty(spark, registry):
    out = run_one(
        spark, registry,
        [{"set": {"field": "dst", "copy_from": "src",
                  "ignore_empty_value": True}}],
        [("x", "keep"), ("", "keep"), (None, "keep")],
        "src string, dst string")
    assert [r["dst"] for r in out] == ["x", "keep", "keep"]
    assert all((r["tags"] or []) == [] for r in out)


def test_set_media_type_validated(spark, registry):
    with pytest.raises(Exception, match="media_type"):
        run_one(spark, registry,
                [{"set": {"field": "x", "value": "v",
                          "media_type": "application/yaml"}}],
                [("a",)], "other string")


# ---------------------------------------------------------------- remove --
def test_remove_keep_drops_everything_else(spark, registry):
    out = run_one(
        spark, registry,
        [{"kv": {"field": "raw", "field_split": " ", "value_split": "="}},
         {"remove": {"keep": ["a", "raw"]}}],
        [("a=1 b=2", "gone")], "raw string, extra_col string")
    r = out[0]
    assert r["raw"] == "a=1 b=2"
    assert r["extra_col"] is None
    ex = r.get("_extras") or {}
    assert "b" not in ex and ex.get("a") == "1"


def test_remove_keep_and_field_mutually_exclusive(spark, registry):
    with pytest.raises(Exception, match="keep"):
        run_one(spark, registry,
                [{"remove": {"field": "x", "keep": ["y"]}}],
                [("a", "b")], "x string, y string")


# ------------------------------------------------------------------ json --
def test_json_lenient_parses_leading_value(spark, registry):
    out = run_one(
        spark, registry,
        [{"json": {"field": "raw", "target_field": "parsed",
                   "strict_json_parsing": False}}],
        [("123 trailing junk",), ('{"a": 1} extra',)], "raw string")
    assert str(out[0]["parsed"]) == "123"
    assert '"a"' in str(out[1]["parsed"])
    assert all((r["tags"] or []) == [] for r in out)


def test_json_strict_rejects_trailing(spark, registry):
    out = run_one(
        spark, registry,
        [{"json": {"field": "raw", "target_field": "parsed"}}],
        [("123 trailing junk",)], "raw string")
    assert any("_failure" in t or "fail" in t.lower()
               for t in (out[0]["tags"] or [])) or out[0]["parsed"] is None


def test_json_add_to_root_merge_strategy_dynamic(spark, registry):
    # old extras value for "meta" is a json object; merge keeps its keys
    out = run_one(
        spark, registry,
        [{"json": {"field": "first", "add_to_root": True}},
         {"json": {"field": "second", "add_to_root": True,
                   "add_to_root_conflict_strategy": "merge"}}],
        [('{"meta": {"a": "1"}}', '{"meta": {"b": "2"}}')],
        "first string, second string")
    ex = out[0]["_extras"]
    assert '"a"' in ex["meta"] and '"b"' in ex["meta"]


def test_json_duplicate_keys_strict_default_rejects(spark, registry):
    # ES allow_duplicate_keys defaults to false: duplicate keys fail the
    # doc (JsonProcessor strict XContent dup check).  Nested same-name
    # keys at different levels and colons inside string values must NOT
    # trip the detector.
    out = run_one(
        spark, registry,
        [{"json": {"field": "raw", "target_field": "parsed"}}],
        [('{"a":1,"a":2}',),
         ('{"a":1,"b":{"c":1,"c":2}}',),
         ('{"a":{"a":1},"b":2}',),
         ('{"a":"x:y","b":"he said \\"c\\": ok"}',)],
        "raw string")
    def failed(r):
        return any("fail" in t.lower() for t in (r["tags"] or []))
    assert failed(out[0]) and failed(out[1])
    assert not failed(out[2]) and not failed(out[3])


def test_json_allow_duplicate_keys_last_wins_then_strict_still_exact(
        spark, registry):
    # allow_duplicate_keys: true -> last duplicate wins (flips the
    # session variant conf) ...
    out = run_one(
        spark, registry,
        [{"json": {"field": "raw", "target_field": "parsed",
                   "allow_duplicate_keys": True}}],
        [('{"a":1,"a":2}',)], "raw string")
    assert (out[0]["tags"] or []) == []
    assert '"a":2' in str(out[0]["parsed"]).replace(" ", "")
    # ... and a strict-default pipeline built AFTERWARDS in the same
    # session must still reject duplicates despite the flipped conf.
    out2 = run_one(
        spark, registry,
        [{"json": {"field": "raw", "target_field": "parsed"}}],
        [('{"a":1,"a":2}',), ('{"a":1}',)], "raw string")
    assert any("fail" in t.lower() for t in (out2[0]["tags"] or []))
    assert (out2[1]["tags"] or []) == []


def test_json_conflict_strategy_validated(spark, registry):
    with pytest.raises(Exception, match="conflict"):
        run_one(spark, registry,
                [{"json": {"field": "raw", "add_to_root": True,
                           "add_to_root_conflict_strategy": "nope"}}],
                [('{"a":1}',)], "raw string")


# ---------------------------------------------------------- dot_expander --
def test_dot_expander_path_prefix(spark, registry):
    out = run_one(
        spark, registry,
        [{"kv": {"field": "raw", "field_split": " ", "value_split": "="}},
         {"dot_expander": {"field": "b.c", "path": "app"}}],
        [("app.b.c=5",)], "raw string")
    assert out[0]["app.b.c"] == "5"


def test_dot_expander_wildcard_noop(spark, registry):
    out = run_one(
        spark, registry,
        [{"dot_expander": {"field": "*"}}],
        [("v",)], "`a.b` string")
    assert out[0]["a.b"] == "v"


def test_dot_expander_override_replaces_static(spark, registry):
    out = run_one(
        spark, registry,
        [{"kv": {"field": "raw", "field_split": " ", "value_split": "="}},
         {"dot_expander": {"field": "x.y", "override": True}}],
        [("x.y=new", "old")], "raw string, `x.y` string")
    assert out[0]["x.y"] == "new"


def test_dot_expander_override_false_fails_loud(spark, registry):
    with pytest.raises(Exception, match="override"):
        run_one(spark, registry,
                [{"kv": {"field": "raw", "field_split": " ",
                         "value_split": "="}},
                 {"dot_expander": {"field": "x.y", "override": False}}],
                [("x.y=new", "old")], "raw string, `x.y` string")


# ----------------------------------------------------------- geoip array --
def test_geoip_first_only_takes_first_element(spark, registry):
    dim = spark.createDataFrame(
        [("1.2.3.4", "US")], "ip string, country string")
    registry.dims["GeoLite2-City.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "ips", "target_field": "geo"}}],
        [(["1.2.3.4", "9.9.9.9"],)], "ips array<string>")
    assert out[0]["geo.country"] == "US"


def test_geoip_first_only_false_exact_dim(spark, registry):
    # ES GeoIpProcessor list semantics: one entry per element, null
    # placeholder for misses, target unset when nothing resolved
    # a null dim key never matches, not even the element "None"
    dim = spark.createDataFrame(
        [("1.2.3.4", "US", "Dallas"), ("5.6.7.8", "DE", "Berlin"),
         (None, "XX", "ghost")],
        "ip string, country string, city string")
    registry.dims["GeoLite2-City.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "ips", "target_field": "geo",
                    "first_only": False}}],
        [(["1.2.3.4", "9.9.9.9", "5.6.7.8", "None"],), (["9.9.9.9"],),
         (None,), (["None"],)],
        "ips array<string>")
    geos = out[0]["geo"]
    assert [g and g["country"] for g in geos] == ["US", None, "DE", None]
    assert geos[2]["city"] == "Berlin"
    assert out[1]["geo"] is None  # no element resolved -> target unset
    assert out[2]["geo"] is None
    assert out[3]["geo"] is None


def test_geoip_first_only_false_range_dim(spark, registry):
    # 1.2.3.0/24 and 10.0.0.0/8 as (lo, hi) long ranges
    dim = spark.createDataFrame(
        [(16909056, 16909311, "US"), (167772160, 184549375, "PRIVATE")],
        "lo long, hi long, country string")
    registry.dims["GeoLite2-City.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "ips", "target_field": "geo",
                    "first_only": False, "range_keys": ["lo", "hi"]}}],
        [(["1.2.3.200", "8.8.8.8", "10.1.2.3", "garbage"],)],
        "ips array<string>")
    geos = out[0]["geo"]
    assert [g and g["country"] for g in geos] == \
        ["US", None, "PRIVATE", None]


def test_geoip_first_only_false_big_dim_broadcast_path(spark, registry):
    # >_MULTI_LITERAL_CAP entries forces the broadcast-dict pandas path
    rows = [(f"10.0.{i // 256}.{i % 256}", f"C{i}") for i in range(1500)]
    dim = spark.createDataFrame(rows + [(None, "ghost")],
                                "ip string, country string")
    registry.dims["GeoLite2-City.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "ips", "target_field": "geo",
                    "first_only": False}}],
        [(["10.0.1.44", "nope", "None"],)], "ips array<string>")
    geos = out[0]["geo"]
    assert geos[0]["country"] == "C300"
    assert geos[1] is None
    assert geos[2] is None  # the null dim key is not the string "None"


# ---------------------------------------------------------------- redact --
def test_redact_trace_flag(spark, registry):
    out = run_one(
        spark, registry,
        [{"redact": {"field": "msg", "patterns": ["%{IP:client}"],
                     "trace_redact": True}}],
        [("ip was 1.2.3.4",), ("no ip here",)], "msg string")
    assert out[0]["msg"] == "ip was <client>"
    assert out[0]["_ingest._redact._is_redacted"] is True
    assert out[1]["_ingest._redact._is_redacted"] is None


# ------------------------------------------------------------------ date --
def test_date_locale_english_ok_unknown_fail(spark, registry):
    out = run_one(
        spark, registry,
        [{"date": {"field": "d", "formats": ["yyyy-MM-dd"],
                   "locale": "en-US"}}],
        [("2024-05-06",)], "d string")
    assert out[0]["@timestamp"].startswith("2024-05-06")
    with pytest.raises(Exception, match="locale"):
        run_one(spark, registry,
                [{"date": {"field": "d", "formats": ["d MMMM yyyy"],
                           "locale": "xx-XX"}}],
                [("6 May 2024",)], "d string")


@pytest.mark.parametrize("loc,fmt,text,iso", [
    # goldens cross-checked against java.time DateTimeFormatter
    # .withLocale for each language (CLDR name data)
    ("fr-FR", "d MMMM yyyy", "8 mars 2023", "2023-03-08"),
    ("fr",    "d MMM yyyy",  "5 janv. 2023", "2023-01-05"),
    ("de-DE", "d. MMMM yyyy", "8. März 2023", "2023-03-08"),
    ("de",    "EEEE, d. MMMM yyyy", "Mittwoch, 8. März 2023",
     "2023-03-08"),
    ("es-ES", "d 'de' MMMM 'de' yyyy", "8 de marzo de 2023",
     "2023-03-08"),
    ("it-IT", "d MMMM yyyy", "8 marzo 2023", "2023-03-08"),
    ("pt-BR", "d 'de' MMMM 'de' yyyy", "8 de dezembro de 2023",
     "2023-12-08"),
    ("nl",    "d MMMM yyyy", "8 augustus 2023", "2023-08-08"),
    ("ru-RU", "d MMMM yyyy", "8 марта 2023", "2023-03-08"),
    ("ru",    "d MMMM yyyy 'г.'", "8 августа 2023 г.", "2023-08-08"),
    ("pl",    "d MMMM yyyy", "8 października 2023", "2023-10-08"),
    ("zh-CN", "yyyy'年'MMMM d'日'", "2023年三月 8日", "2023-03-08"),
])
def test_date_locale_banks(spark, registry, loc, fmt, text, iso):
    out = run_one(
        spark, registry,
        [{"date": {"field": "d", "formats": [fmt], "locale": loc}}],
        [(text,)], "d string")
    assert out[0]["@timestamp"].startswith(iso), (loc, out[0])


def test_date_locale_numeric_format_untouched(spark, registry):
    # no text field in the format -> the normalizer must not rewrite
    # (and must not cost anything); value parses as-is
    out = run_one(
        spark, registry,
        [{"date": {"field": "d", "formats": ["dd.MM.yyyy"],
                   "locale": "de-DE"}}],
        [("08.03.2023",)], "d string")
    assert out[0]["@timestamp"].startswith("2023-03-08")


def test_date_locale_case_insensitive(spark, registry):
    # CLDR fr months are lowercase; accept any input casing like java
    # .time's case-insensitive parser
    out = run_one(
        spark, registry,
        [{"date": {"field": "d", "formats": ["d MMMM yyyy"],
                   "locale": "fr"}}],
        [("8 Mars 2023",), ("8 FÉVRIER 2023",)], "d string")
    assert out[0]["@timestamp"].startswith("2023-03-08")
    assert out[1]["@timestamp"].startswith("2023-02-08")


# ------------------------------------------------------------------ grok --
def test_grok_ecs_v1_bank_common_log(spark, registry):
    line = ('127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
            '"GET /apache_pb.gif HTTP/1.0" 200 2326')
    out = run_one(
        spark, registry,
        [{"grok": {"field": "message", "patterns": ["%{COMMONAPACHELOG}"],
                   "ecs_compatibility": "v1"}}],
        [(line,)], "message string")
    r = out[0]
    assert r["source.address"] == "127.0.0.1"
    assert r["user.name"] == "frank"
    assert r["http.request.method"] == "GET"
    assert r["url.original"] == "/apache_pb.gif"
    assert r["http.response.status_code"] == 200
    assert r["http.response.body.bytes"] == 2326


def test_grok_legacy_bank_unchanged_names(spark, registry):
    line = ('127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
            '"GET /x HTTP/1.0" 200 5')
    out = run_one(
        spark, registry,
        [{"grok": {"field": "message",
                   "patterns": ["%{COMMONAPACHELOG}"]}}],
        [(line,)], "message string")
    assert out[0]["clientip"] == "127.0.0.1"
    assert out[0]["verb"] == "GET"


def test_grok_ecs_compatibility_validated(spark, registry):
    with pytest.raises(Exception, match="ecs_compatibility"):
        run_one(spark, registry,
                [{"grok": {"field": "m", "patterns": ["%{IP:ip}"],
                           "ecs_compatibility": "v9"}}],
                [("1.2.3.4",)], "m string")


# ------------------------------------------------------------ user_agent --
UAP_YAML = textwrap.dedent("""
    user_agent_parsers:
      - regex: '(MyBrowser)/(\\d+)\\.(\\d+)\\.(\\d+)'
        family_replacement: 'My Browser'
      - regex: '(Acme)Shell'
        v1_replacement: '9'
      - regex: '(PlainUA)/(\\d+)'
    os_parsers:
      - regex: 'MyOS ([0-9]+)[._]([0-9]+)'
        os_replacement: 'My OS'
        os_v1_replacement: '$1'
        os_v2_replacement: '$2'
      - regex: 'barefootos'
        regex_flag: 'i'
        os_replacement: 'BareFoot'
        os_v1_replacement: '2'
    device_parsers:
      - regex: 'Gadget-(\\w+)'
        device_replacement: 'Gadget $1'
""")


def test_user_agent_regex_file_wholesale(spark, registry, tmp_path):
    p = tmp_path / "regexes.yaml"
    p.write_text(UAP_YAML)
    rows = [
        ("MyBrowser/1.2.3 (MyOS 10_5) Gadget-Z9",),
        ("AcmeShell on BAREFOOTOS",),
        ("PlainUA/7 nothing else",),
    ]
    out = run_one(
        spark, registry,
        [{"user_agent": {"field": "ua", "regex_file": str(p)}}],
        rows, "ua string")
    r0, r1, r2 = out
    assert r0["user_agent.name"] == "My Browser"
    assert r0["user_agent.version"] == "1.2.3"
    assert r0["user_agent.os.name"] == "My OS"
    assert r0["user_agent.os.version"] == "10.5"
    assert r0["user_agent.device.name"] == "Gadget Z9"
    assert r1["user_agent.name"] == "Acme"          # group(1) family slot
    assert r1["user_agent.version"] == "9"          # v1_replacement literal
    assert r1["user_agent.os.name"] == "BareFoot"   # (?i) regex_flag
    assert r1["user_agent.os.version"] == "2"
    assert r2["user_agent.name"] == "PlainUA"
    assert r2["user_agent.version"] == "7"
    assert r2["user_agent.os.name"] == "Other"
    assert r2["user_agent.device.name"] == "Other"


# ---------------------------------------------------------- painless lib --
def test_painless_processors_uri_parts_and_json_map():
    from logstash_filter_elastic_integration_spark.functions.painless_exec \
        import CompiledScript
    cs = CompiledScript(
        "def u = Processors.uriParts(ctx.url); ctx.host = u.domain; "
        "ctx.scheme = u.scheme;")
    got = cs.run_row({"url": "https://u:p@example.com:8080/a/b.txt?q=1#f"})
    assert got["host"] == "example.com"
    assert got["scheme"] == "https"

    cs2 = CompiledScript(
        "Processors.json(ctx, 'payload'); ctx.a = ctx.payload.a;")
    got2 = cs2.run_row({"payload": '{"a": "inner"}'})
    assert got2["a"] == "inner"


# --------------------------------------------------------------- foreach --
def test_foreach_inner_script_on_elements(spark, registry):
    out = run_one(
        spark, registry,
        [{"foreach": {"field": "nums", "processor": {"script": {
            "source": "ctx._ingest._value = ctx._ingest._value * 2 + 1;"}}}}],
        [([1, 2, 3],)], "nums array<long>")
    assert out[0]["nums"] == [3, 5, 7]


def test_foreach_inner_set_and_remove_on_structs(spark, registry):
    out = run_one(
        spark, registry,
        [{"foreach": {"field": "items", "processor": {"set": {
            "field": "_ingest._value.flag", "value": "seen"}}}},
         {"foreach": {"field": "items", "processor": {"remove": {
            "field": "_ingest._value.tmp"}}}}],
        [([{"name": "a", "tmp": "x", "flag": None}],)],
        "items array<struct<name string, tmp string, flag string>>")
    el = out[0]["items"][0]
    assert el["flag"] == "seen"
    assert el["tmp"] is None  # flat-model removal: null-out, schema stable


# ----------------------------------------------- network_direction ranges --
def test_network_direction_composite_ranges(spark, registry):
    rows = [
        ("8.8.8.8", "1.1.1.1"),        # both public
        ("10.0.0.1", "8.8.8.8"),       # private src -> not public
        ("127.0.0.1", "8.8.8.8"),      # loopback src -> not public
        ("224.0.0.5", "8.8.8.8"),      # link-local multicast src
    ]
    out = run_one(
        spark, registry,
        [{"network_direction": {"internal_networks": ["public"],
                                "source_ip": "sip",
                                "destination_ip": "dip",
                                "target_field": "dir"}}],
        rows, "sip string, dip string")
    assert [r["dir"] for r in out] == [
        "internal", "inbound", "inbound", "inbound"]
    out2 = run_one(
        spark, registry,
        [{"network_direction": {"internal_networks":
                                ["link_local_multicast"],
                                "source_ip": "sip",
                                "destination_ip": "dip",
                                "target_field": "dir"}}],
        rows, "sip string, dip string")
    assert [r["dir"] for r in out2] == [
        "external", "external", "external", "outbound"]
    out3 = run_one(
        spark, registry,
        [{"network_direction": {"internal_networks": ["unicast"],
                                "source_ip": "sip",
                                "destination_ip": "dip",
                                "target_field": "dir"}}],
        [("10.0.0.1", "224.0.0.5")], "sip string, dip string")
    # Go IsGlobalUnicast: private IS unicast; multicast is NOT
    assert out3[0]["dir"] == "outbound"


def test_network_direction_broadcast_not_unicast(spark, registry):
    """ADVICE r4: ES isUnicast/isPublic exclude 255.255.255.255 — a
    broadcast source must NOT classify as internal under unicast/
    global_unicast/public internal_networks."""
    rows = [("255.255.255.255", "8.8.8.8"),
            ("8.8.8.8", "255.255.255.255")]
    for comp in ("unicast", "global_unicast", "public"):
        out = run_one(
            spark, registry,
            [{"network_direction": {"internal_networks": [comp],
                                    "source_ip": "sip",
                                    "destination_ip": "dip",
                                    "target_field": "dir"}}],
            rows, "sip string, dip string")
        assert [r["dir"] for r in out] == ["inbound", "outbound"], comp


def test_network_direction_garbage_ip_not_composite(spark, registry):
    """ADVICE r4: a value that parses as neither IPv4 nor IPv6 must not
    satisfy the composite negation ("not in any special range") and be
    classified internal."""
    out = run_one(
        spark, registry,
        [{"network_direction": {"internal_networks": ["unicast"],
                                "source_ip": "sip",
                                "destination_ip": "dip",
                                "target_field": "dir"}}],
        [("not-an-ip", "8.8.8.8"), ("8.8.8.8", "garbage")],
        "sip string, dip string")
    # garbage side is external -> inbound / outbound (not internal)
    assert [r["dir"] for r in out] == ["inbound", "outbound"]


def test_user_agent_option_interactions(spark, registry, tmp_path):
    """regex_file x properties x extract_device_type together: the UDF
    must respect the wholesale bank, the properties filter and the
    device-type classifier.  ``dedup_parse`` is a removed option: a
    leftover key, either value, is ignored like any unknown key."""
    p = tmp_path / "regexes.yaml"
    p.write_text(UAP_YAML)
    rows = [("MyBrowser/1.2.3 (MyOS 10_5) Gadget-Z9",),
            ("MyBrowser/1.2.3 (MyOS 10_5) Gadget-Z9",),   # dup UA value
            ("SomeBot crawler/2.0",)]
    for dedup in (True, False):
        out = run_one(
            spark, registry,
            [{"user_agent": {"field": "ua", "regex_file": str(p),
                             "dedup_parse": dedup,
                             "extract_device_type": True,
                             "properties": ["name", "version"]}}],
            rows, "ua string")
        r0, r1, r2 = out
        for r in (r0, r1):
            assert r["user_agent.name"] == "My Browser"
            assert r["user_agent.version"] == "1.2.3"
            # properties filter: os/device/original suppressed
            assert "user_agent.os.name" not in r
            assert "user_agent.original" not in r
        # ES contract: device.type emits only when DEVICE is in
        # properties — this filter suppresses it
        assert "user_agent.device.type" not in r2
    # without a properties filter, extract_device_type emits device.type
    out = run_one(
        spark, registry,
        [{"user_agent": {"field": "ua", "regex_file": str(p),
                         "extract_device_type": True}}],
        rows, "ua string")
    assert out[2]["user_agent.device.type"] == "Robot"
    assert out[0]["user_agent.device.type"] == "Desktop"


def test_set_ingest_timestamp_template(spark, registry):
    """`{{_ingest.timestamp}}` resolves to the pipeline's ingest instant
    (ES IngestDocument metadata), not empty string."""
    out = run_one(spark, registry,
                  [{"set": {"field": "received",
                            "value": "{{_ingest.timestamp}}"}}],
                  [("x",)], "k string")
    import re as _re
    assert _re.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}(Z|[+-]\d{2}:\d{2})",
        out[0]["received"]), out[0]["received"]


def test_on_failure_pipeline_metadata(spark, registry):
    """on_failure handlers can template all four ES failure metadata
    fields, including _ingest.on_failure_pipeline."""
    registry.register("mainp", {"processors": [
        {"fail": {"message": "boom",
                  "on_failure": [
                      {"set": {"field": "err", "value":
                       "{{_ingest.on_failure_pipeline}}/"
                       "{{_ingest.on_failure_processor_type}}: "
                       "{{_ingest.on_failure_message}}"}}]}}]})
    from logstash_filter_elastic_integration_spark.plans import run_pipeline
    df = spark.createDataFrame([("x",)], "k string")
    out = [r.asDict() for r in run_pipeline(df, "mainp", registry).collect()]
    assert out[0]["err"] == "mainp/fail: boom"


def test_register_dir_es_api_format(spark, registry, tmp_path):
    """A directory file in the ES GET _ingest/pipeline response shape
    ({"id": {definition}, ...}) registers each id (reference fixture
    shape: elasticsearch-api-format-pipelines/two-pipelines.json)."""
    (tmp_path / "bundle.json").write_text(
        '{"pid-one": {"description": "d", "version": 1, "processors": '
        '[{"set": {"field": "foo", "value": "bar"}}]}, '
        '"pid-two": {"processors": '
        '[{"set": {"field": "foo", "value": "baz"}}]}}')
    (tmp_path / "plain.json").write_text(
        '{"processors": [{"set": {"field": "foo", "value": "plain"}}]}')
    registry.register_dir(str(tmp_path))
    from logstash_filter_elastic_integration_spark.plans import run_pipeline
    df = spark.createDataFrame([("x",)], "k string")
    for name, want in [("pid-one", "bar"), ("pid-two", "baz"),
                       ("plain", "plain")]:
        got = run_pipeline(df, name, registry).collect()[0]["foo"]
        assert got == want, (name, got)


def test_script_ctx_keyset_ships_all_columns(spark, registry):
    """ctx.keySet() in a script processor sees EVERY document field (the
    __ALL__ read marker defeats column pruning into the UDF)."""
    out = run_one(spark, registry,
                  [{"script": {"source":
                    "def ks = new ArrayList(ctx.keySet()); ks.sort(null); "
                    "ctx.fields = String.join(',', ks); "
                    "ctx.nf = ctx.size();"}}],
                  [("v1", "v2", 3)], "alpha string, beta string, gamma long")
    r = out[0]
    got = set(r["fields"].split(","))
    assert {"alpha", "beta", "gamma"} <= got
    assert r["nf"] >= 3
