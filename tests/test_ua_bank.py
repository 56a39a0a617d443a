"""Long-tail user_agent bank coverage (uap-core-derived, ua_bank.py):
smart-TV / console / crawler families beyond the r1-r3 curated subset,
plus a compile check over every bank regex under Python re (the parser's
engine); parity with the Java regex chains the parser replaced is pinned
by the golden fixture at the end."""

import re

import pytest

from tests.conftest import run_one

from logstash_filter_elastic_integration_spark.operators.ua_bank import (
    UA_BROWSERS, UA_DEVICES, UA_OS)


def test_every_bank_regex_compiles_and_groups_are_sane():
    for fam, rx in UA_BROWSERS + UA_OS + UA_DEVICES:
        compiled = re.compile(rx)  # raises on bad pattern
        if "$1" in fam:
            assert compiled.groups >= 1, f"$1 family without group: {rx}"


def test_bank_has_no_python_only_constructs():
    # the reference runs the bank on Java regex: named groups (?P<>) and
    # inline (?i) mid-pattern diverge; conditionals (?(1)...) are
    # Python-only
    for _, rx in UA_BROWSERS + UA_OS + UA_DEVICES:
        assert "(?P<" not in rx
        assert "(?(" not in rx


LONG_TAIL = {
    # --- smart TV ---------------------------------------------------------
    "samsung_tv": ("Mozilla/5.0 (SMART-TV; Linux; Tizen 4.0) AppleWebKit/"
                   "537.36 (KHTML, like Gecko) SamsungBrowser/2.1 "
                   "Chrome/56.0.2924.0 TV Safari/537.36",
                   ("Samsung Internet", "2.1", "Tizen", "Samsung SMART-TV")),
    "lg_webos": ("Mozilla/5.0 (Web0S; Linux/SmartTV) AppleWebKit/537.36 "
                 "(KHTML, like Gecko) Chrome/38.0.2125.122 Safari/537.36 "
                 "LG Browser/8.00.00(LGE; 24LF4820-BU; 03.20.14; 1)",
                 ("LG Browser", "8.00", "webOS", "LG TV")),
    "roku": ("Roku/DVP-9.10 (519.10E04111A)",
             ("Roku", "9.10", "Roku", "Roku")),
    "appletv": ("AppleTV11,1/11.1",
                ("AppleTV", "11.1", "ATV OS X", "Apple TV")),
    "chromecast": ("Mozilla/5.0 (CrKey armv7l 1.5.16041) AppleWebKit/537.36"
                   " (KHTML, like Gecko) Chrome/31.0.1650.0 Safari/537.36",
                   ("CrKey", "1.5", "Chromecast", "Chromecast")),
    # --- consoles ---------------------------------------------------------
    "ps5": ("Mozilla/5.0 (PlayStation; PlayStation 5/2.26) AppleWebKit/"
            "605.1.15 (KHTML, like Gecko) Version/13.0 Safari/605.1.15",
            ("PlayStation 5 Browser", "2.26", "PlayStation",
             "PlayStation 5")),
    "ps4": ("Mozilla/5.0 (PlayStation 4 5.55) AppleWebKit/601.2 "
            "(KHTML, like Gecko)",
            ("PlayStation 4 Browser", "5.55", "PlayStation",
             "PlayStation 4")),
    "switch": ("Mozilla/5.0 (Nintendo Switch; WifiWebAuthApplet) AppleWebKit"
               "/606.4 (KHTML, like Gecko) NF/6.0.1.15.4 NintendoBrowser/"
               "5.1.0.20393",
               ("NetFront NX", None, "Nintendo", "Nintendo Switch")),
    # --- crawlers ---------------------------------------------------------
    "ahrefs": ("Mozilla/5.0 (compatible; AhrefsBot/7.0; "
               "+http://ahrefs.com/robot/)",
               ("AhrefsBot", "7.0", "Other", "Spider")),
    "gptbot": ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko); "
               "compatible; GPTBot/1.0; +https://openai.com/gptbot",
               ("GPTBot", "1.0", "Other", "Spider")),
    "petalbot": ("Mozilla/5.0 (Linux; Android 7.0;) AppleWebKit/537.36 "
                 "(KHTML, like Gecko) Mobile Safari/537.36 (compatible; "
                 "PetalBot;+https://webmaster.petalsearch.com/site/petalbot)",
                 ("PetalBot", None, "Android", "Spider")),
    "semrush": ("Mozilla/5.0 (compatible; SemrushBot/7~bl; "
                "+http://www.semrush.com/bot.html)",
                ("SemrushBot", "7", "Other", "Spider")),
    # generic catch-all: an unknown bot family still parses as itself
    "unknown_bot": ("Mozilla/5.0 (compatible; SnowflakeQueryBot/2.3; "
                    "+http://example.com/bot)",
                    ("SnowflakeQueryBot", "2.3", "Other", "Spider")),
    "googlebot_smartphone": (
        "Mozilla/5.0 (Linux; Android 6.0.1; Nexus 5X Build/MMB29P) "
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/109.0.0.0 Mobile "
        "Safari/537.36 (compatible; Googlebot/2.1; "
        "+http://www.google.com/bot.html)",
        ("Googlebot", "2.1", "Android", "Spider")),
    # --- device-class long tail ------------------------------------------
    "kindle_fire_silk": (
        "Mozilla/5.0 (Linux; Android 9; KFMAWI) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Silk/94.2.7 like Chrome/94.0.4606.61 "
        "Safari/537.36",
        ("Amazon Silk", "94.2", "Android", "Kindle Fire")),
    "pixel": ("Mozilla/5.0 (Linux; Android 13; Pixel 7 Pro) AppleWebKit/"
              "537.36 (KHTML, like Gecko) Chrome/115.0.0.0 Mobile Safari/"
              "537.36",
              ("Chrome Mobile", "115.0.0", "Android", "Pixel 7 Pro")),
    "whatsapp": ("WhatsApp/2.23.20.76 A",
                 ("WhatsApp", "2.23.20", "Other", "Other")),
    "headless": ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
                 "(KHTML, like Gecko) HeadlessChrome/118.0.5993.70 "
                 "Safari/537.36",
                 ("HeadlessChrome", "118.0.5993", "Linux", "Spider")),
    # --- mainstream head (r5: the ≥25-UA default-config golden matrix) ----
    "win_chrome": ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/"
                   "537.36 (KHTML, like Gecko) Chrome/120.0.0.0 "
                   "Safari/537.36",
                   ("Chrome", "120.0.0", "Windows", "Other")),
    "ubuntu_firefox": ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:109.0) "
                       "Gecko/20100101 Firefox/115.0",
                       ("Firefox", "115.0", "Ubuntu", "Other")),
    "mac_safari": ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) "
                   "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.5 "
                   "Safari/605.1.15",
                   ("Safari", "16.5", "Mac OS X", "Mac")),
    "win_edge": ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/"
                 "537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"
                 " Edg/120.0.2210.91",
                 ("Edge", "120.0.2210", "Windows", "Other")),
    "iphone_safari": ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS "
                      "X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/"
                      "16.6 Mobile/15E148 Safari/604.1",
                      ("Mobile Safari", "16.6", "iOS", "iPhone")),
    "ipad_safari": ("Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) "
                    "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 "
                    "Mobile/15E148 Safari/604.1",
                    ("Mobile Safari", "16.6", "iOS", "iPad")),
    "samsung_android": ("Mozilla/5.0 (Linux; Android 13; SM-S918B) "
                        "AppleWebKit/537.36 (KHTML, like Gecko) "
                        "SamsungBrowser/21.0 Chrome/110.0.5481.154 Mobile "
                        "Safari/537.36",
                        ("Samsung Internet", "21.0", "Android",
                         "Samsung SM-S918B")),
    "ie11": ("Mozilla/5.0 (Windows NT 6.1; WOW64; Trident/7.0; rv:11.0) "
             "like Gecko",
             ("IE", "11.0", "Windows", "Other")),
    "opera_win": ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/"
                  "537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/"
                  "537.36 OPR/105.0.0.0",
                  ("Opera", "105.0.0", "Windows", "Other")),
    "fb_ios": ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) "
               "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 "
               "[FBAN/FBIOS;FBAV/440.0.0.34.107;FBBV/537411454]",
               ("Facebook", "440.0", "iOS", "iPhone")),
    "yandex": ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/"
               "537.36 (KHTML, like Gecko) Chrome/116.0.0.0 YaBrowser/"
               "23.9.0.0 Safari/537.36",
               ("Yandex Browser", "23.9.0", "Windows", "Other")),
    "curl": ("curl/8.4.0", ("curl", "8.4.0", "Other", "Other")),
    "firefox_android": ("Mozilla/5.0 (Android 13; Mobile; rv:119.0) Gecko/"
                        "119.0 Firefox/119.0",
                        ("Firefox Mobile", "119.0", "Android",
                         "Generic Smartphone")),
    "chrome_ios": ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) "
                   "AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/119.0."
                   "6045.169 Mobile/15E148 Safari/604.1",
                   ("Chrome Mobile iOS", "119.0.6045", "iOS", "iPhone")),
}


def test_long_tail_families(spark, registry):
    rows = [(k, ua) for k, (ua, _) in LONG_TAIL.items()]
    out = run_one(spark, registry, [{"user_agent": {"field": "agent"}}],
                  rows, "k string, agent string")
    parsed = {r["k"]: r for r in out}
    errors = []
    for key, (_, (name, version, os_name, device)) in LONG_TAIL.items():
        r = parsed[key]
        got = (r["user_agent.name"], r["user_agent.version"],
               r["user_agent.os.name"], r["user_agent.device.name"])
        if r["user_agent.name"] != name:
            errors.append(f"{key}: name {got[0]!r} != {name!r}")
        if version is not None and not (got[1] or "").startswith(version):
            errors.append(f"{key}: version {got[1]!r} !~ {version!r}")
        if got[2] != os_name:
            errors.append(f"{key}: os {got[2]!r} != {os_name!r}")
        if got[3] != device:
            errors.append(f"{key}: device {got[3]!r} != {device!r}")
    assert not errors, "\n".join(errors)


def test_default_bank_resolution_order(tmp_path, monkeypatch):
    """ES ships full uap-core as the DEFAULT; without network this build
    resolves: $SPARK_GRAFT_UAP_REGEXES -> bundled data/regexes.yaml ->
    curated bank.  An explicit regex_file config always wins (exercised
    by test_user_agent_regex_file_wholesale)."""
    from logstash_filter_elastic_integration_spark.operators import ua_bank
    monkeypatch.delenv("SPARK_GRAFT_UAP_REGEXES", raising=False)
    # no bundled file in this environment -> curated bank (None)
    assert ua_bank.default_regex_file() is None
    p = tmp_path / "regexes.yaml"
    p.write_text("user_agent_parsers:\n  - regex: '(EnvUA)/(\\d+)'\n")
    monkeypatch.setenv("SPARK_GRAFT_UAP_REGEXES", str(p))
    assert ua_bank.default_regex_file() == str(p)
    banks = ua_bank.load_uap_regexes_cached(str(p))
    assert banks["browsers"][0]["regex"] == r"(EnvUA)/(\d+)"
    # cache hit returns the same object
    assert ua_bank.load_uap_regexes_cached(str(p)) is banks


def test_default_env_bank_drives_processor(spark, registry, tmp_path,
                                           monkeypatch):
    p = tmp_path / "regexes.yaml"
    p.write_text(
        "user_agent_parsers:\n"
        "  - regex: '(WholeUA)/(\\d+)\\.(\\d+)'\n"
        "os_parsers:\n"
        "  - regex: 'WholeOS/(\\d+)'\n"
        "    os_replacement: 'Whole OS'\n"
        "device_parsers: []\n")
    monkeypatch.setenv("SPARK_GRAFT_UAP_REGEXES", str(p))
    out = run_one(spark, registry, [{"user_agent": {"field": "ua"}}],
                  [("WholeUA/4.2 WholeOS/9",)], "ua string")
    assert out[0]["user_agent.name"] == "WholeUA"
    assert out[0]["user_agent.version"] == "4.2"
    assert out[0]["user_agent.os.name"] == "Whole OS"


# ------------------------------------------------- golden parity fixture --
# tests/data/ua_golden.json holds the outputs of the JVM regex chains this
# parser replaced (rlike/regexp_extract CASE chains, commit c1f32e2), over
# the test UAs, per-family synthetic strings of the three builtin banks
# and the device-type rules, null and '': the builtin bank, the
# test_option_corners regex_file bank ((?i), $N, v1_replacement) and a
# second regex_file bank of template corners (non-participating $N
# groups, vN gaps, trimmed and untrimmed devices).  All with
# extract_device_type.
def _golden_cases():
    import json
    import os
    path = os.path.join(os.path.dirname(__file__), "data", "ua_golden.json")
    with open(path) as fh:
        golden = json.load(fh)
    return golden["fields"], golden["cases"]


_FIELDS, _CASES = _golden_cases()


def test_golden_fixture_covers_the_banks():
    assert sum(len(c["rows"]) for c in _CASES) >= 500
    uas = [r[0] for r in _CASES[0]["rows"]]
    assert _CASES[0]["yaml"] is None and None in uas and "" in uas
    names = {r[1] for r in _CASES[0]["rows"]}
    assert len(names) > 200  # most browser families are hit


@pytest.mark.parametrize("case", _CASES, ids=[c["name"] for c in _CASES])
def test_golden_parity_with_jvm_chains(spark, registry, tmp_path, case):
    cfg = dict(case["config"])
    if case["yaml"] is not None:
        p = tmp_path / "regexes.yaml"
        p.write_text(case["yaml"])
        cfg["regex_file"] = str(p)
    rows = [(i, r[0]) for i, r in enumerate(case["rows"])]
    out = run_one(spark, registry, [{"user_agent": cfg}], rows,
                  "i int, ua string")
    mismatches = []
    for r in out:
        ua, *want = case["rows"][r["i"]]
        got = [r[f"user_agent.{f}"] for f in _FIELDS]
        if got != want or r["user_agent.original"] != ua:
            mismatches.append(f"{ua!r}: {got} != {want}")
    assert len(out) == len(rows)
    assert mismatches == [], "\n".join(mismatches[:20])
