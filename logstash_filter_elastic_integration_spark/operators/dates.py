"""date / date_index_name processors — all JVM Column expressions.

Reference contracts: date spec/integration/elastic_integration_spec.rb:
252-276 (golden "2023-03-08T09:10:17.000+01:00" for dd/MM/yyyy HH:mm:ss @
Europe/Amsterdam); date_index_name :278-301 (golden index
"<monthly-index-{2023-03-08||/M{yyyy-MM-dd|UTC}}>" prefix-checked).

ES date formats are java.time DateTimeFormatter patterns — the same pattern
language Spark's to_timestamp/date_format use natively, so format strings
pass straight through (plus the named formats ISO8601 / UNIX / UNIX_MS).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T


def _unquoted(fmt: str) -> str:
    """The pattern with 'quoted literal' sections blanked out, so pattern
    -letter scans don't false-positive on literal text."""
    return _re.sub(r"'[^']*'", "", fmt)

from ..plans.document import Step, fcol
from .common import template_column


def _parse_one(src: Column, fmt: str, tz: str) -> Column:
    """Parse one format in the *document's* timezone -> UTC timestamp."""
    if fmt == "ISO8601":
        parsed = F.coalesce(
            F.try_to_timestamp(src),
            F.try_to_timestamp(src, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
            F.try_to_timestamp(src, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        )
        return parsed
    if fmt == "UNIX":
        return src.try_cast("double").cast("timestamp")
    if fmt == "UNIX_MS":
        return (src.try_cast("double") / 1000.0).cast("timestamp")
    if fmt == "TAI64N":
        # ES DateFormat.Tai64n semantics: optional '@', 24 hex chars;
        # millis = hex[1:16]*1000 - 10000 (epoch TAI-UTC offset) +
        # hex[16:24] (nanos) / 1e6.  Round 1 silently yielded null here —
        # now it parses, and non-TAI64N shapes fall through to the next
        # format / parse-failure like the reference.
        s = F.when(src.startswith("@"), F.substring(src, 2, 24)) \
            .otherwise(F.substring(src, 1, 24))
        ok = s.rlike("^[0-9a-fA-F]{24}$")
        base = F.conv(F.substring(s, 2, 15), 16, 10).cast("long")
        rest = F.conv(F.substring(s, 17, 8), 16, 10).cast("long")
        ms = (base * 1000 - 10000
              + F.floor(rest / 1000000).cast("long"))
        return F.when(ok, F.timestamp_millis(ms))
    if fmt in ("week_date", "weekyear_week_day"):
        # ISO-8601 week date xxxx-'Www'-e: Spark bans week-based pattern
        # letters, so compute from ISO rules (week 1 contains Jan 4)
        y = F.regexp_extract(src, r"^(\d{4})-W(\d{2})-(\d)$", 1).try_cast("int")
        w = F.regexp_extract(src, r"^(\d{4})-W(\d{2})-(\d)$", 2).try_cast("int")
        d = F.regexp_extract(src, r"^(\d{4})-W(\d{2})-(\d)$", 3).try_cast("int")
        jan4 = F.make_date(y, F.lit(1), F.lit(4))
        iso_dow_jan4 = (F.dayofweek(jan4) + 5) % 7 + 1
        week1_mon = F.date_sub(jan4, iso_dow_jan4 - 1)
        dt = F.date_add(week1_mon, (w - 1) * 7 + (d - 1)).cast("timestamp")
        if tz and tz != "UTC":
            dt = F.to_utc_timestamp(dt, tz)
        return F.when(y.isNotNull() & w.isNotNull() & d.isNotNull(), dt)
    if fmt in ("ordinal_date", "ordinal_date_time_no_millis"):
        parsed = F.try_to_timestamp(src, F.lit("yyyy-DDD"))
        if tz and tz != "UTC":
            parsed = F.to_utc_timestamp(parsed, tz)
        return parsed
    # Spark >=3 refuses day-of-week letters (E/c) in parse patterns.
    # The day name never determines the date (java.time only
    # cross-checks it), so strip the token from the pattern and the
    # English day name from the text — same result, Spark-parseable.
    if _re.search(r"E+|c+", _unquoted(fmt)):
        fmt = "".join(seg if seg.startswith("'")
                      else _re.sub(r"E+|c+", "", seg)
                      for seg in _re.split(r"('[^']*')", fmt))
        src = F.regexp_replace(
            src.cast("string"),
            r"(?i)\b(Monday|Tuesday|Wednesday|Thursday|Friday|Saturday"
            r"|Sunday|Mon|Tue|Wed|Thu|Fri|Sat|Sun)\b", "")
    parsed = F.try_to_timestamp(src.cast("string"), F.lit(fmt))
    # shift from the document timezone ONLY when the format itself carries
    # no zone info (ES semantics: an explicit offset in the text wins)
    has_zone = any(ch in fmt for ch in "XZzOV")
    if tz and tz != "UTC" and not has_zone:
        parsed = F.to_utc_timestamp(parsed, tz)
    return parsed


def _iso_with_offset(ts_utc: Column, tz: str) -> Column:
    """ES stores the parsed date as an ISO8601 *string with the document
    timezone's offset* — build '...+01:00' from the UTC instant."""
    local = F.convert_timezone(F.lit("UTC"), F.lit(tz), ts_utc)  # TIMESTAMP_NTZ
    offset_sec = local.cast("timestamp").cast("long") - ts_utc.cast("long")
    sign = F.when(offset_sec < 0, "-").otherwise("+")
    a = F.abs(offset_sec)
    offset = F.when(
        offset_sec == 0, F.lit("Z")
    ).otherwise(
        F.concat(sign,
                 F.lpad((a / 3600).cast("int").cast("string"), 2, "0"),
                 F.lit(":"),
                 F.lpad(((a % 3600) / 60).cast("int").cast("string"), 2, "0")))
    body = F.date_format(local, "yyyy-MM-dd'T'HH:mm:ss.SSS")
    return F.concat(body, offset)


def _localize(src: Column, cfg, formats) -> Column:
    """Apply ES's `locale` option: month/day *names* in the source are
    rewritten to English (pure-Column regexp_replace chain over public
    CLDR name banks — see date_locales.py) so Spark's English-locale
    to_timestamp parses them.  Unknown locales still fail loud at
    compile time.  The rewrite is skipped entirely when no format in
    the list carries a text field (MMM/LLL/E/c), so numeric formats pay
    nothing."""
    from . import date_locales
    loc = cfg.get("locale")
    if loc is None:
        return src
    if not date_locales.supported(loc):
        raise ValueError(
            f"date locale [{loc}] is not supported (no CLDR name bank); "
            f"drop the option or pre-normalize the field")
    named = ("ISO8601", "UNIX", "UNIX_MS", "TAI64N", "week_date",
             "weekyear_week_day", "ordinal_date",
             "ordinal_date_time_no_millis")
    if not any(_re.search(r"M{3}|L{3}|E|c", _unquoted(f))
               for f in formats if f not in named):
        return src
    return date_locales.normalize_names(src, loc)


def p_date(df, spec, ctx):
    cfg = spec.config
    f_name = cfg["field"]
    formats = cfg.get("formats", ["ISO8601"])
    tz = cfg.get("timezone", "UTC")
    target = cfg.get("target_field", "@timestamp")
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        df = ctx.fail(df, active, spec,
                      f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    raw = fcol(f_name).cast("string")
    src = _localize(raw, cfg, formats)
    drop_tmp = None
    if src is not raw:
        # MATERIALIZATION STAGING (same rationale as grok's
        # __grok_parts, parse.py:140): the locale normalizer is a ~30
        # regexp_replace chain referenced once per format plus the
        # fail-check — inlined per reference it blew janino's 64 KB
        # method limit (observed: whole-stage codegen silently disabled
        # for the date stage).  Landed in ONE column, CollapseProject
        # (SPARK-36718) keeps the non-cheap multi-referenced producer
        # staged, so the chain exists once in the plan and the parse
        # Project stays codegen-sized.
        drop_tmp = "__date_norm"
        df = df.withColumn(drop_tmp, src)
        src = fcol(drop_tmp)
    parsed = F.coalesce(*[_parse_one(src, fmt, tz) for fmt in formats])
    st = Step(df)
    ctx.fail(st, active & src.isNotNull() & parsed.isNull(), spec,
             f"unable to parse date [{f_name}]")
    out_fmt = cfg.get("output_format")
    value = (F.date_format(F.convert_timezone(F.lit("UTC"), F.lit(tz), parsed), out_fmt)
             if out_fmt else _iso_with_offset(parsed, tz))
    st.guarded(active & parsed.isNotNull(), {target: value},
               {target: T.StringType()})
    if drop_tmp:
        st.drop(drop_tmp)
    return st.done()


_ROUND_TRUNC = {"y": "year", "M": "month", "w": "week", "d": "day",
                "h": "hour", "H": "hour", "m": "minute", "s": "second"}


def p_date_index_name(df, spec, ctx):
    """Builds the date-math index expression into ``_index`` exactly like
    ES DateIndexNameProcessor:
    ``<prefix{formattedDate||/rounding{format|tz}}>``."""
    cfg = spec.config
    f_name = cfg["field"]
    prefix = cfg.get("index_name_prefix", "")
    rounding = cfg["date_rounding"]
    fmt = cfg.get("index_name_format", "yyyy-MM-dd")
    tz = cfg.get("timezone", "UTC")
    formats = cfg.get("date_formats", ["ISO8601"])
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        return ctx.fail(df, active, spec,
                        f"field [{f_name}] not present as part of path [{f_name}]")
    raw = fcol(f_name).cast("string")
    src = _localize(raw, cfg, formats)
    drop_tmp = None
    if src is not raw:
        # stage the locale-normalizer chain once — see p_date above
        drop_tmp = "__date_norm"
        df = df.withColumn(drop_tmp, src)
        src = fcol(drop_tmp)
    parsed = F.coalesce(*[_parse_one(src, f, tz) for f in formats])
    st = Step(df)
    ctx.fail(st, active & parsed.isNull(), spec,
             f"unable to parse date [{f_name}]")
    prefix_col = template_column(df, prefix)
    # ES formats the ORIGINAL date; the rounding lives in the date-math
    # suffix ('...||/M{...}') resolved by the consumer
    formatted = F.date_format(
        F.convert_timezone(F.lit("UTC"), F.lit(tz), parsed), fmt)
    index_expr = F.concat(
        F.lit("<"), prefix_col, F.lit("{"), formatted,
        F.lit("||/" + rounding + "{" + fmt + "|" + tz + "}}>"))
    st.guarded(active & parsed.isNotNull(), {"_index": index_expr},
               {"_index": T.StringType()})
    if drop_tmp:
        st.drop(drop_tmp)
    return st.done()
