"""Deterministic synthetic transcript generator (BASELINE.json input_hint:
``conv_id:string, turn_idx:int, role:string, text:string, tool:string,
ts:timestamp``) plus the role/tool lookup dims (FIXTURES.md §1-2).

Fully distributed: every column is a pure function of ``spark.range`` ids
(xxhash64-derived), so generation scales to any row count with zero driver
memory and no shuffle except the single window computing dense per-
conversation turn_idx.  Zipf-ish conv skew (a few hot conversations) is
baked in to exercise salted repartitioning.

Text mix (seeded by id hash):
  ~55%  apache-style request line  -> grok/dissect happy path
  ~15%  tool log "tool=... status=... latency_ms=..." -> kv path
  ~10%  JSON payload -> json path
  ~20%  plain chat prose -> grok non-match (failure-tagging path)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from ..plans.pipeline import LocalDim

SEED = 42

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "code_exec", "browser"]  # + null (no tool)

_WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
          "hotel", "india", "juliet", "kilo", "lima", "mike", "november"]
_METHODS = ["GET", "POST", "PUT", "DELETE"]
_STATUS = ["200", "200", "200", "301", "404", "500"]


def _h(col, salt: int):
    return F.abs(F.xxhash64(col, F.lit(SEED), F.lit(salt)))


def transcripts(spark: SparkSession, n_rows: int, n_convs: int | None = None,
                skew: float = 2.0) -> DataFrame:
    if n_convs is None:
        n_convs = max(4, n_rows // 20)
    df = spark.range(n_rows)
    uid = F.col("id")
    # Zipf-ish conversation assignment: u^skew concentrates mass near conv 0
    u = (_h(uid, 1) % 1_000_000) / 1_000_000.0
    conv_num = F.floor(F.pow(u, skew) * n_convs).cast("long")
    df = df.withColumn("conv_num", conv_num)
    df = df.withColumn(
        "turn_idx",
        (F.row_number().over(Window.partitionBy("conv_num").orderBy("id")) - 1)
        .cast("int"))
    df = df.withColumn("conv_id", F.format_string("conv-%08d", F.col("conv_num")))

    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]),
                        (_h(uid, 2) % 4 + 1).cast("int"))
    tool_pick = (_h(uid, 3) % 10).cast("int")
    tool = (F.when(tool_pick == 0, "search")
            .when(tool_pick == 1, "code_exec")
            .when(tool_pick == 2, "browser")
            .when(tool_pick == 3, "vector_db"))  # key absent from tool_dim -> miss path
    # ts: conversation start + 7s per turn, spread across ~30 days of windows
    base = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    ts = F.timestamp_seconds(
        F.unix_timestamp(base)
        + (F.col("conv_num") % 720) * 3600
        + F.col("turn_idx") * 7)

    kind = (_h(uid, 4) % 100).cast("int")
    ip = F.format_string("%d.%d.%d.%d",
                         (_h(uid, 5) % 223 + 1).cast("int"),
                         (_h(uid, 6) % 255).cast("int"),
                         (_h(uid, 7) % 255).cast("int"),
                         (_h(uid, 8) % 254 + 1).cast("int"))
    word = F.element_at(F.array(*[F.lit(w) for w in _WORDS]),
                        (_h(uid, 9) % len(_WORDS) + 1).cast("int"))
    method = F.element_at(F.array(*[F.lit(m) for m in _METHODS]),
                          (_h(uid, 10) % 4 + 1).cast("int"))
    status = F.element_at(F.array(*[F.lit(s) for s in _STATUS]),
                          (_h(uid, 11) % 6 + 1).cast("int"))
    nbytes = (_h(uid, 12) % 100_000).cast("int")
    dur = F.round((_h(uid, 13) % 10_000).cast("double") / 1000.0, 3)

    apache = F.format_string("%s %s /api/%s/%s %s %s %s",
                             ip, method, word,
                             (_h(uid, 14) % 1000).cast("string"),
                             status, nbytes.cast("string"), dur.cast("string"))
    toolline = F.format_string("tool=%s status=%s latency_ms=%s q=%s",
                               F.coalesce(tool, F.lit("none")), status,
                               (_h(uid, 15) % 5000).cast("string"), word)
    jsonline = F.format_string('{"action": "%s", "count": %s, "ok": %s}',
                               word, (_h(uid, 16) % 50).cast("string"),
                               F.when(_h(uid, 17) % 2 == 0, "true").otherwise("false"))
    prose = F.format_string("please %s the %s report and summarize %s items",
                            word, method, status)
    text = (F.when(kind < 55, apache)
            .when(kind < 70, toolline)
            .when(kind < 80, jsonline)
            .otherwise(prose))

    return df.select(
        "conv_id", "turn_idx",
        role.alias("role"), text.alias("text"), tool.alias("tool"),
        ts.alias("ts"))


def role_dim(spark: SparkSession) -> LocalDim:
    """Lookup dim (FIXTURES.md §2): complete role cover.  Driver-local:
    ``spark`` is unused, and kept so that callers need not change."""
    rows = [
        ("user", "human", True),
        ("assistant", "model", False),
        ("system", "control", False),
        ("tool", "machine", False),
    ]
    return LocalDim(rows, T.StructType([
        T.StructField("role", T.StringType()),
        T.StructField("role_group", T.StringType()),
        T.StructField("is_human", T.BooleanType())]))


def tool_dim(spark: SparkSession) -> LocalDim:
    """Lookup dim with one transcript key ('vector_db') deliberately
    absent -> exercises the lookup miss path.  ``spark`` is unused, as in
    :func:`role_dim`."""
    rows = [
        ("search", "retrieval", "platform"),
        ("code_exec", "compute", "runtime"),
        ("browser", "retrieval", "platform"),
    ]
    return LocalDim(rows, T.StructType([
        T.StructField("tool", T.StringType()),
        T.StructField("tool_category", T.StringType()),
        T.StructField("tool_owner", T.StringType())]))
