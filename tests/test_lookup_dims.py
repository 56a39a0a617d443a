"""Differential test of the driver-side dim preparations against DuckDB.

``_dedupe_dim`` (one record per key) and ``_disjoint_narrowest`` (range
dim -> disjoint narrowest-cover segments) run in Python over a
``LocalDim``'s rows.  The oracle is the window-query form of the same
rules: ``row_number()`` per key, and per boundary segment ordered by
(width, lo, property tuple), properties ascending with nulls first and NaN
last.  The property tuple breaks ties between equal ranges, so segment
literals, and hence plans, are deterministic."""

import math

import duckdb
from hypothesis import given, seed, settings, strategies as st
from pyspark.sql import types as T

from logstash_filter_elastic_integration_spark.operators.enrich import (
    _dedupe_dim, _disjoint_narrowest)
from logstash_filter_elastic_integration_spark.plans import LocalDim

_PROPS = T.StructType([T.StructField("tag", T.StringType()),
                       T.StructField("score", T.DoubleType())])
_PROP_ORDER = "tag NULLS FIRST, score NULLS FIRST"

_tag = st.none() | st.sampled_from(["", "a", "b", "ab"])
_score = st.none() | st.sampled_from([-1.0, 0.0, 2.5, math.nan])
_bound = st.none() | st.integers(0, 12)


def _norm(rows):
    """Rows comparable with ==: NaN equals NaN."""
    return [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in r) for r in rows]


def _duck(dim: LocalDim, ddl: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE dim ({ddl})")
        if dim.rows:
            marks = ", ".join("?" * len(dim.columns))
            con.executemany(f"INSERT INTO dim VALUES ({marks})", dim.rows)
        return con.execute(sql).fetchall()
    finally:
        con.close()


@seed(8108)
@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.none() | st.sampled_from(["k1", "k2", "k3"]),
                          _tag, _score), max_size=12))
def test_dedupe_matches_row_number_window(rows):
    dim = LocalDim(rows, T.StructType(
        [T.StructField("key", T.StringType())] + _PROPS.fields))
    got = _dedupe_dim(dim, "key", ["tag", "score"])
    want = _duck(dim, "key VARCHAR, tag VARCHAR, score DOUBLE", f"""
        SELECT key, tag, score FROM (
          SELECT *, row_number() OVER (
            PARTITION BY key ORDER BY {_PROP_ORDER}) AS rn
          FROM dim WHERE key IS NOT NULL)
        WHERE rn = 1""")
    assert sorted(_norm(got)) == sorted(_norm(want))


@seed(8108)
@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(_bound, _bound, _tag, _score), max_size=10)
       .flatmap(lambda rs: st.lists(st.sampled_from(rs), max_size=3)
                .map(lambda dup: rs + dup) if rs else st.just(rs)))
def test_segments_match_narrowest_cover_window(rows):
    """Nested, adjacent, duplicate, inverted and null-bounded ranges: the
    small bound domain makes them common, and the flatmap repeats rows."""
    dim = LocalDim(rows, T.StructType(
        [T.StructField("lo", T.LongType()), T.StructField("hi", T.LongType())]
        + _PROPS.fields))
    got = _disjoint_narrowest(dim, "lo", "hi", ["tag", "score"])
    want = _duck(dim, "lo BIGINT, hi BIGINT, tag VARCHAR, score DOUBLE", f"""
        WITH b AS (
          SELECT DISTINCT x AS b FROM (
            SELECT lo AS x FROM dim UNION ALL SELECT hi + 1 FROM dim)
          WHERE x IS NOT NULL),
        seg AS (
          SELECT b AS seg_lo, lead(b) OVER (ORDER BY b) - 1 AS seg_hi
          FROM b),
        cov AS (
          SELECT seg_lo, seg_hi, tag, score, row_number() OVER (
            PARTITION BY seg_lo ORDER BY hi - lo, lo, {_PROP_ORDER}) AS rn
          FROM seg JOIN dim ON seg_lo >= lo AND seg_hi <= hi
          WHERE seg_hi IS NOT NULL)
        SELECT seg_lo, seg_hi, tag, score FROM cov WHERE rn = 1
        ORDER BY seg_lo""")
    assert _norm(got) == _norm(want)
