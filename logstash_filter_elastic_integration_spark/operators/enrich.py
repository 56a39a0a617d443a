"""Lookup-enrichment processors: ``lookup`` (generic) and ``geoip``.

The reference's geoip processor resolves IPs against MaxMind .mmdb
databases discovered on disk (geoip/IpDatabaseProvider.java:36-99); a
missing database tags the event ``_geoip_database_unavailable_<db>``
(spec/integration/elastic_integration_spec.rb:1034-1049).

Spark-first shape: every lookup database is a *driver-local dim*
(``LocalDim``: rows + schema) registered on the PipelineRegistry
(``registry.dims[name]``); dims are tiny by contract (role/tool metadata,
geo tables).  Compile prepares the rows in Python — one record per key,
or disjoint narrowest range segments — and runs no Spark job, like the
reference, which loads its databases once at startup.  A small
string-keyed dim compiles to a map literal probed per row; any other dim
to ``df.join(F.broadcast(side), ...)`` against a lazy ``createDataFrame``
of the prepared rows — no shuffle of the fact side, which is exactly the
plan we want at 100 TB.  A DataFrame dim is still accepted: the first
compile that reads it collects it once.
Miss-path parity: unmatched keys simply add no fields; a missing *database*
adds the unavailable tag like the reference.
"""

from __future__ import annotations

import heapq

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.document import Step, fcol, field_type, guarded
from ..plans.pipeline import LocalDim
from .net import _ip4_to_long


def _lookup_key(df, cfg, f_name):
    """Probe-key column.  Array-valued fields follow the ES geoip
    ``first_only`` contract (default true): resolve the FIRST element.
    first_only=false takes the per-element multi path instead (see
    _multi_exact / _multi_range) — callers branch before reaching here."""
    key = fcol(f_name)
    if isinstance(field_type(df, f_name), T.ArrayType):
        key = F.element_at(key, 1)
    return key


def _key_long(key):
    """Range probe: a dotted-quad string as its IPv4 long (bit math, pure
    JVM), any other string cast to long."""
    return F.when(key.rlike(r"^(\d{1,3}\.){3}\d{1,3}$"),
                  _ip4_to_long(key)).otherwise(key.try_cast("long"))


def _is_multi(df, cfg, f_name):
    return (isinstance(field_type(df, f_name), T.ArrayType)
            and not cfg.get("first_only", True))


# Above this many dim entries the per-element lookup literal would bloat
# the plan / break codegen; switch to a broadcast-variable pandas UDF.
_MULTI_LITERAL_CAP = 1024


def _multi_emit(df, active, target, looked):
    """ES GeoIpProcessor list semantics (ingest-geoip GeoIpProcessor.java,
    public ES source): one entry per input element, null placeholder for
    elements that do not resolve, and the target is only set when at
    least one element resolved."""
    any_hit = F.exists(looked, lambda s: s.isNotNull())
    return guarded(df, active & F.coalesce(any_hit, F.lit(False)),
                   {target: looked})


def _map_literal(rows, struct_t):
    """Map literal key -> property struct over deduped ``(key, *props)``
    rows (non-empty), keyed in string space: probes are cast to string."""
    return F.create_map(*[c for r in rows for c in (
        F.lit(str(r[0])),
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                   for v, f in zip(r[1:], struct_t.fields)]))])


def _multi_exact(df, rows, struct_t, f_name, target, active):
    """first_only=false over an exact-key dim: per-element resolution.

    Literal-sized dims compile to a map literal + ``transform`` — pure
    Column, whole-stage codegen, zero shuffle.  Bigger dims ship as a
    ``sparkContext.broadcast`` dict probed by an Arrow-batched pandas
    UDF — the reference's shape exactly (ES loads the whole lookup
    database into memory on every node) and still zero shuffle; only
    rows taking the multi path pay the Python hop."""
    arr = fcol(f_name).cast("array<string>")
    if not rows:
        looked = F.transform(
            arr, lambda x: F.lit(None).cast(struct_t))
    elif len(rows) <= _MULTI_LITERAL_CAP:
        m = _map_literal(rows, struct_t)
        looked = F.transform(arr, lambda x: F.try_element_at(m, x))
    else:
        bc = df.sparkSession.sparkContext.broadcast(
            {str(r[0]): dict(zip(struct_t.names, r[1:])) for r in rows})

        @F.pandas_udf(T.ArrayType(struct_t))
        def _mlook(col):
            mp = bc.value
            return col.apply(
                lambda xs: None if xs is None
                else [mp.get(None if x is None else str(x)) for x in xs])

        looked = _mlook(arr)
    return _multi_emit(df, active, target, looked)


def _multi_range(df, rows, struct_t, f_name, target, active):
    """first_only=false over a range dim (disjoint segments in ascending
    order): literal segment-array + per-element filter for small dims;
    numpy searchsorted over broadcast sorted bounds for real .mmdb-sized
    ones."""
    arr = fcol(f_name).cast("array<string>")
    if not rows:
        looked = F.transform(arr, lambda x: F.lit(None).cast(struct_t))
    elif len(rows) <= _MULTI_LITERAL_CAP:
        seg = F.array(*[F.struct(
            F.lit(int(r[0])).alias("lo"), F.lit(int(r[1])).alias("hi"),
            F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                       for v, f in zip(r[2:], struct_t.fields)]).alias("v"))
            for r in rows])

        def one(x):
            kl = _key_long(x)
            hit = F.filter(seg, lambda s: (kl >= s["lo"]) & (kl <= s["hi"]))
            return F.get(hit, 0)["v"]

        looked = F.transform(arr, one)
    else:
        import numpy as np
        bc = df.sparkSession.sparkContext.broadcast((
            np.array([int(r[0]) for r in rows], dtype="int64"),
            np.array([int(r[1]) for r in rows], dtype="int64"),
            [dict(zip(struct_t.names, r[2:])) for r in rows]))

        @F.pandas_udf(T.ArrayType(struct_t))
        def _mlook(col):
            import socket
            import struct as _struct
            los, his, vals = bc.value

            def to_long(x):
                if x is None:
                    return None
                try:
                    return _struct.unpack(
                        "!I", socket.inet_aton(str(x)))[0]
                except OSError:
                    try:
                        return int(x)
                    except ValueError:
                        return None

            def one(xs):
                if xs is None:
                    return None
                out = []
                for x in xs:
                    k = to_long(x)
                    if k is None:
                        out.append(None)
                        continue
                    i = int(np.searchsorted(los, k, side="right")) - 1
                    out.append(vals[i] if i >= 0 and k <= his[i] else None)
                return out

            return col.apply(one)

        looked = _mlook(arr)
    return _multi_emit(df, active, target, looked)


def _local_dim(dims, name) -> LocalDim:
    """``dims[name]`` as a LocalDim.  A DataFrame dim is collected once, by
    the first compile that reads it, and written back — the reference's
    load step; the dim is a snapshot from then on."""
    dim = dims[name]
    if not isinstance(dim, LocalDim):
        dim = dims[name] = LocalDim([tuple(r) for r in dim.collect()],
                                    dim.schema)
    return dim


def _order(values: tuple) -> tuple:
    """Sort key of a value tuple in Spark's ascending order: nulls first,
    NaN above every other number."""
    return tuple((0,) if v is None else (2,) if v != v else (1, v)
                 for v in values)


def _dedupe_dim(dim: LocalDim, key_col: str, props: list[str]):
    """-> ``[(key, *props)]``, one record per key (the reference returns
    exactly one per IP/lookup key): duplicate dim keys in a left join would
    MULTIPLY fact rows and corrupt downstream sink counts.  Deterministic
    pick: smallest property tuple.  A null key never matches a probe, so
    its rows are dropped."""
    cols = dim.columns
    ki, pi = cols.index(key_col), [cols.index(p) for p in props]
    best: dict = {}
    for r in dim.rows:
        if r[ki] is None:
            continue
        rec = (r[ki], *[r[i] for i in pi])
        kept = best.get(rec[0])
        if kept is None or _order(rec[1:]) < _order(kept[1:]):
            best[rec[0]] = rec
    return list(best.values())


def _disjoint_narrowest(dim: LocalDim, lo: str, hi: str, props: list[str]):
    """Rewrite an overlapping range dim into DISJOINT segments
    ``[(seg_lo, seg_hi, *props)]``, ascending, where each point maps to
    its narrowest covering range (CIDR semantics: most-specific prefix
    wins — normal in geoip data).  Boundary sweep: every [lo, hi]
    contributes boundaries lo and hi+1; adjacent boundaries form segments;
    a range covers a segment entirely or not at all, so the narrowest
    cover is the top of a heap of the ranges open at the segment's start,
    ordered by (width, lo, property tuple).  The fact join then matches at
    most ONE segment per row — no fact-side dedup shuffle at any scale."""
    cols = dim.columns
    li, hj, pi = cols.index(lo), cols.index(hi), [cols.index(p) for p in props]
    bounds = sorted({r[li] for r in dim.rows if r[li] is not None}
                    | {r[hj] + 1 for r in dim.rows if r[hj] is not None})
    ranges = sorted(
        ((r[li], r[hj], tuple(r[i] for i in pi)) for r in dim.rows
         if r[li] is not None and r[hj] is not None and r[li] <= r[hj]),
        key=lambda rng: rng[0])
    out, heap, i = [], [], 0
    for b, nxt in zip(bounds, bounds[1:]):
        while i < len(ranges) and ranges[i][0] <= b:
            r_lo, r_hi, vals = ranges[i]
            heapq.heappush(heap, (r_hi - r_lo, r_lo, _order(vals), i))
            i += 1
        while heap and ranges[heap[0][3]][1] < b:
            heapq.heappop(heap)  # ended before this segment: never again
        if heap:
            out.append((b, nxt - 1, *ranges[heap[0][3]][2]))
    return out


def _emit(df, active, target, struct_t, value, *drop):
    """Set ``<target>.<prop>`` to ``value(prop)`` on active rows and drop
    the lookup's temporary columns, in one projection."""
    st = Step(df)
    st.guarded(active,
               {f"{target}.{f.name}": value(f.name) for f in struct_t},
               {f"{target}.{f.name}": f.dataType for f in struct_t})
    st.drop(*drop)
    return st.done()


def _broadcast_lookup(df, spec, ctx, dim_name: str, default_target: str,
                      unavailable_tag: str | None, range_keys=None):
    """Exact-key lookup, or with ``range_keys`` (lo, hi) a range lookup
    (SURVEY.md §2.4 geoip row: IP-range dims -> range join on (start,end)):
    numeric bounds, e.g. IPv4-as-long, probed by the field as a long."""
    cfg = spec.config
    f_name = cfg["field"]
    target = cfg.get("target_field", default_target)
    active = ctx.active(df, spec)
    dims = getattr(ctx.registry, "dims", {})
    if dim_name not in dims:
        # reference behavior: tag and continue (not a failure)
        if unavailable_tag:
            tag = F.lit(unavailable_tag)
            return df.withColumn(
                "tags",
                F.when(active, F.array_union(
                    F.coalesce(fcol("tags"), F.array().cast("array<string>")),
                    F.array(tag))).otherwise(fcol("tags")))
        return ctx.fail(df, active, spec, f"lookup table [{dim_name}] not registered")
    if f_name not in df.columns:
        if not cfg.get("ignore_missing", False):
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    dim = _local_dim(dims, dim_name)
    keys = range_keys or [cfg.get("lookup_key", dim.columns[0])]
    props = cfg.get("properties") or [c for c in dim.columns if c not in keys]
    struct_t = T.StructType(
        [T.StructField(p, dim.schema[p].dataType) for p in props])
    key = _lookup_key(df, cfg, f_name).cast("string")
    if range_keys:
        # a broadcast nested-loop range join — the right shape for a small
        # dim at any fact scale; a large dim would be bucketed by prefix
        rows = _disjoint_narrowest(dim, *keys, props)
        if _is_multi(df, cfg, f_name):
            return _multi_range(df, rows, struct_t, f_name, target, active)
        joined = "__rlk_" + dim_name.replace(".", "_")
        lo, hi, probe = f"{joined}_lo", f"{joined}_hi", f"{joined}_key"
        df = df.withColumn(probe, _key_long(key))
        key_fields = [T.StructField(lo, dim.schema[keys[0]].dataType),
                      T.StructField(hi, dim.schema[keys[1]].dataType)]
        on = (fcol(probe) >= fcol(lo)) & (fcol(probe) <= fcol(hi))
        drop = [probe]
    else:
        rows = _dedupe_dim(dim, keys[0], props)
        if _is_multi(df, cfg, f_name):
            return _multi_exact(df, rows, struct_t, f_name, target, active)
        # literal-map fast path (r6, guide §2.4/§3.1): a tiny string-keyed
        # dim compiles to ONE map literal probed per row — no
        # BroadcastExchange, no hash-join output-row copy, and the probe
        # fuses into the surrounding whole-stage codegen span instead of
        # splitting it.  Measured on the flagship (1M rows, local[32]): the
        # two role/tool lookups cost +0.54s as broadcast hash joins (the
        # wide working row is re-copied through each join) vs ~0.05s as
        # fused map probes.  Join-path parity: the rows are deduped and
        # null-key free; a NULL probe key returns NULL (miss).  Non-string
        # keys keep the join (map probes in string space would change
        # coercion).
        key_dt = dim.schema[keys[0]].dataType
        if (props and isinstance(key_dt, T.StringType)
                and len(rows) <= _MULTI_LITERAL_CAP):
            tmp = "__lkv_" + dim_name.replace(".", "_")
            looked = (F.try_element_at(_map_literal(rows, struct_t), key)
                      if rows else F.lit(None).cast(struct_t))
            # staged: each property reads the probe, which runs once per row
            return _emit(df.withColumn(tmp, looked), active, target,
                         struct_t, lambda p: fcol(tmp)[p], tmp)
        joined = "__lk_" + dim_name
        key_fields = [T.StructField(joined, key_dt)]
        on = key == fcol(joined)
        drop = []
    # the side is a lazy createDataFrame of the prepared rows: no job here
    side_fields = key_fields + [T.StructField(f"{joined}.{f.name}", f.dataType)
                                for f in struct_t]
    side = df.sparkSession.createDataFrame(rows, T.StructType(side_fields))
    return _emit(df.join(F.broadcast(side), on, "left"), active, target,
                 struct_t, lambda p: fcol(f"{joined}.{p}"),
                 *drop, *[f.name for f in side_fields])


def p_lookup(df, spec, ctx):
    """Generic broadcast-dimension enrich (role/tool metadata per the north
    rule).  config: field, table, target_field, properties, lookup_key."""
    table = spec.config["table"]
    return _broadcast_lookup(df, spec, ctx, table,
                             default_target=table,
                             unavailable_tag=f"_lookup_table_unavailable_{table}")


def p_geoip(df, spec, ctx):
    """geoip with a lookup dim standing in for the .mmdb file; missing dim
    -> tag `_geoip_database_unavailable_<db>` (reference parity).  A dim
    with ``range_keys`` config resolves by CIDR/IP range instead of exact
    key (the real .mmdb shape).  ``database_path`` ingests an actual
    MaxMind .mmdb file (sources/mmdb.py parses the public binary format
    into the range dim — the IpDatabaseProvider.java:36-99 load path).
    The processor's config is only read: it is the registered pipeline's,
    shared by every later compile."""
    db = spec.config.get("database_file", "GeoLite2-City.mmdb")
    dims = getattr(ctx.registry, "dims", {})
    if db not in dims and spec.config.get("database_path"):
        from ..sources.mmdb import load_mmdb_dim
        dims[db] = load_mmdb_dim(spec.config["database_path"])
    range_keys = spec.config.get("range_keys")
    if not range_keys and db in dims and {"lo", "hi"} <= set(dims[db].columns):
        # a dim ingested from a real .mmdb (database_path, the engine's
        # geoip_database_directory or load_mmdb_dim) carries lo/hi range
        # columns — resolve by range
        range_keys = ["lo", "hi"]
    return _broadcast_lookup(df, spec, ctx, db, default_target="geoip",
                             unavailable_tag=f"_geoip_database_unavailable_{db}",
                             range_keys=range_keys)
