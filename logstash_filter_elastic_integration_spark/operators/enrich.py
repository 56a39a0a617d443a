"""Lookup-enrichment processors: ``lookup`` (generic) and ``geoip``.

The reference's geoip processor resolves IPs against MaxMind .mmdb
databases discovered on disk (geoip/IpDatabaseProvider.java:36-99); a
missing database tags the event ``_geoip_database_unavailable_<db>``
(spec/integration/elastic_integration_spec.rb:1034-1049).

Spark-first shape: every lookup database is a *broadcast dimension
DataFrame* registered on the PipelineRegistry (``registry.dims[name]``).
The processor compiles to ``df.join(F.broadcast(dim), key, 'left')`` — a
broadcast hash join, no shuffle of the fact side, which is exactly the
plan we want at 100 TB (dims are tiny: role/tool metadata, geo tables).
Miss-path parity: unmatched keys simply add no fields; a missing *database*
adds the unavailable tag like the reference.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from pyspark.sql import types as T

from ..plans.document import Step, fcol, field_type, guarded


def _lookup_key(df, cfg, f_name):
    """Probe-key column.  Array-valued fields follow the ES geoip
    ``first_only`` contract (default true): resolve the FIRST element.
    first_only=false takes the per-element multi path instead (see
    _multi_exact / _multi_range) — callers branch before reaching here."""
    key = fcol(f_name)
    if isinstance(field_type(df, f_name), T.ArrayType):
        key = F.element_at(key, 1)
    return key


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


def _multi_exact(df, cfg, dim, rows, key_col, props, f_name, target,
                 active):
    """first_only=false over an exact-key dim: per-element resolution.

    Literal-sized dims compile to a map literal + ``transform`` — pure
    Column, whole-stage codegen, zero shuffle.  Bigger dims ship as a
    ``sparkContext.broadcast`` dict probed by an Arrow-batched pandas
    UDF — the reference's shape exactly (ES loads the whole lookup
    database into memory on every node) and still zero shuffle; only
    rows taking the multi path pay the Python hop."""
    arr = fcol(f_name).cast("array<string>")
    struct_t = T.StructType(
        [T.StructField(p, dim.schema[p].dataType) for p in props])
    if not rows:
        looked = F.transform(
            arr, lambda x: F.lit(None).cast(struct_t))
    elif len(rows) <= _MULTI_LITERAL_CAP:
        m = F.create_map(*[c for r in rows for c in (
            F.lit(str(r[key_col])),
            F.struct(*[F.lit(r[p]).cast(struct_t[p].dataType).alias(p)
                       for p in props]))])
        looked = F.transform(arr, lambda x: F.try_element_at(m, x))
    else:
        bc = df.sparkSession.sparkContext.broadcast(
            {str(r[key_col]): {p: r[p] for p in props} for r in rows})

        @F.pandas_udf(T.ArrayType(struct_t))
        def _mlook(col):
            mp = bc.value
            return col.apply(
                lambda xs: None if xs is None
                else [mp.get(None if x is None else str(x)) for x in xs])

        looked = _mlook(arr)
    return _multi_emit(df, active, target, looked)


def _multi_range(df, cfg, dim, rows, lo, hi, props, f_name, target,
                 active):
    """first_only=false over a range dim (disjoint segments): literal
    segment-array + per-element filter for small dims; numpy
    searchsorted over broadcast sorted bounds for real .mmdb-sized ones."""
    from .net import _ip4_to_long

    rows = sorted(rows, key=lambda r: int(r[lo]))
    arr = fcol(f_name).cast("array<string>")
    struct_t = T.StructType(
        [T.StructField(p, dim.schema[p].dataType) for p in props])

    def _key_long(x):
        return F.when(x.rlike(r"^(\d{1,3}\.){3}\d{1,3}$"),
                      _ip4_to_long(x)).otherwise(x.try_cast("long"))

    if not rows:
        looked = F.transform(arr, lambda x: F.lit(None).cast(struct_t))
    elif len(rows) <= _MULTI_LITERAL_CAP:
        seg = F.array(*[F.struct(
            F.lit(int(r[lo])).alias("lo"), F.lit(int(r[hi])).alias("hi"),
            F.struct(*[F.lit(r[p]).cast(struct_t[p].dataType).alias(p)
                       for p in props]).alias("v")) for r in rows])

        def one(x):
            kl = _key_long(x)
            hit = F.filter(seg, lambda s: (kl >= s["lo"]) & (kl <= s["hi"]))
            return F.get(hit, 0)["v"]

        looked = F.transform(arr, one)
    else:
        import numpy as np
        bc = df.sparkSession.sparkContext.broadcast((
            np.array([int(r[lo]) for r in rows], dtype="int64"),
            np.array([int(r[hi]) for r in rows], dtype="int64"),
            [{p: r[p] for p in props} for r in rows]))

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


def _prepared_dim(ctx, cache_key, dim, build):
    """Registry-local memo of prepared (deduped/segmented, localized) dims.

    Dim preparation runs one Spark job that collects the dim to the
    driver (tiny by contract); a compile that looks the same dim up twice
    (e.g. a pipeline inlined at two router hops) pays it once.  The
    prepared local relation only depends on the registered dim object, so
    key the memo by (name, id(dim), config) on the registry itself;
    re-registering a dim naturally invalidates via id()."""
    cache = getattr(ctx.registry, "_dim_cache", None)
    if cache is None:
        cache = ctx.registry._dim_cache = {}
    if cache_key not in cache:
        cache[cache_key] = (dim, build())
    # the cached tuple pins the source dim object alive so its id() (part
    # of the key) cannot be recycled onto a DIFFERENT dim after gc
    return cache[cache_key][1]


def _localize(df):
    """Materialize a (tiny, broadcast-sized) dim preparation as a driver-
    side local relation -> (frame, collected rows).  The dedupe/segmentation
    below needs a groupBy or window — running it lazily would put an
    Exchange inside the fact query's broadcast subtree and break the
    engine's zero-shuffle plan guarantee.  Collecting once at compile time
    mirrors the reference, which loads entire lookup databases (.mmdb) into
    memory on every node; the literal-map and per-element paths build from
    the same rows instead of collecting the local frame again."""
    rows = df.collect()
    return df.sparkSession.createDataFrame(rows, df.schema), rows


def _dedupe_dim(dim, key_col: str, props: list[str]):
    """One record per key (reference returns exactly one per IP/lookup key):
    duplicate dim keys in a left join would MULTIPLY fact rows and corrupt
    downstream sink counts.  Deterministic pick: smallest property tuple."""
    order = [fcol(p) for p in props] or [fcol(key_col)]
    w = Window.partitionBy(key_col).orderBy(*order)
    return _localize(
        dim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).drop("__rn"))


def _disjoint_narrowest(dim, lo: str, hi: str, props: list[str]):
    """Rewrite an overlapping range dim into DISJOINT segments where each
    point maps to its narrowest covering range (CIDR semantics: most-
    specific prefix wins — normal in geoip data).  Boundary sweep: every
    [lo, hi] contributes boundaries lo and hi+1; adjacent boundaries form
    segments; a range covers a segment entirely or not at all; rank covers
    by width.  All dim-side (broadcast-sized, materialized at compile), so
    the fact join stays a broadcast range join with at most ONE match per
    row — no fact-side dedup shuffle needed at any scale."""
    bounds = (dim.select(F.col(lo).alias("b"))
              .union(dim.select((F.col(hi) + 1).alias("b"))).distinct())
    w = Window.orderBy("b")  # dim-sized: single task is fine
    seg = (bounds.select(F.col("b").alias("__seg_lo"),
                         (F.lead("b").over(w) - 1).alias("__seg_hi"))
           .filter(F.col("__seg_hi").isNotNull()))
    cov = seg.join(dim, (F.col("__seg_lo") >= F.col(lo))
                   & (F.col("__seg_hi") <= F.col(hi)))
    wn = Window.partitionBy("__seg_lo").orderBy(
        (F.col(hi) - F.col(lo)).asc(), F.col(lo).asc())
    return _localize(
        cov.withColumn("__rn", F.row_number().over(wn))
        .filter(F.col("__rn") == 1)
        .select(F.col("__seg_lo").alias(lo),
                F.col("__seg_hi").alias(hi), *props))


def _literal_map_entry(dim, rows, key_col: str, props: list[str]):
    """(map-literal Column | None-if-empty, value struct type) for the
    literal-map lookup fast path, or None when the dim exceeds the
    literal cap (caller falls back to the broadcast join)."""
    rows = [r for r in rows if r[key_col] is not None]
    if len(rows) > _MULTI_LITERAL_CAP:
        return None
    struct_t = T.StructType(
        [T.StructField(p, dim.schema[p].dataType) for p in props])
    if not rows:
        return (None, struct_t)
    m = F.create_map(*[c for r in rows for c in (
        F.lit(r[key_col]),
        F.struct(*[F.lit(r[p]).cast(struct_t[p].dataType).alias(p)
                   for p in props]))])
    return (m, struct_t)


def _broadcast_lookup(df, spec, ctx, dim_name: str, default_target: str,
                      unavailable_tag: str | None):
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
    dim = dims[dim_name]
    key_col = cfg.get("lookup_key", dim.columns[0])
    props = cfg.get("properties") or [c for c in dim.columns if c != key_col]
    dim, rows = _prepared_dim(
        ctx, ("exact", dim_name, id(dim), key_col, tuple(props)), dim,
        lambda: _dedupe_dim(dim, key_col, props))
    if _is_multi(df, cfg, f_name):
        return _multi_exact(df, cfg, dim, rows, key_col, props, f_name,
                            target, active)
    # literal-map fast path (r6, guide §2.4/§3.1): a tiny string-keyed dim
    # compiles to ONE map literal probed per row — no BroadcastExchange, no
    # hash-join output-row copy, and the probe fuses into the surrounding
    # whole-stage codegen span instead of splitting it.  Measured on the
    # flagship (1M rows, local[32]): the two role/tool lookups cost +0.54s
    # as broadcast hash joins (the wide working row is re-copied through
    # each join) vs ~0.05s as fused map probes.  Join-path parity: the dim
    # is already deduped; a NULL dim key never matches a left join, so it
    # is dropped; a NULL probe key returns NULL (miss).  Non-string keys
    # keep the join (map probes in string space would change coercion).
    key_dt = dim.schema[key_col].dataType
    if props and isinstance(key_dt, T.StringType):
        # the map literal is a pure function of the prepared dim — cached
        # on the registry like the prepared dim itself (r6: re-collecting
        # even a localized dim pays full query planning, measured ~0.27 s
        # per lookup per Router.execute compile)
        entry = _prepared_dim(
            ctx, ("exact_lit", dim_name, id(dims[dim_name]), key_col,
                  tuple(props)), dims[dim_name],
            lambda: _literal_map_entry(dim, rows, key_col, props))
        if entry is not None:
            m, struct_t = entry
            tmp = "__lkv_" + dim_name.replace(".", "_")
            if m is not None:
                looked = F.try_element_at(
                    m, _lookup_key(df, cfg, f_name).cast("string"))
            else:
                looked = F.lit(None).cast(struct_t)
            # staged: each property reads the probe, which runs once per row
            st = Step(df.withColumn(tmp, looked))
            st.guarded(active,
                       {f"{target}.{p}": fcol(tmp)[p] for p in props},
                       {f"{target}.{p}": struct_t[p].dataType for p in props})
            st.drop(tmp)
            return st.done()
    joined = "__lk_" + dim_name
    renamed = dim.select(
        F.col(key_col).alias(joined),
        *[F.col(p).alias(f"{joined}.{p}") for p in props])
    df = df.join(F.broadcast(renamed),
                 _lookup_key(df, cfg, f_name).cast("string") == fcol(joined),
                 "left")
    st = Step(df)
    st.guarded(active,
               {f"{target}.{p}": fcol(f"{joined}.{p}") for p in props},
               {f"{target}.{p}": dim.schema[p].dataType for p in props})
    st.drop(joined, *[f"{joined}.{p}" for p in props])
    return st.done()


def _broadcast_range_lookup(df, spec, ctx, dim_name: str, default_target: str):
    """Range-keyed lookup (SURVEY.md §2.4 geoip row: IP-range dims -> range
    join on (start,end)).  The dim carries ``range_keys: [lo_col, hi_col]``
    (numeric, e.g. IPv4-as-long); the probe key is the field cast to long
    (dotted-quad converted via bit math, pure JVM).  Compiles to a broadcast
    nested-loop range join — correct shape for a small dim at any fact
    scale; a large dim would instead be bucketed by prefix."""
    from .net import _ip4_to_long

    cfg = spec.config
    f_name = cfg["field"]
    target = cfg.get("target_field", default_target)
    lo, hi = cfg["range_keys"]
    active = ctx.active(df, spec)
    dims = getattr(ctx.registry, "dims", {})
    dim = dims[dim_name]
    if f_name not in df.columns:
        if not cfg.get("ignore_missing", False):
            return ctx.fail(df, active, spec,
                            f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    key = _lookup_key(df, cfg, f_name).cast("string")
    key_long = F.when(key.rlike(r"^(\d{1,3}\.){3}\d{1,3}$"), _ip4_to_long(key)) \
        .otherwise(key.try_cast("long"))
    props = cfg.get("properties") or [c for c in dim.columns if c not in (lo, hi)]
    dim, rows = _prepared_dim(
        ctx, ("range", dim_name, id(dim), lo, hi, tuple(props)), dim,
        lambda: _disjoint_narrowest(dim, lo, hi, props))
    if _is_multi(df, cfg, f_name):
        return _multi_range(df, cfg, dim, rows, lo, hi, props, f_name,
                            target, active)
    joined = "__rlk_" + dim_name.replace(".", "_")
    renamed = dim.select(
        F.col(lo).alias(f"{joined}_lo"), F.col(hi).alias(f"{joined}_hi"),
        *[F.col(p).alias(f"{joined}.{p}") for p in props])
    df = df.withColumn(f"{joined}_key", key_long)
    df = df.join(F.broadcast(renamed),
                 (fcol(f"{joined}_key") >= fcol(f"{joined}_lo"))
                 & (fcol(f"{joined}_key") <= fcol(f"{joined}_hi")), "left")
    st = Step(df)
    st.guarded(active,
               {f"{target}.{p}": fcol(f"{joined}.{p}") for p in props},
               {f"{target}.{p}": dim.schema[p].dataType for p in props})
    st.drop(f"{joined}_key", f"{joined}_lo", f"{joined}_hi",
            *[f"{joined}.{p}" for p in props])
    return st.done()


def p_lookup(df, spec, ctx):
    """Generic broadcast-dimension enrich (role/tool metadata per the north
    rule).  config: field, table, target_field, properties, lookup_key."""
    table = spec.config["table"]
    return _broadcast_lookup(df, spec, ctx, table,
                             default_target=table,
                             unavailable_tag=f"_lookup_table_unavailable_{table}")


def p_geoip(df, spec, ctx):
    """geoip with broadcast dim standing in for the .mmdb file; missing dim
    -> tag `_geoip_database_unavailable_<db>` (reference parity).  A dim
    with ``range_keys`` config resolves by CIDR/IP range instead of exact
    key (the real .mmdb shape).  ``database_path`` ingests an actual
    MaxMind .mmdb file (sources/mmdb.py parses the public binary format
    into the range dim — the IpDatabaseProvider.java:36-99 load path)."""
    db = spec.config.get("database_file", "GeoLite2-City.mmdb")
    dims = getattr(ctx.registry, "dims", {})
    if db not in dims and spec.config.get("database_path"):
        from ..sources.mmdb import load_mmdb_dim
        dims[db] = load_mmdb_dim(df.sparkSession,
                                 spec.config["database_path"])
        spec.config.setdefault("range_keys", ["lo", "hi"])
    if ("range_keys" not in spec.config and db in dims
            and {"lo", "hi"}.issubset(set(dims[db].columns))):
        # a dim ingested from a real .mmdb (engine geoip_database_directory
        # or load_mmdb_dim) carries lo/hi range columns — resolve by range
        spec.config["range_keys"] = ["lo", "hi"]
    if "range_keys" in spec.config and db in dims:
        return _broadcast_range_lookup(
            df, spec, ctx, db,
            default_target=spec.config.get("target_field", "geoip"))
    return _broadcast_lookup(df, spec, ctx, db,
                             default_target=spec.config.get("target_field", "geoip"),
                             unavailable_tag=f"_geoip_database_unavailable_{db}")
