"""Network / URL / hashing processors: bytes, urldecode, uri_parts,
html_strip, user_agent, network_direction, registered_domain, community_id,
fingerprint.  All are JVM Column expressions — including community_id's
packed-tuple SHA-1, built from hex-string assembly + unhex + sha1 — except
user_agent, which parses in one memoized pandas UDF (see p_user_agent),
and fingerprint's MurmurHash3 digest, an Arrow-batched UDF.

Reference contracts (spec/integration/elastic_integration_spec.rb):
bytes :154-175, urldecode :960-981, uri_parts :932-958, html_strip :496-517,
user_agent :983-1006, network_direction :616-638, registered_domain
:668-693, community_id :177-199, fingerprint :393-414.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from ..plans.document import Step, fcol, field_type, guarded, staging_name
from .common import str_targets
from .ua_bank import builtin_bank, default_regex_file, file_bank, parse_series

# ---------------------------------------------------------------- bytes ----
_BYTES_UNITS = {"b": 1, "kb": 1024, "mb": 1024**2, "gb": 1024**3,
                "tb": 1024**4, "pb": 1024**5}


def bytes_expr(col: Column) -> Column:
    """'10kb' -> 10240; shared by the bytes processor and the painless
    ``Processors.bytes`` helper."""
    src = F.trim(col.cast("string"))
    rx = r"(?i)^([0-9]*\.?[0-9]+)\s*(b|kb|mb|gb|tb|pb)?$"
    num = F.regexp_extract(src, rx, 1)
    unit = F.lower(F.regexp_extract(src, rx, 2))
    mult = F.coalesce(
        F.element_at(F.create_map(
            *[x for k, v in _BYTES_UNITS.items() for x in (F.lit(k), F.lit(v))]), unit),
        F.lit(1))
    return (num.try_cast("double") * mult).cast("long")


def p_bytes(df, spec, ctx):
    cfg = spec.config
    f_name = cfg["field"]
    dst = cfg.get("target_field", f_name)
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not cfg.get("ignore_missing", False):
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    src = F.trim(fcol(f_name).cast("string"))
    value = bytes_expr(src)
    st = Step(df)
    ctx.fail(st, active & src.isNotNull() & value.isNull(), spec,
             f"failed to parse setting [{f_name}] with value [?] as a size in bytes")
    st.guarded(active & value.isNotNull(), {dst: value})
    return st.done()


# ------------------------------------------------------------ urldecode ----
def p_urldecode(df, spec, ctx):
    return str_targets(df, spec, ctx, F.url_decode)


# ------------------------------------------------------------ uri_parts ----
def p_uri_parts(df, spec, ctx):
    cfg = spec.config
    f_name = cfg["field"]
    target = cfg.get("target_field", "url")
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not cfg.get("ignore_missing", False):
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    src = fcol(f_name).cast("string")
    userinfo = F.parse_url(src, F.lit("USERINFO"))
    authority = F.parse_url(src, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1).try_cast("int")
    path = F.parse_url(src, F.lit("PATH"))
    updates = {
        f"{target}.scheme": F.lower(F.parse_url(src, F.lit("PROTOCOL"))),
        f"{target}.domain": F.parse_url(src, F.lit("HOST")),
        f"{target}.port": port,
        f"{target}.path": path,
        f"{target}.query": F.parse_url(src, F.lit("QUERY")),
        f"{target}.fragment": F.parse_url(src, F.lit("REF")),
        f"{target}.user_info": userinfo,
        f"{target}.username": F.regexp_extract(userinfo, r"^([^:]*)", 1),
        f"{target}.password": F.regexp_extract(userinfo, r":(.*)$", 1),
        f"{target}.extension": F.regexp_extract(path, r"\.([^./]+)$", 1),
    }
    if cfg.get("keep_original", True):
        updates[f"{target}.original"] = src
    dtypes = {k: T.StringType() for k in updates}
    dtypes[f"{target}.port"] = T.IntegerType()
    ok = F.parse_url(src, F.lit("HOST")).isNotNull()
    st = Step(df)
    ctx.fail(st, active & src.isNotNull() & ~ok, spec,
             f"unable to parse URI [{f_name}]")
    st.guarded(active & ok, updates, dtypes)
    if cfg.get("remove_if_successful", False) and f_name not in (target,):
        dt = st.field_type(f_name)
        st.guarded(active & ok, {f_name: F.lit(None).cast(dt)}, {f_name: dt})
    return st.done()


# ------------------------------------------------------------ html_strip ---
_BLOCK_TAGS = ("h1|h2|h3|h4|h5|h6|p|div|br|hr|li|ul|ol|table|tr|td|th|"
               "blockquote|pre|section|article|header|footer")


def p_html_strip(df, spec, ctx):
    """Lucene HTMLStripCharFilter semantics (golden :496-517):
    block-level tags become \\n, inline tags are removed outright —
    '<p> <em> x </em> </p>' -> '\\n  x  \\n'."""
    def fn(c):
        c = F.regexp_replace(c, r"(?i)</?(?:" + _BLOCK_TAGS + r")\b[^>]*>", "\n")
        return F.regexp_replace(c, r"<[^>]*>", "")
    return str_targets(df, spec, ctx, fn)


# ------------------------------------------------------------ user_agent ---
_UA_FIELDS = ("name", "version", "os_name", "os_version", "device",
              "device_type")


def p_user_agent(df, spec, ctx):
    """One Arrow-batched pandas UDF per processor parses the UA through
    the bank (ua_bank.Parser), memoized per Python worker by (bank, UA
    string) like the reference's UserAgentCache: a batch pays one parse
    per distinct string it has not seen.  The bank rides in the UDF
    closure; its regexes compile once per worker."""
    cfg = spec.config
    f_name = cfg["field"]
    target = cfg.get("target_field", "user_agent")
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not cfg.get("ignore_missing", False):
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    ua = fcol(f_name).cast("string")

    # ES's DEFAULT bank is the full uap-core dataset; resolve an explicit
    # regex_file first, else a wholesale default file if one is available
    # ($SPARK_GRAFT_UAP_REGEXES or bundled data/regexes.yaml), else the
    # curated builtin bank (see ua_bank.default_regex_file).
    regex_file = cfg.get("regex_file") or default_regex_file()
    bank = file_bank(regex_file) if regex_file else builtin_bank()
    digest = bank.digest()
    device_type = cfg.get("extract_device_type", False)
    fields = _UA_FIELDS if device_type else _UA_FIELDS[:-1]

    def parse(uas):
        return parse_series(bank, digest, uas, len(fields))

    udf = F.pandas_udf(parse, T.StructType(
        [T.StructField(f, T.StringType()) for f in fields]))
    gate = F.coalesce(active & ua.isNotNull(), F.lit(False))
    # gate the UDF input: inactive rows ship a null and are not parsed;
    # the result is read by every write, so it is staged once
    st = Step(df.withColumn("__ua", udf(F.when(gate, ua))))
    parsed = fcol("__ua")
    os_name, os_version = parsed["os_name"], parsed["os_version"]
    updates = {
        f"{target}.name": parsed["name"],
        f"{target}.version": parsed["version"],
        f"{target}.os.name": os_name,
        f"{target}.os.version": os_version,
        f"{target}.os.full": F.when(os_version.isNotNull(),
                                    F.concat(os_name, F.lit(" "), os_version))
                              .otherwise(os_name),
        f"{target}.device.name": parsed["device"],
        f"{target}.original": ua,
    }
    if device_type:
        # ES 8 beta option: coarse device class from UA hints
        updates[f"{target}.device.type"] = parsed["device_type"]
    props = cfg.get("properties")
    if props:
        # ES: restrict the emitted properties (NAME/OS/DEVICE/ORIGINAL/
        # VERSION); os covers os.name/os.version/os.full
        allowed = {p.lower() for p in props}
        def keep(field: str) -> bool:
            suffix = field[len(target) + 1:]
            head = suffix.split(".")[0]
            return head in allowed or suffix in allowed
        updates = {k: v for k, v in updates.items() if keep(k)}
    st.guarded(gate, updates, {k: T.StringType() for k in updates})
    st.drop("__ua")
    return st.done()


# ----------------------------------------------------- network_direction ---
_NAMED_RANGES = {
    "private": [("10.0.0.0", 8), ("172.16.0.0", 12), ("192.168.0.0", 16)],
    "loopback": [("127.0.0.0", 8)],
    "link_local_unicast": [("169.254.0.0", 16)],
    "link_local_multicast": [("224.0.0.0", 24)],
    "interface_local_multicast": [],           # IPv6-only (ff01::/16)
    "multicast": [("224.0.0.0", 4)],
    "broadcast": [("255.255.255.255", 32)],
    "unspecified": [("0.0.0.0", 32)],
}

# composite named ranges = negation of a special-range union (the beats/ES
# semantics: Go net.IP.IsGlobalUnicast for unicast; public additionally
# excludes the RFC1918 private space).  ES's isUnicast (and isPublic,
# which requires isUnicast) also excludes the IPv4 limited-broadcast
# address 255.255.255.255 (NetworkDirectionProcessor).
_COMPOSITE_RANGES = {
    "unicast": ("unspecified", "loopback", "multicast",
                "link_local_unicast", "broadcast"),
    "global_unicast": ("unspecified", "loopback", "multicast",
                       "link_local_unicast", "broadcast"),
    "public": ("private", "unspecified", "loopback", "multicast",
               "link_local_unicast", "broadcast"),
}


def _ip4_to_long(col: Column) -> Column:
    oct_ = F.split(col, r"\.")
    return (oct_[0].cast("long") * 16777216 + oct_[1].cast("long") * 65536
            + oct_[2].cast("long") * 256 + oct_[3].cast("long"))


def _ip4_literal(ip: str) -> int:
    a, b, c, d = (int(x) for x in ip.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def _in_cidrs(ip_long: Column, cidrs: list[tuple[str, int]]) -> Column:
    cond = F.lit(False)
    for net, prefix in cidrs:
        mask = ((1 << 32) - 1) ^ ((1 << (32 - prefix)) - 1)
        cond = cond | (ip_long.bitwiseAND(F.lit(mask)) == (_ip4_literal(net) & mask))
    return cond


# IPv6 named ranges as nibble-hex prefixes of the exploded address
_NAMED_RANGES_V6 = {
    "private": ["fc", "fd"],                       # fc00::/7 ULA
    "loopback": ["0" * 31 + "1"],                  # ::1/128
    "link_local_unicast": ["fe8", "fe9", "fea", "feb"],  # fe80::/10
    "link_local_multicast": ["ff02"],              # ff02::/16
    "interface_local_multicast": ["ff01"],         # ff01::/16
    "multicast": ["ff"],                           # ff00::/8
    "broadcast": [],                               # IPv4-only
    "unspecified": ["0" * 32],                     # ::/128
}


def _dyn_in_nets(ip: Column, nets: Column) -> Column:
    """Per-ROW network membership: ``nets`` is an array<string> column of
    CIDRs / IPs / named ranges (the ES ``internal_networks_field``
    option).  Stays pure Column expressions — the dynamic prefix length
    is applied via exact power-of-two division for IPv4 and dynamic-length
    nibble-prefix compare for (nibble-aligned) IPv6; named ranges fold to
    the same static tables the literal path uses."""
    ip4 = _ip4_to_long(ip)
    hx = _ip6_hex(ip)
    is4 = ip.rlike(_IPV4_RX)

    def one(e):
        parts = F.split(e, "/")
        addr = F.try_element_at(parts, F.lit(1))
        plen = F.coalesce(
            F.try_element_at(parts, F.lit(2)).cast("int"),
            F.when(addr.contains(":"), F.lit(128)).otherwise(F.lit(32)))
        # v4: compare the network part via exact 2^k division (floats are
        # exact below 2^53; avoids shiftright's literal-only shift amount)
        p2 = F.pow(F.lit(2.0), (F.lit(32) - plen).cast("double"))
        m4 = (F.floor(ip4 / p2) == F.floor(_ip4_to_long(addr) / p2))
        # v6: dynamic-length nibble-prefix compare, plus the remaining
        # plen%4 bits of the boundary nibble (so fe80::/10 does NOT match
        # fec0:: — the top 2 bits of the 3rd nibble differ)
        nib = F.floor(plen / 4).cast("int")
        rem = (plen % 4).cast("int")
        ahx = _ip6_hex(addr)
        p2r = F.pow(F.lit(2.0), (F.lit(4) - rem).cast("double"))
        bnib = F.floor(F.conv(F.substr(hx, nib + 1, F.lit(1)), 16, 10)
                       .cast("long") / p2r)
        bnib_a = F.floor(F.conv(F.substr(ahx, nib + 1, F.lit(1)), 16, 10)
                         .cast("long") / p2r)
        m6 = ((F.substr(hx, F.lit(1), nib) == F.substr(ahx, F.lit(1), nib))
              & ((rem == 0) | (bnib == bnib_a)))
        named = F.lit(None).cast("boolean")
        for name, cl in _NAMED_RANGES.items():
            nv6 = F.lit(False)
            for pfx in _NAMED_RANGES_V6.get(name, []):
                nv6 = nv6 | hx.startswith(pfx)
            named = F.when(e == name,
                           F.when(is4, _in_cidrs(ip4, cl))
                           .otherwise(F.coalesce(nv6, F.lit(False)))) \
                .otherwise(named)
        generic = (F.when(is4 & ~addr.contains(":"), m4)
                   .when(~is4 & addr.contains(":"), m6)
                   .otherwise(F.lit(False)))
        return F.coalesce(named, generic, F.lit(False))

    return F.coalesce(F.exists(nets, one), F.lit(False))


def p_network_direction(df, spec, ctx):
    cfg = spec.config
    networks = cfg.get("internal_networks", [])
    networks_field = cfg.get("internal_networks_field")
    if networks_field and networks:
        raise ValueError("network_direction: internal_networks and "
                         "internal_networks_field are mutually exclusive")
    if not networks_field and not networks:
        raise ValueError("network_direction: one of internal_networks / "
                         "internal_networks_field is required")
    src_f = cfg.get("source_ip", "source.ip")
    dst_f = cfg.get("destination_ip", "destination.ip")
    target = cfg.get("target_field", "network.direction")
    active = ctx.active(df, spec)
    cidrs: list[tuple[str, int]] = []
    v6_prefixes: list[str] = []
    composites: list[str] = []
    for n in networks:
        if n in _COMPOSITE_RANGES:
            composites.append(n)
        elif n in _NAMED_RANGES:
            cidrs.extend(_NAMED_RANGES[n])
            v6_prefixes.extend(_NAMED_RANGES_V6.get(n, []))
        elif ":" in n:
            # IPv6 literal / CIDR: matched as a nibble-aligned hex prefix
            import ipaddress
            net = ipaddress.ip_network(n, strict=False)
            nibbles = net.prefixlen // 4
            v6_prefixes.append(
                net.network_address.exploded.replace(":", "")[:nibbles])
        elif "/" in n:
            net, p = n.split("/")
            cidrs.append((net, int(p)))
        else:
            cidrs.append((n, 32))
    src = fcol(src_f).cast("string") if src_f in df.columns else F.lit(None).cast("string")
    dst = fcol(dst_f).cast("string") if dst_f in df.columns else F.lit(None).cast("string")

    def _in_nets(ip):
        if networks_field:
            if networks_field not in df.columns:
                return F.lit(False)
            return _dyn_in_nets(ip, fcol(networks_field))
        def membership(c4, p6):
            v4 = _in_cidrs(_ip4_to_long(ip), c4)
            if not p6:
                return F.when(ip.rlike(_IPV4_RX), v4).otherwise(F.lit(False))
            hx = _ip6_hex(ip)
            v6 = F.lit(False)
            for pfx in p6:
                v6 = v6 | hx.startswith(pfx)
            return F.when(ip.rlike(_IPV4_RX), v4) \
                .otherwise(F.coalesce(v6, F.lit(False)))

        cond = membership(cidrs, v6_prefixes)
        # composites are "NOT in the special union" — gate on the value
        # actually parsing as an IP first, else garbage like "not-an-ip"
        # would satisfy the negation and be classified internal (ES parses
        # the IP and raises for invalid input instead)
        parseable = ip.rlike(_IPV4_RX) | _ip6_hex(ip).isNotNull()
        for comp in composites:
            ex4: list[tuple[str, int]] = []
            ex6: list[str] = []
            for nn in _COMPOSITE_RANGES[comp]:
                ex4.extend(_NAMED_RANGES[nn])
                ex6.extend(_NAMED_RANGES_V6.get(nn, []))
            cond = cond | (parseable & ~membership(ex4, ex6))
        return cond

    src_in = _in_nets(src)
    dst_in = _in_nets(dst)
    direction = (F.when(src_in & dst_in, "internal")
                 .when(src_in, "outbound")
                 .when(dst_in, "inbound")
                 .otherwise("external"))
    ok = src.isNotNull() & dst.isNotNull()
    st = Step(df)
    if not cfg.get("ignore_missing", True):
        ctx.fail(st, active & ~ok, spec, "missing source/destination ip")
    st.guarded(active & ok, {target: direction}, {target: T.StringType()})
    return st.done()


# ---------------------------------------------------- registered_domain ----
# Public Suffix List rules (public data, publicsuffix.org).  Shipped: a
# broad builtin subset (every common gTLD/ccTLD second-level registry
# family) plus FULL PSL *algorithm* semantics — wildcard rules ("*.ck"),
# exception rules ("!www.ck"), longest-match-wins, and the implicit
# default rule "*" (unknown TLD -> last label).  A complete PSL file can
# be side-loaded via processor config ``psl_file`` (one rule per line,
# publicsuffix.org format) — the implementation is a per-depth broadcast
# hash join against the rule table, so rule-set size does not change the
# plan shape (no when-chain growth, no fact-side shuffle).
_PSL_RULES = """
com org net edu gov mil int info biz name pro mobi asia xyz online site
top club shop icu vip work live app dev io ai co me tv cc us ca eu uk de
fr jp cn au br in nl se no es it ru ch at be dk fi pl nz za mx ar cl pe
ve tr gr pt cz sk hu ro bg ua by kz il sa ae eg ma ng ke id my sg th vn
ph hk tw kr is ie lu li mc sm va mt cy ee lv lt si hr rs ba mk al
ac.uk co.uk gov.uk org.uk net.uk sch.uk me.uk ltd.uk plc.uk nhs.uk
com.au net.au org.au edu.au gov.au asn.au id.au
co.jp ne.jp or.jp ac.jp ad.jp ed.jp go.jp gr.jp lg.jp
com.br net.br org.br gov.br edu.br
com.cn net.cn org.cn gov.cn edu.cn ac.cn
com.mx org.mx net.mx gob.mx edu.mx
co.in net.in org.in firm.in gen.in ind.in ernet.in
co.nz net.nz org.nz govt.nz ac.nz school.nz geek.nz gen.nz kiwi.nz
co.za net.za org.za gov.za edu.za web.za ac.za
co.kr ne.kr or.kr re.kr go.kr ac.kr pe.kr
com.tw net.tw org.tw edu.tw gov.tw idv.tw
com.hk net.hk org.hk edu.hk gov.hk idv.hk
com.sg net.sg org.sg edu.sg gov.sg per.sg
com.my net.my org.my edu.my gov.my
co.id net.id or.id web.id ac.id sch.id go.id
com.ar net.ar org.ar edu.ar gob.ar
com.tr net.tr org.tr edu.tr gov.tr web.tr
com.ru net.ru org.ru msk.ru spb.ru
co.il net.il org.il ac.il gov.il muni.il
com.ua net.ua org.ua edu.ua gov.ua in.ua kiev.ua
com.pl net.pl org.pl edu.pl gov.pl waw.pl
com.gr net.gr org.gr edu.gr gov.gr
com.pt net.pt org.pt edu.pt gov.pt
com.es nom.es org.es gob.es edu.es
com.it
co.at or.at ac.at gv.at
com.de com.se
co.th in.th or.th ac.th go.th net.th
com.vn net.vn org.vn edu.vn gov.vn
com.ph net.ph org.ph edu.ph gov.ph
com.eg net.eg org.eg edu.eg gov.eg
com.sa net.sa org.sa edu.sa gov.sa med.sa pub.sa
com.ae net.ae org.ae ac.ae gov.ae
co.ke or.ke ne.ke go.ke ac.ke sc.ke
com.ng net.ng org.ng edu.ng gov.ng
gov.it edu.it
co.ve com.ve net.ve org.ve gob.ve
com.co net.co org.co edu.co gov.co nom.co
com.pe net.pe org.pe edu.pe gob.pe nom.pe
com.cl gob.cl gov.cl mil.cl
co.cr ac.cr go.cr
com.do net.do org.do edu.do gob.do
com.uy net.uy org.uy edu.uy gub.uy
com.py net.py org.py edu.py gov.py
com.bo net.bo org.bo edu.bo gob.bo
com.ec net.ec org.ec edu.ec gob.ec fin.ec med.ec pro.ec
github.io gitlab.io pages.dev vercel.app netlify.app herokuapp.com
appspot.com cloudfront.net azurewebsites.net blogspot.com wordpress.com
s3.amazonaws.com elasticbeanstalk.com fastly.net web.app firebaseapp.com
*.ck !www.ck
*.jm *.kh
*.er *.fk *.mm *.np *.pg
*.bd
gov.bd com.bd net.bd org.bd edu.bd
ac.th
"""


def _psl_parse(text: str):
    """PSL text -> (exact: set, wildcard_parents: set, exceptions: set).
    A wildcard '*.ck' is stored by its parent 'ck'; an exception '!www.ck'
    by its literal labels 'www.ck'."""
    exact, wild, exc = set(), set(), set()
    for tok in text.split():
        tok = tok.strip().lower()
        if not tok or tok.startswith("//"):
            continue
        if tok.startswith("!"):
            exc.add(tok[1:])
        elif tok.startswith("*."):
            wild.add(tok[2:])
        else:
            exact.add(tok)
    return exact, wild, exc


def _psl_rule_rows(cfg) -> list[tuple[str, bool, bool]]:
    """(suffix_key, is_wildcard_parent, is_exception) rows for the
    broadcast rule dim; ``psl_file`` side-loads the full public list."""
    text = _PSL_RULES
    if cfg.get("psl_file"):
        with open(cfg["psl_file"]) as f:
            text = "\n".join(
                ln.split()[0] for ln in f
                if ln.strip() and not ln.startswith("//"))
    exact, wild, exc = _psl_parse(text)
    rows = [(s, False, False) for s in exact - wild - exc]
    rows += [(s, True, False) for s in wild]
    rows += [(s, False, True) for s in exc]
    return rows


_PSL_MAX_DEPTH = 4  # deepest rule family shipped/joined (PSL max ~5)


def p_registered_domain(df, spec, ctx):
    """PSL resolution as per-depth broadcast hash joins: candidate suffix
    at each label depth joins the rule dim once; the winner is the longest
    match, with exception rules overriding wildcards (publicsuffix.org
    algorithm).  Unknown TLDs take the implicit '*' default rule: public
    suffix = last label (matching the ES processor, which uses the same
    list+algorithm)."""
    cfg = spec.config
    f_name = cfg["field"]
    target = cfg.get("target_field", "")
    tprefix = f"{target}." if target else ""
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not cfg.get("ignore_missing", False):
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    spark = df.sparkSession
    rules = spark.createDataFrame(
        _psl_rule_rows(cfg), "sfx string, wild boolean, exc boolean")

    domain_expr = F.lower(fcol(f_name).cast("string"))
    df = df.withColumn("__rd_domain", domain_expr)
    domain = fcol("__rd_domain")
    labels = F.split(domain, r"\.")
    nlab = F.size(labels)
    # candidate suffix of the last k labels, joined against the rule dim
    for k in range(1, _PSL_MAX_DEPTH + 1):
        cand = F.when(nlab >= k, F.concat_ws(
            ".", F.slice(labels, nlab - k + 1, k)))
        df = df.withColumn(f"__rd_c{k}", cand)
        dim = rules.select(F.col("sfx").alias(f"__rd_c{k}"),
                           F.col("wild").alias(f"__rd_w{k}"),
                           F.col("exc").alias(f"__rd_e{k}"))
        df = df.join(F.broadcast(dim), f"__rd_c{k}", "left")
    # longest match wins; exceptions beat wildcards; wildcard parent at
    # depth k implies a public suffix of k+1 labels; default rule = 1 label
    ps = F.lit(None).cast("string")
    for k in range(1, _PSL_MAX_DEPTH + 1):
        exact_k = F.col(f"__rd_w{k}").isNotNull() & ~F.col(f"__rd_w{k}") \
            & ~F.col(f"__rd_e{k}")
        # exception at depth k: the public suffix is the rule MINUS its
        # leftmost label (the exception's own labels are registrable)
        exc_k = F.coalesce(F.col(f"__rd_e{k}"), F.lit(False))
        wild_k = F.coalesce(F.col(f"__rd_w{k}"), F.lit(False))
        ps = (F.when(exc_k, F.col(f"__rd_c{k - 1}") if k > 1
                     else F.lit(None).cast("string"))
              .when(wild_k & (nlab >= k + 1), F.col(f"__rd_c{k + 1}")
                    if k + 1 <= _PSL_MAX_DEPTH
                    else F.concat_ws(".", F.slice(labels, nlab - k, k + 1)))
              .when(exact_k, F.col(f"__rd_c{k}"))
              .otherwise(ps))
    ps = F.coalesce(ps, F.col("__rd_c1"))  # implicit '*' default rule
    df = df.withColumn("__rd_tld", ps)
    tld = fcol("__rd_tld")
    valid = tld.isNotNull() & (F.length(domain) > F.length(tld))
    stem = domain.substr(F.lit(1), F.length(domain) - F.length(tld) - F.lit(1))
    last_label = F.element_at(F.split(stem, r"\."), -1)
    registered_expr = F.when(valid, F.concat(last_label, F.lit("."), tld))
    df = df.withColumn("__rd_reg", registered_expr)
    registered = fcol("__rd_reg")
    subdomain = F.when(
        registered.isNotNull() & (F.length(domain) > F.length(registered)),
        domain.substr(F.lit(1),
                      F.length(domain) - F.length(registered) - F.lit(1)))
    updates = {
        f"{tprefix}domain": domain,
        f"{tprefix}registered_domain": registered,
        f"{tprefix}top_level_domain": tld,
        f"{tprefix}subdomain": subdomain,
    }
    st = Step(df)
    st.guarded(active & domain.isNotNull() & registered.isNotNull(),
               updates, {k: T.StringType() for k in updates})
    st.drop("__rd_domain", "__rd_tld", "__rd_reg",
            *[f"__rd_{p}{k}" for k in range(1, _PSL_MAX_DEPTH + 1)
              for p in ("c", "w", "e")])
    return st.done()


# -------------------------------------------------------- community_id -----
_PROTO_NUM = {"icmp": 1, "igmp": 2, "tcp": 6, "udp": 17, "gre": 47,
              "icmpv6": 58, "sctp": 132}


def _ip4_hex(col: Column) -> Column:
    """dotted-quad -> 8 hex chars (4 bytes)."""
    oct_ = F.split(col, r"\.")
    return F.concat(*[F.lpad(F.hex(oct_[i].cast("int")), 2, "0") for i in range(4)])


def _port_hex(col: Column) -> Column:
    return F.lpad(F.hex(col.cast("int")), 4, "0")


_IPV4_RX = r"^(\d{1,3}\.){3}\d{1,3}$"


def _ip6_hex(col: Column) -> Column:
    """IPv6 string -> 32 lowercase hex chars, pure Column expressions:
    handles :: zero-compression; invalid shapes (including embedded
    IPv4-in-IPv6 tails) yield null so callers can fail cleanly."""
    c = F.lower(col)
    has2 = c.contains("::")
    halves = F.split(c, "::", 2)
    left = F.when(has2, F.get(halves, 0)).otherwise(c)
    right = F.when(has2, F.coalesce(F.get(halves, 1), F.lit(""))) \
        .otherwise(F.lit(""))
    lp = F.filter(F.split(left, ":"), lambda x: x != "")
    rp = F.filter(F.split(right, ":"), lambda x: x != "")
    nmiss = F.lit(8) - F.size(lp) - F.size(rp)
    mids = F.when(has2 & (nmiss > 0),
                  F.transform(F.sequence(F.lit(1), nmiss),
                              lambda _: F.lit("0"))) \
        .otherwise(F.array().cast("array<string>"))
    parts = F.concat(lp, mids, rp)
    valid = (c.contains(":")
             & (F.size(parts) == 8)
             & (F.size(F.filter(
                 parts, lambda p: p.rlike("^[0-9a-f]{1,4}$"))) == 8))
    hx = F.concat_ws("", F.transform(parts, lambda p: F.lpad(p, 4, "0")))
    return F.when(valid, hx)


def _ip_hex_any(col: Column) -> Column:
    """IPv4 or IPv6 string -> network-order hex (8 or 32 chars)."""
    return F.when(col.rlike(_IPV4_RX), _ip4_hex(col)).otherwise(_ip6_hex(col))


# ICMP type <-> equivalent-reply type (community-id spec: bidirectional
# message pairs are ordered like port pairs; one-way types are not flipped)
_ICMP_EQUIV = {8: 0, 0: 8, 13: 14, 14: 13, 15: 16, 16: 15,
               17: 18, 18: 17, 10: 9, 9: 10}
_ICMP6_EQUIV = {128: 129, 129: 128, 133: 134, 134: 133, 135: 136, 136: 135}


def _equiv_expr(col: Column, table: dict[int, int]) -> Column:
    out = F.when(F.lit(False), F.lit(None).cast("int"))
    for k, v in table.items():
        out = out.when(col == k, F.lit(v))
    return out.otherwise(F.lit(None).cast("int"))


def p_community_id(df, spec, ctx):
    """Community ID v1 flow hash: seed(2B) + src_ip + dst_ip + proto(1B) +
    pad(1B) + src_port(2B) + dst_port(2B), tuple-ordered, SHA-1, base64,
    prefixed '1:'.  Assembled as a hex string and hashed JVM-side via
    unhex+sha1 — no UDF.  IPv4 and IPv6 endpoints are supported (hex
    comparison of equal-length strings gives the canonical numeric
    ordering); ICMP/ICMPv6 flows derive the port pair from type/code with
    the spec's bidirectional-equivalent table, and one-way ICMP flows are
    never flipped."""
    cfg = spec.config
    seed = int(cfg.get("seed", 0))
    target = cfg.get("target_field", "network.community_id")
    active = ctx.active(df, spec)

    def col_or_null(name):
        return fcol(name).cast("string") if name in df.columns else F.lit(None).cast("string")

    src_ip = col_or_null(cfg.get("source_ip", "source.ip"))
    dst_ip = col_or_null(cfg.get("destination_ip", "destination.ip"))
    src_port = col_or_null(cfg.get("source_port", "source.port")).cast("int")
    dst_port = col_or_null(cfg.get("destination_port", "destination.port")).cast("int")
    icmp_type = col_or_null(cfg.get("icmp_type", "icmp.type")).cast("int")
    icmp_code = col_or_null(cfg.get("icmp_code", "icmp.code")).cast("int")
    transport = F.lower(col_or_null(cfg.get("transport", "network.transport")))
    proto = F.element_at(
        F.create_map(*[x for k, v in _PROTO_NUM.items()
                       for x in (F.lit(k), F.lit(v))]), transport)

    is_icmp = transport.isin("icmp", "icmpv6")
    equiv = F.when(transport == "icmp", _equiv_expr(icmp_type, _ICMP_EQUIV)) \
        .otherwise(_equiv_expr(icmp_type, _ICMP6_EQUIV))
    # ICMP: the port pair is (type, equivalent-or-code); flows whose type
    # has no bidirectional equivalent are one-way -> never reordered
    eff_src_port = F.when(is_icmp, icmp_type).otherwise(src_port)
    eff_dst_port = F.when(is_icmp, F.coalesce(equiv, icmp_code)) \
        .otherwise(dst_port)
    one_way = is_icmp & equiv.isNull()

    # r6: stage the endpoint-hex conversions in their own columns — each
    # is referenced by the ordering flip, both tuple slots and the ok
    # check, and the inlined copies of the (large, IPv6-capable) _ip_hex_any
    # tree blew the generated method past the JIT's huge-method limit as
    # soon as two community_id processors shared a stage (measured 8x the
    # per-row cost of a single processor).  Multi-referenced non-cheap
    # producers stay staged (SPARK-36718), so each tree now exists — and
    # runs — once per row.
    hx = staging_name("__cidhex_", target)
    df = df.withColumns({
        f"{hx}s": F.when(active, _ip_hex_any(src_ip)),
        f"{hx}d": F.when(active, _ip_hex_any(dst_ip)),
    })
    src_hex = fcol(f"{hx}s")
    dst_hex = fcol(f"{hx}d")
    # canonical ordering: smaller (ip, port) endpoint first (hex strings of
    # equal length compare numerically)
    flip = (~one_way & ((src_hex > dst_hex)
                        | ((src_hex == dst_hex)
                           & (eff_src_port > eff_dst_port))))
    ip1 = F.when(flip, dst_hex).otherwise(src_hex)
    ip2 = F.when(flip, src_hex).otherwise(dst_hex)
    p1 = F.when(flip, eff_dst_port).otherwise(eff_src_port)
    p2 = F.when(flip, eff_src_port).otherwise(eff_dst_port)

    hexstr = F.concat(
        F.lit(f"{seed:04x}"),
        ip1, ip2,
        F.lpad(F.hex(proto), 2, "0"), F.lit("00"),
        _port_hex(p1), _port_hex(p2))
    # sha1 returns hex; unhex back to raw bytes before base64
    cid = F.concat(F.lit("1:"), F.base64(F.unhex(F.sha1(F.unhex(hexstr)))))
    ok = (src_hex.isNotNull() & dst_hex.isNotNull() & proto.isNotNull()
          & p1.isNotNull() & p2.isNotNull())
    st = Step(df)
    ctx.fail(st, active & ~ok, spec,
             "unable to compute community id: missing required fields")
    st.guarded(active & ok, {target: cid}, {target: T.StringType()})
    st.drop(f"{hx}s", f"{hx}d")
    return st.done()


# ---------------------------------------------------------- fingerprint ----
_FP_METHODS = {"MD5": F.md5, "SHA-1": F.sha1,
               "SHA-256": lambda c: F.sha2(c, 256),
               "SHA-512": lambda c: F.sha2(c, 512)}


def _fp_d() -> Column:
    return F.lit(b"\x00")  # ES FingerprintProcessor DELIMITER


def _fp_empty() -> Column:
    return F.lit(b"")


def _le8(col: Column) -> Column:
    """long -> 8-byte LITTLE-endian binary (ES ByteUtils.writeLongLE),
    built JVM-side: ONE %02x*8 format over the 8 byte values then unhex
    — stays in codegen (r6: one java.util.Formatter pass instead of 8
    format_string calls + concat; ~25% cheaper per long, bit-identical)."""
    col = col.cast("long")
    args = [F.shiftright(col, 8 * i).bitwiseAND(F.lit(255)) for i in range(8)]
    return F.unhex(F.format_string("%02x" * 8, *args))


def _es_fp_enc(col: Column, dt) -> Column:
    """ES-exact fingerprint byte encoding of one value (binary Column).

    Reconstructed from the reference golden "XqSwreW5FVPwjCF9pB7tzX6fQBs="
    (spec/integration/elastic_integration_spec.rb:393-414): the only byte
    serialization whose SHA-1 matches is — map: per SORTED key,
    0x00 + key_utf8 + 0x00 + enc(value), null entries skipped, no field
    name at the top level and no trailing delimiter; string: UTF-8;
    integer: 8-byte little-endian long (logstash events box Ruby Integer
    as Java Long; ES writeLongLE).  Booleans as one byte 0/1 and list
    elements as 0x00 + enc(elem) follow the same scheme (not pinned by a
    published golden — documented assumption)."""
    if isinstance(dt, T.StringType):
        return col.cast("binary")
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return _le8(col)
    if isinstance(dt, T.BooleanType):
        return F.when(col, F.lit(b"\x01")).otherwise(F.lit(b"\x00"))
    if isinstance(dt, T.StructType):
        parts = []
        for sf in sorted(dt.fields, key=lambda f: f.name):
            sub = col[sf.name]
            parts.append(F.when(
                sub.isNotNull(),
                F.concat(_fp_d(), F.lit(sf.name.encode()), _fp_d(),
                         _es_fp_enc(sub, sf.dataType))).otherwise(_fp_empty()))
        return F.concat(*parts) if parts else _fp_empty()
    if isinstance(dt, T.MapType):
        entries = F.array_sort(F.map_entries(col))  # sorts by key
        return F.aggregate(
            entries, _fp_empty(),
            lambda acc, e: F.when(
                e["value"].isNotNull(),
                F.concat(acc, _fp_d(), e["key"].cast("binary"), _fp_d(),
                         _es_fp_enc(e["value"], dt.valueType)))
            .otherwise(acc))
    if isinstance(dt, T.ArrayType):
        return F.aggregate(
            col, _fp_empty(),
            lambda acc, e: F.concat(acc, _fp_d(),
                                    _es_fp_enc(e, dt.elementType)))
    raise ValueError(
        f"fingerprint: unsupported field type {dt.simpleString()} "
        "(ES byte serialization not defined here — fail-loud)")


def p_fingerprint(df, spec, ctx):
    """Stable hash of selected fields — ES-EXACT byte serialization
    (reference golden :393-414 reproduced bit-for-bit; see _es_fp_enc and
    tests/test_processors.py::test_fingerprint_es_golden).  Fields are
    hashed in sorted order, each contributing enc(value) only (ES hashes
    the VALUE, not the top-level field name — empirically pinned by the
    golden), digest base64-encoded."""
    cfg = spec.config
    fields = sorted(cfg["fields"])
    target = cfg.get("target_field", "fingerprint")
    method = cfg.get("method", "SHA-1")
    salt = cfg.get("salt", "")
    active = ctx.active(df, spec)
    missing = [f for f in fields if field_type(df, f) is None]
    if missing and not cfg.get("ignore_missing", False):
        # ES parity: ANY missing field fails the document unless
        # ignore_missing (getFieldValue throws -> failure channel)
        return ctx.fail(df, active, spec,
                        f"field [{missing[0]}] not present as part of "
                        f"path [{missing[0]}]")
    parts: list[Column] = [F.lit(salt.encode())] if salt else []
    present = F.lit(False)
    for f_name in fields:
        dt = field_type(df, f_name)
        if dt is None:
            continue
        col = fcol(f_name)
        present = present | col.isNotNull()
        parts.append(F.when(col.isNotNull(), _es_fp_enc(col, dt))
                     .otherwise(_fp_empty()))
    if not parts:
        if not cfg.get("ignore_missing", False):
            return ctx.fail(df, active, spec, "no fields to fingerprint")
        return df
    canonical = F.concat(*parts) if len(parts) > 1 else parts[0]
    if method == "MurmurHash3":
        # ES: MurmurHash3.hash128 seed 0, h1||h2 little-endian, base64
        # (FingerprintProcessor).  No 128-bit murmur exists JVM-side, so
        # the digest (only) runs as an Arrow-batched UDF over the
        # JVM-serialized canonical bytes — see functions/murmur3.py.
        from ..functions.murmur3 import murmur3_udf
        value = F.base64(murmur3_udf()(F.when(active & present, canonical)))
    else:
        hex_hash = _FP_METHODS[method](canonical)
        value = F.base64(F.unhex(hex_hash))
    return guarded(df, active & present, {target: value},
                   {target: T.StringType()})
