"""MaxMind DB (.mmdb) ingestion: parse the binary format into the
IP-range lookup dim the geoip processor resolves against.

The reference resolves IPs against .mmdb files loaded per node
(geoip/IpDatabaseProvider.java:36-99).  The Spark-first equivalent keeps
the *lookup* in the query plan (operators/enrich.py) and moves the file
parsing to the driver: this module walks the database's binary search
tree once, enumerates every network with its (flattened) record, and
returns a driver-local ``LocalDim`` for ``registry.dims[db]``.

Format implemented from the public MaxMind DB specification
(https://maxmind.github.io/MaxMind-DB/): metadata marker, 24/28/32-bit
node records, and the data-section type system (pointer, utf8, double,
bytes, uint16/32/64, int32, map, array, bool, float).
"""

from __future__ import annotations

import struct

from pyspark.sql import types as T

from ..plans.pipeline import LocalDim

_METADATA_MARKER = b"\xab\xcd\xefMaxMind.com"
_DATA_SEPARATOR = 16  # 16 zero bytes between tree and data section


class MmdbReader:
    def __init__(self, path: str):
        with open(path, "rb") as f:
            self.buf = f.read()
        marker_at = self.buf.rfind(_METADATA_MARKER)
        if marker_at < 0:
            raise ValueError(f"not a MaxMind DB file: {path}")
        self.metadata, _ = self._decode(marker_at + len(_METADATA_MARKER))
        self.record_size = self.metadata["record_size"]
        self.node_count = self.metadata["node_count"]
        self.ip_version = self.metadata["ip_version"]
        self.tree_size = (self.record_size * 2 // 8) * self.node_count
        self.data_start = self.tree_size + _DATA_SEPARATOR

    # ------------------------------------------------------- tree walk ----
    def _read_record(self, node: int, side: int) -> int:
        base = node * (self.record_size * 2 // 8)
        if self.record_size == 24:
            off = base + side * 3
            return int.from_bytes(self.buf[off:off + 3], "big")
        if self.record_size == 28:
            # 7 bytes/node; the middle byte carries each record's top nibble
            mid = self.buf[base + 3]
            if side == 0:
                return ((mid >> 4) << 24) | int.from_bytes(
                    self.buf[base:base + 3], "big")
            return ((mid & 0x0F) << 24) | int.from_bytes(
                self.buf[base + 4:base + 7], "big")
        if self.record_size == 32:
            off = base + side * 4
            return int.from_bytes(self.buf[off:off + 4], "big")
        raise ValueError(f"unsupported record size {self.record_size}")

    def networks(self):
        """Yield (first_ip_int, last_ip_int, record_dict) for every stored
        network.  For ip_version=6 databases the IPv4 space is ALSO stored
        under its 96-zero-bit prefix — callers filtering IPv4 can test
        first <= 0xFFFFFFFF."""
        bits = 32 if self.ip_version == 4 else 128

        def walk(node: int, prefix: int, depth: int):
            if node >= self.node_count:
                if node == self.node_count:  # empty branch
                    return
                # spec: data address = (value - node_count) + tree size,
                # which lands past the 16-byte separator
                record, _ = self._decode(
                    self.tree_size + (node - self.node_count))
                first = prefix << (bits - depth)
                last = first | ((1 << (bits - depth)) - 1)
                yield first, last, record
                return
            yield from walk(self._read_record(node, 0), prefix << 1, depth + 1)
            yield from walk(self._read_record(node, 1),
                            (prefix << 1) | 1, depth + 1)

        yield from walk(0, 0, 0)

    # --------------------------------------------------- data decoding ----
    def _decode(self, offset: int):
        ctrl = self.buf[offset]
        offset += 1
        dtype = ctrl >> 5
        if dtype == 1:  # pointer
            size = (ctrl >> 3) & 0x3
            v = ctrl & 0x7
            if size == 0:
                p = (v << 8) | self.buf[offset]
                offset += 1
            elif size == 1:
                p = (v << 16) | int.from_bytes(
                    self.buf[offset:offset + 2], "big")
                p += 2048
                offset += 2
            elif size == 2:
                p = (v << 24) | int.from_bytes(
                    self.buf[offset:offset + 3], "big")
                p += 526336
                offset += 3
            else:
                p = int.from_bytes(self.buf[offset:offset + 4], "big")
                offset += 4
            value, _ = self._decode(self.data_start + p)
            return value, offset
        if dtype == 0:  # extended type
            dtype = self.buf[offset] + 7
            offset += 1
        size = ctrl & 0x1F
        if size == 29:
            size = 29 + self.buf[offset]
            offset += 1
        elif size == 30:
            size = 285 + int.from_bytes(self.buf[offset:offset + 2], "big")
            offset += 2
        elif size == 31:
            size = 65821 + int.from_bytes(self.buf[offset:offset + 3], "big")
            offset += 3

        if dtype == 2:  # utf8 string
            return self.buf[offset:offset + size].decode("utf-8"), offset + size
        if dtype == 3:  # double
            return struct.unpack(">d", self.buf[offset:offset + 8])[0], offset + 8
        if dtype == 4:  # bytes
            return bytes(self.buf[offset:offset + size]), offset + size
        if dtype in (5, 6, 9, 10):  # uint16/32/64/128
            return int.from_bytes(self.buf[offset:offset + size], "big"), \
                offset + size
        if dtype == 8:  # int32
            v = int.from_bytes(self.buf[offset:offset + size], "big")
            return v, offset + size
        if dtype == 7:  # map
            out = {}
            for _ in range(size):
                k, offset = self._decode(offset)
                v, offset = self._decode(offset)
                out[k] = v
            return out, offset
        if dtype == 11:  # array
            out = []
            for _ in range(size):
                v, offset = self._decode(offset)
                out.append(v)
            return out, offset
        if dtype == 14:  # boolean (size IS the value)
            return bool(size), offset
        if dtype == 15:  # float
            return struct.unpack(">f", self.buf[offset:offset + 4])[0], \
                offset + 4
        raise ValueError(f"unsupported mmdb data type {dtype}")


def _en(node) -> str | None:
    names = node.get("names", {}) if isinstance(node, dict) else {}
    return names.get("en") if isinstance(names, dict) else None


def _flatten(record: dict) -> dict:
    """GeoLite2-shaped record -> the flat geoip property names the ES
    geoip processor emits (GeoIpProcessor city/ASN field lists):
    country_iso_code/name, continent_code/name, region_iso_code/name
    (region iso = COUNTRY-SUBDIVISION), city_name, timezone, lat/lon,
    and the ASN db's asn / organization_name."""
    out = {}
    country = record.get("country", {})
    city = record.get("city", {})
    loc = record.get("location", {})
    continent = record.get("continent", {})
    subs = record.get("subdivisions")
    if country:
        out["country_iso_code"] = country.get("iso_code")
        out["country_name"] = _en(country)
    if continent:
        out["continent_code"] = continent.get("code")
        out["continent_name"] = _en(continent)
    if isinstance(subs, list) and subs and isinstance(subs[0], dict):
        sub_iso = subs[0].get("iso_code")
        c_iso = country.get("iso_code") if country else None
        if sub_iso and c_iso:
            out["region_iso_code"] = f"{c_iso}-{sub_iso}"
        out["region_name"] = _en(subs[0])
    if city:
        out["city_name"] = _en(city)
    if loc:
        out["lat"] = loc.get("latitude")
        out["lon"] = loc.get("longitude")
        if loc.get("time_zone") is not None:
            out["timezone"] = loc.get("time_zone")
    # ASN databases: top-level scalars with MaxMind raw names
    if record.get("autonomous_system_number") is not None:
        out["asn"] = record.get("autonomous_system_number")
    if record.get("autonomous_system_organization") is not None:
        out["organization_name"] = record.get(
            "autonomous_system_organization")
    # flat custom DBs (tests / bespoke enrich tables) pass through scalars
    for k, v in record.items():
        if not isinstance(v, (dict, list)) \
                and k not in ("autonomous_system_number",
                              "autonomous_system_organization"):
            out.setdefault(k, v)
    return out


def load_mmdb_dim(path: str, ipv4_only: bool = True) -> LocalDim:
    """Parse a .mmdb file into the geoip range dimension: columns
    (lo, hi, <flattened properties>).  ipv4_only keeps the IPv4 view of a
    v6 tree (range values fit the processor's IPv4-long probe)."""
    reader = MmdbReader(path)
    rows = []
    keys: list[str] = []
    v4_base = 0xFFFF00000000  # ::ffff:0:0/96 mapped-IPv4 prefix value
    for first, last, record in reader.networks():
        if reader.ip_version == 6 and ipv4_only:
            # the IPv4 space of a v6 tree lives under ::ffff:0:0/96 (or
            # plain 96-zero-bit prefixes, per writer convention)
            if first >> 32 not in (0, 0xFFFF):
                continue
            first &= 0xFFFFFFFF
            last &= 0xFFFFFFFF
        elif reader.ip_version == 6 and first > 0xFFFFFFFFFFFFFFFF:
            continue  # full-v6 ranges exceed bigint; out of dim scope
        flat = _flatten(record)
        for k in flat:
            if k not in keys:
                keys.append(k)
        rows.append((first, last, flat))
    data = [(lo, hi, *[flat.get(k) for k in keys]) for lo, hi, flat in rows]
    fields = [T.StructField("lo", T.LongType()),
              T.StructField("hi", T.LongType())]
    for k in keys:
        sample = next((flat[k] for _, _, flat in rows
                       if flat.get(k) is not None), None)
        if isinstance(sample, bool):
            dt = T.BooleanType()
        elif isinstance(sample, int):
            dt = T.LongType()
        elif isinstance(sample, float):
            dt = T.DoubleType()
        else:
            dt = T.StringType()
        fields.append(T.StructField(k, dt))
    return LocalDim(data, T.StructType(fields))


# --------------------------------------------------- fixture writer --------

def write_mmdb(path: str, networks: list[tuple[str, dict]],
               ip_version: int = 4) -> None:
    """Minimal .mmdb writer (24-bit records) for test fixtures: builds the
    binary search tree for CIDR -> record and serializes tree + data +
    metadata per the public spec.  Not an optimizing writer (no record
    dedup beyond exact dicts, no pointer compression)."""
    import ipaddress

    bits = 32 if ip_version == 4 else 128
    # trie build: node = [left, right]; leaves are ('data', idx)
    root: list = [None, None]
    data_blobs: list[bytes] = []
    data_offsets: list[int] = []

    def encode_value(v):
        if isinstance(v, bool):  # extended type 14: ctrl size IS the value
            return b"\x01\x07" if v else b"\x00\x07"
        if isinstance(v, str):
            b = v.encode("utf-8")
            assert len(b) < 29
            return bytes([0x40 | len(b)]) + b
        if isinstance(v, float):
            return b"\x68" + struct.pack(">d", v)
        if isinstance(v, int):
            b = v.to_bytes((v.bit_length() + 7) // 8 or 1, "big")
            assert len(b) <= 4
            return bytes([0xC0 | len(b)]) + b
        if isinstance(v, dict):
            return encode_map(v)
        raise TypeError(type(v))

    def encode_map(d: dict) -> bytes:
        assert len(d) < 29
        out = bytearray([0xE0 | len(d)])
        for k, v in d.items():
            kb = k.encode()
            out += bytes([0x40 | len(kb)]) + kb
            out += encode_value(v)
        return bytes(out)

    def add_data(record: dict) -> int:
        blob = encode_map(record)
        off = sum(len(b) for b in data_blobs)
        data_blobs.append(blob)
        data_offsets.append(off)
        return len(data_blobs) - 1

    for cidr, record in networks:
        net = ipaddress.ip_network(cidr)
        addr = int(net.network_address)
        if ip_version == 6 and net.version == 4:
            addr |= 0xFFFF << 32
            plen = net.prefixlen + 96
        else:
            plen = net.prefixlen
        idx = add_data(record)
        node = root
        for d in range(plen):
            b = (addr >> (bits - 1 - d)) & 1
            if d == plen - 1:
                node[b] = ("data", idx)
            else:
                if not isinstance(node[b], list):
                    node[b] = [None, None]
                node = node[b]

    # assign node numbers breadth-first
    nodes: list[list] = []

    def collect(node):
        nodes.append(node)
        for side in (0, 1):
            if isinstance(node[side], list):
                collect(node[side])

    collect(root)
    numbering = {id(n): i for i, n in enumerate(nodes)}
    node_count = len(nodes)

    def record_value(v):
        if v is None:
            return node_count
        if isinstance(v, list):
            return numbering[id(v)]
        _, idx = v
        return node_count + 16 + data_offsets[idx]

    tree = bytearray()
    for n in nodes:
        tree += record_value(n[0]).to_bytes(3, "big")
        tree += record_value(n[1]).to_bytes(3, "big")

    meta = encode_map({
        "binary_format_major_version": 2,
        "binary_format_minor_version": 0,
        "node_count": node_count,
        "record_size": 24,
        "ip_version": ip_version,
        "database_type": "Test-City",
    })
    with open(path, "wb") as f:
        f.write(bytes(tree))
        f.write(b"\x00" * _DATA_SEPARATOR)
        for b in data_blobs:
            f.write(b)
        f.write(_METADATA_MARKER)
        f.write(meta)
