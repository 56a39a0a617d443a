"""MaxMind DB ingestion: fixture .mmdb round-trip (writer -> reader ->
broadcast range dim -> geoip processor), covering the reference's
IpDatabaseProvider path (geoip/IpDatabaseProvider.java:36-99) with the
public MaxMind-DB binary format."""

from logstash_filter_elastic_integration_spark.sources.mmdb import (
    MmdbReader, load_mmdb_dim, write_mmdb)
from tests.conftest import run_one


def _fixture(path):
    write_mmdb(str(path), [
        ("8.8.8.0/24", {"country": {"iso_code": "US",
                                    "names": {"en": "United States"}},
                        "city": {"names": {"en": "Mountain View"}},
                        "location": {"latitude": 37.4, "longitude": -122.0}}),
        ("10.0.0.0/8", {"net": "corp", "internal": True, "asn": 64512}),
        ("192.168.1.0/30", {"net": "lab", "internal": True, "asn": 64513}),
    ])
    return str(path)


def test_mmdb_reader_round_trip(tmp_path):
    path = _fixture(tmp_path / "test.mmdb")
    r = MmdbReader(path)
    assert r.metadata["record_size"] == 24 and r.ip_version == 4
    nets = {(lo, hi): rec for lo, hi, rec in r.networks()}

    def ip(s):
        a, b, c, d = (int(x) for x in s.split("."))
        return (a << 24) | (b << 16) | (c << 8) | d

    assert nets[(ip("8.8.8.0"), ip("8.8.8.255"))]["country"]["iso_code"] == "US"
    corp = nets[(ip("10.0.0.0"), ip("10.255.255.255"))]
    assert corp["net"] == "corp" and corp["internal"] is True
    assert corp["asn"] == 64512
    lab = nets[(ip("192.168.1.0"), ip("192.168.1.3"))]
    assert lab["net"] == "lab"


def test_mmdb_dim_feeds_geoip_processor(spark, registry, tmp_path):
    path = _fixture(tmp_path / "GeoTest.mmdb")
    dim = load_mmdb_dim(path)
    assert {"lo", "hi", "country_iso_code", "city_name", "net"} <= set(dim.columns)
    registry.dims["GeoTest.mmdb"] = dim
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "ip", "database_file": "GeoTest.mmdb",
                    "range_keys": ["lo", "hi"], "target_field": "geo",
                    "properties": ["country_iso_code", "city_name", "net"]}}],
        [("8.8.8.8",), ("10.1.2.3",), ("1.1.1.1",)], "ip string")
    by = {r["ip"]: r for r in out}
    assert by["8.8.8.8"]["geo.country_iso_code"] == "US"
    assert by["8.8.8.8"]["geo.city_name"] == "Mountain View"
    assert by["10.1.2.3"]["geo.net"] == "corp"
    assert by["1.1.1.1"]["geo.country_iso_code"] is None


def test_flatten_full_es_city_and_asn_field_lists(tmp_path):
    """The full ES GeoIpProcessor city/ASN property surface: continent
    code/name, region iso (COUNTRY-SUB) + name, timezone, asn +
    organization_name."""
    from logstash_filter_elastic_integration_spark.sources.mmdb import (
        _flatten)
    city = _flatten({
        "country": {"iso_code": "US", "names": {"en": "United States"}},
        "continent": {"code": "NA", "names": {"en": "North America"}},
        "subdivisions": [{"iso_code": "WA",
                          "names": {"en": "Washington"}}],
        "city": {"names": {"en": "Seattle"}},
        "location": {"latitude": 47.6, "longitude": -122.3,
                     "time_zone": "America/Los_Angeles"},
    })
    assert city["continent_code"] == "NA"
    assert city["continent_name"] == "North America"
    assert city["region_iso_code"] == "US-WA"
    assert city["region_name"] == "Washington"
    assert city["timezone"] == "America/Los_Angeles"
    asn = _flatten({"autonomous_system_number": 15169,
                    "autonomous_system_organization": "GOOGLE"})
    assert asn == {"asn": 15169, "organization_name": "GOOGLE"}


def test_geoip_database_path_autoload(spark, registry, tmp_path):
    """geoip with database_path ingests the .mmdb directly — no manual dim
    registration needed."""
    path = _fixture(tmp_path / "Auto.mmdb")
    out = run_one(
        spark, registry,
        [{"geoip": {"field": "ip", "database_file": "Auto.mmdb",
                    "database_path": path, "target_field": "geo",
                    "properties": ["country_iso_code", "net"]}}],
        [("8.8.8.8",), ("10.9.9.9",)], "ip string")
    by = {r["ip"]: r for r in out}
    assert by["8.8.8.8"]["geo.country_iso_code"] == "US"
    assert by["10.9.9.9"]["geo.net"] == "corp"


def test_engine_geoip_database_directory(spark, tmp_path):
    # plugin option geoip_database_directory: every *.mmdb in the dir
    # becomes a range dim keyed by filename; the geoip processor infers
    # range resolution from the dim's lo/hi columns
    from logstash_filter_elastic_integration_spark.engine import (
        SparkIngestFilter)
    _fixture(tmp_path / "GeoDir.mmdb")
    eng = SparkIngestFilter(
        pipelines={"p": {"processors": [
            {"geoip": {"field": "ip", "database_file": "GeoDir.mmdb",
                       "target_field": "geo"}}]}},
        pipeline_name="p",
        geoip_database_directory=str(tmp_path))
    df = spark.createDataFrame([("8.8.8.8",)], "ip string")
    row = eng.filter(df).collect()[0].asDict()
    hits = {k: v for k, v in row.items()
            if k.startswith("geo.") and v is not None}
    assert hits, f"no geo fields resolved: {row}"
