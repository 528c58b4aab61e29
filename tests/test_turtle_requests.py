"""The Turtle request boundary on in-repo fixtures (S1, F1, J7, W3, F9).

``tests/fixtures/input_data.ttl`` is the reference's one-address request
(Via Thaon de Revel 20 / Giglio Porto / IT) and ``giglio_mini.osm`` the
address cluster it geocodes to (README geocode example, node 848724518).
The other request bodies are written inline.
"""

from __future__ import annotations

import os

import pytest

from p3_osm_transformer_spark.operators import geocode, osm
from p3_osm_transformer_spark.sources.osm_xml import read_osm, read_osm_many
from p3_osm_transformer_spark.sources.rdf import (
    SCHEMA_NS,
    query_addresses_from_turtle,
    read_turtle_triples,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
INPUT_DATA = os.path.join(FIXTURES, "input_data.ttl")
GIGLIO_MINI = os.path.join(FIXTURES, "giglio_mini.osm")
QUERY_COLUMNS = ["query_id", "street_address", "locality", "country"]
PREFIXES = ("@prefix schema: <http://schema.org/> .\n"
            "@prefix ex: <http://example.org/request/> .\n")


def _queries(spark, tmp_path, body):
    path = tmp_path / "request.ttl"
    path.write_text(PREFIXES + body)
    return query_addresses_from_turtle(spark, str(path))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_one_subject_pivots_to_its_row(spark):
    q = query_addresses_from_turtle(spark, INPUT_DATA)
    assert q.columns == QUERY_COLUMNS
    assert _rows(q) == [("http://example.org/request/address",
                         "Via Thaon de Revel 20", "Giglio Porto", "IT")]


def test_three_subjects_give_three_rows(spark, tmp_path):
    q = _queries(spark, tmp_path, """
        ex:a a schema:PostalAddress ; schema:streetAddress "Via Roma 1" ;
             schema:addressLocality "Giglio Porto" ; schema:addressCountry "IT" .
        ex:b schema:addressCountry "IT" ; schema:streetAddress "Via Trento 1" ;
             schema:addressLocality "Giglio Castello" .
        ex:c schema:streetAddress "Via Thaon de Revel 20" .
    """)
    ex = "http://example.org/request/"
    assert _rows(q) == [(ex + "a", "Via Roma 1", "Giglio Porto", "IT"),
                        (ex + "b", "Via Trento 1", "Giglio Castello", "IT"),
                        (ex + "c", "Via Thaon de Revel 20", None, None)]


def test_missing_street_is_empty_and_geocode_skips_it(spark, tmp_path):
    """F9 end to end: read_osm → build_addresses → geocode from source text."""
    q = _queries(spark, tmp_path, """
        ex:a schema:streetAddress "Via Thaon de Revel 20" ;
             schema:addressLocality "Giglio Porto" ; schema:addressCountry "IT" .
        ex:b schema:addressLocality "Giglio Porto" ; schema:addressCountry "IT" .
    """)
    ex = "http://example.org/request/"
    assert (ex + "b", "", "Giglio Porto", "IT") in _rows(q)
    addrs = osm.build_addresses(*read_osm(spark, GIGLIO_MINI))
    out = geocode.geocode(q, addrs).collect()
    assert {r["query_id"] for r in out} == {ex + "a"}
    # any shared token matches ("via" reaches the quote-stripped Via Roma,
    # C1/C2); the way is anchored on its first nd (J4); the negative-id
    # node is not an address (F6)
    assert sorted((r["addr_id"], r["matched_street"], r["lat"], r["lon"]) for r in out) == [
        ("urn:osm:uuid:1004", "Via Roma 1", 42.359, 10.918),
        ("urn:osm:uuid:2001", "Via Thaon de Revel 22", 42.3603, 10.9199),
        ("urn:osm:uuid:848724518", "Via Thaon de Revel 20", 42.3600902, 10.9195731)]


def test_uri_valued_locality_is_ignored(spark, tmp_path):
    q = _queries(spark, tmp_path, """
        ex:a schema:streetAddress "Via Roma 1" ;
             schema:addressLocality <http://example.org/place/giglio-porto> ;
             schema:addressCountry ex:IT .
    """)
    assert _rows(q) == [("http://example.org/request/a", "Via Roma 1", None, None)]


def test_repeated_street_keeps_first_in_document_order(spark, tmp_path):
    q = _queries(spark, tmp_path, """
        ex:a schema:streetAddress "Via Roma 1", "Via Roma 2" .
        ex:b schema:streetAddress "Via Trento 1" .
        ex:a schema:streetAddress "Via Roma 3" ; schema:addressCountry "IT" .
    """)
    ex = "http://example.org/request/"
    assert _rows(q) == [(ex + "a", "Via Roma 1", None, "IT"),
                        (ex + "b", "Via Trento 1", None, None)]


def test_prefix_only_body_gives_empty_frame(spark, tmp_path):
    q = _queries(spark, tmp_path, "")
    assert q.columns == QUERY_COLUMNS
    assert [f.dataType.simpleString() for f in q.schema] == ["string"] * 4
    assert q.collect() == []


def test_triples_frame_shape(spark):
    t = read_turtle_triples(spark, INPUT_DATA)
    assert t.columns == ["subject", "predicate", "object", "is_literal"]
    assert sorted((r["predicate"], r["is_literal"]) for r in t.collect()) == [
        (SCHEMA_NS + "addressCountry", True), (SCHEMA_NS + "addressLocality", True),
        (SCHEMA_NS + "streetAddress", True),
        ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", False)]


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("body", ["", 'ex:a schema:streetAddress "Via Roma 1" .'])
def test_request_plans_as_local_scan_without_python_rdd(spark, tmp_path, body):
    """Guards against Spark's silent Arrow fallback: the request rows must
    reach the JVM as a local relation, never a Python RDD or a shuffle."""
    path = tmp_path / "request.ttl"
    path.write_text(PREFIXES + body)
    for df in (query_addresses_from_turtle(spark, str(path)),
               read_turtle_triples(spark, str(path))):
        plan = _physical_plan(df)
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan and "Exchange" not in plan


def test_read_osm_many_matches_read_osm(spark, tmp_path):
    paths = []
    for k in range(2):
        p = tmp_path / f"part{k}.osm"
        p.write_text(
            '<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n'
            f'<node id="{10 * k + 1}" lat="42.36" lon="10.91">'
            f'<tag k="addr:street" v="Via Roma"/><tag k="addr:housenumber" v="{k}"/></node>\n'
            f'<node id="{10 * k + 2}" lat="-1.5" lon="2.5"/>\n'
            f'<node id="{-(k + 1)}" lat="0.0" lon="0.0"/>\n'
            f'<way id="{k + 1}"><nd ref="{10 * k + 1}"/><nd ref="{10 * k + 2}"/>'
            '<tag k="highway" v="residential"/></way>\n'
            '</osm>\n')
        paths.append(str(p))
    nodes, ways = read_osm_many(spark, paths)
    want_nodes, want_ways = [], []
    for p in paths:
        n, w = read_osm(spark, p)
        want_nodes += _rows(n)
        want_ways += _rows(w)
    assert _rows(nodes) == sorted(want_nodes) and len(want_nodes) == 6
    assert _rows(ways) == sorted(want_ways) and len(want_ways) == 2


def test_read_osm_without_elements_gives_empty_local_frames(spark, tmp_path):
    p = tmp_path / "empty.osm"
    p.write_text('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6"/>\n')
    nodes, ways = read_osm(spark, str(p))
    assert nodes.columns == ["id", "lat", "lon", "tags"]
    assert ways.columns == ["id", "node_refs", "tags"]
    for df in (nodes, ways):
        assert df.collect() == []
        assert "LocalTableScan" in _physical_plan(df)
