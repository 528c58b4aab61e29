"""Minimal Turtle ingestion for the reference's RDF fixtures (S1/S5).

The reference accepts RDF request bodies via Clerezza's full parser stack
(OsmRdfTransformer.java:100-111); this engine's equivalent boundary is a
DataFrame.  To run the reference's own fixtures (input_data.ttl, foo.ttl,
osm-giglio-ways.ttl) we vendor a deliberately small Turtle subset reader —
prefixes, `<uri>` / prefixed-name subjects & predicates, quoted literals
with optional datatype, `;`/`,`/`.` punctuation, comments — which covers
every fixture shape the reference ships.  A production deployment would
swap in rdflib; this keeps the sandbox dependency-free.

Outputs, each one Arrow-backed ``LocalTableScan`` (``_local.local_frame``:
no Python-worker job, no shuffle):
* ``read_turtle_triples``  → (subject, predicate, object, is_literal) rows
* ``query_addresses_from_turtle`` → the query_addresses DataFrame shape
  (F1/J7 pivot: predicate-filtered triples → same-row columns, SURVEY §1.3).
  The pivot runs on the driver in one pass over the request's few triples;
  a subject's repeated predicate keeps its first literal in document order.
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from p3_osm_transformer_spark.sources._local import local_frame

_TOKEN = re.compile(
    r"""\s*(?:
      (?P<comment>\#[^\n]*)
    | (?P<uri><[^>]*>)
    | (?P<literal>"(?:[^"\\]|\\.)*")
    | (?P<pname>(?:[A-Za-z][\w.-]*)?:[\w.-]*)
    | (?P<number>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<kw>@prefix|a)
    | (?P<punct>[;,.\[\]])
    )""", re.VERBOSE)

SCHEMA_NS = "http://schema.org/"


def _tokenize(text: str):
    pos = 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                return
            raise ValueError(f"turtle parse error at: {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind != "comment":
            yield kind, m.group(kind)


def parse_turtle(text: str) -> list[tuple[str, str, str, bool]]:
    """→ [(subject, predicate, object, object_is_literal)] with prefixes
    expanded.  Blank-node syntax beyond `<>` is not needed by the fixtures."""
    prefixes: dict[str, str] = {}
    triples: list[tuple[str, str, str, bool]] = []
    toks = list(_tokenize(text))
    i = 0

    def expand(tok_kind: str, val: str) -> tuple[str, bool]:
        if tok_kind == "uri":
            return val[1:-1], False
        if tok_kind == "literal":
            return val[1:-1].replace('\\"', '"'), True
        if tok_kind == "number":
            return val, True
        if tok_kind == "pname":
            pfx, _, local = val.partition(":")
            return prefixes.get(pfx, pfx + ":") + local, False
        if tok_kind == "kw" and val == "a":
            return "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", False
        raise ValueError(f"unexpected term {val!r}")

    while i < len(toks):
        kind, val = toks[i]
        if kind == "kw" and val == "@prefix":
            pname, uri = toks[i + 1][1], toks[i + 2][1]
            prefixes[pname.rstrip(":")] = uri[1:-1]
            i += 4                                     # @prefix p: <u> .
            continue
        subj, _ = expand(kind, val)
        i += 1
        ended = False
        while not ended and i < len(toks):             # predicate list
            pred, _ = expand(*toks[i])
            i += 1
            while True:                                # object list
                obj, is_lit = expand(*toks[i])
                triples.append((subj, pred, obj, is_lit))
                punct = toks[i + 1][1] if i + 1 < len(toks) else "."
                i += 2
                if punct == ",":
                    continue
                if punct == ";":
                    break
                ended = True                           # "."
                break
    return triples


def read_turtle_triples(spark: SparkSession, path: str) -> DataFrame:
    return local_frame(spark, parse_turtle(Path(path).read_text()),
                       "subject string, predicate string, object string, is_literal boolean")


def query_addresses_from_turtle(spark: SparkSession, path: str) -> DataFrame:
    """The E1 request boundary: schema.org address triples → query rows.

    Pivot (SURVEY §1.3): triple-pattern filters (F1) become a predicate
    lookup, the correlated lookups (OsmRdfTransformer.java:205-223, J7)
    same-row columns.  Unlike the reference's last-wins single-Address quirk
    (W3), every subject with a wanted literal yields a row.  A missing street
    is ``""`` (skipped by ``geocode``, F9); locality/country stay NULL.
    """
    wanted = {
        SCHEMA_NS + "streetAddress": "street_address",
        SCHEMA_NS + "addressLocality": "locality",
        SCHEMA_NS + "addressCountry": "country",
    }
    rows: dict[str, dict[str, str]] = {}
    for subj, pred, obj, is_lit in parse_turtle(Path(path).read_text()):
        col = wanted.get(pred)
        if col is not None and is_lit:
            rows.setdefault(subj, {"query_id": subj}).setdefault(col, obj)
    return local_frame(spark, [{"street_address": "", **r} for r in rows.values()],
                       "query_id string, street_address string, locality string, country string")
