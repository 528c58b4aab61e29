"""Seeded input generator for the benchmark.

Everything here is numpy + pyarrow + stdlib: the program under test never
sees this code, only the files it writes.  The same seed gives the same
files byte for byte.

Tables follow the engine's input contracts:

* images    -- (image_id, bytes, w, h, fmt, caption, phash), the
               ``BASELINE.json`` input schema.  An exact 80/10/10 split of
               caption-geotagged / EXIF-only / untagged rows.  EXIF-only
               rows carry a minimal JPEG with a GPS IFD written by
               ``jpeg_with_gps`` below.
* addresses -- (addr_id, street_address, locality, country, lat, lon).
* points    -- (point_id, lon, lat) for the admin point-in-polygon job.
* polygons  -- (polygon_id, name, wkt, bbox_*) admin areas; every 8th is a
               non-convex L-shape.
* OSM XML   -- <node>/<way> elements with addr:* tags (ways are anchored
               on their first node).
* Turtle    -- one schema:PostalAddress request body per request.

``hot`` is the fraction of images *and* addresses placed in one city-sized
cluster (about 2 km x 2.5 km); the rest are uniform over the globe.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_LAT, HOT_LON = 42.3600902, 10.9195731
HOT_DLAT, HOT_DLON = 0.01, 0.015

STREETS = ["Via Thaon de Revel", "Via Roma", "Via Garibaldi", "Corso Italia",
           "Hauptstrasse", "Bahnhofstrasse", "Rue de la Paix",
           "Avenue Victor Hugo", "Via Dante", "Piazza del Duomo",
           "Lungomare Colombo", "Via Trento", "Schillerweg", "Quai Voltaire"]
LOCALITIES = [("Giglio Porto", "IT"), ("Trento", "IT"), ("Roma", "IT"),
              ("Milano", "IT"), ("Berlin", "DE"), ("Hamburg", "DE"),
              ("Paris", "FR"), ("Lyon", "FR")]

CAPTION, EXIF, NONE = 0, 1, 2


def lonlat(rng: np.random.Generator, n: int, hot: float):
    """n coordinates, round(hot*n) of them in the hot cluster.  Rounded to
    7 decimals: the precision a caption geotag carries."""
    n_hot = int(round(hot * n))
    lat = rng.uniform(-80.0, 80.0, n)
    lon = rng.uniform(-180.0, 180.0, n)
    idx = rng.permutation(n)[:n_hot]
    lat[idx] = HOT_LAT + rng.uniform(-HOT_DLAT, HOT_DLAT, n_hot)
    lon[idx] = HOT_LON + rng.uniform(-HOT_DLON, HOT_DLON, n_hot)
    return np.round(lon, 7), np.round(lat, 7)


def geotag_kinds(rng: np.random.Generator, n: int) -> np.ndarray:
    """Exact 80/10/10 caption/EXIF/none split, shuffled."""
    n_cap, n_exif = n * 8 // 10, n // 10
    kinds = np.full(n, NONE, dtype=np.int8)
    kinds[:n_cap] = CAPTION
    kinds[n_cap:n_cap + n_exif] = EXIF
    return rng.permutation(kinds)


def _rationals(deg: float) -> bytes:
    d = abs(deg)
    whole = int(d)
    minutes = int((d - whole) * 60)
    micro_sec = int(round((d - whole - minutes / 60.0) * 3600.0 * 1_000_000))
    return struct.pack(">IIIIII", whole, 1, minutes, 1, micro_sec, 1_000_000)


def jpeg_with_gps(lat: float, lon: float) -> bytes:
    """SOI + APP1(Exif, big-endian TIFF: IFD0 -> GPS IFD) + EOI."""
    # TIFF offsets: header 0..8, IFD0 8..26, GPS IFD 26..80, rationals 80..128
    tiff = b"MM" + struct.pack(">HI", 42, 8)
    tiff += struct.pack(">H", 1) + struct.pack(">HHII", 0x8825, 4, 1, 26)
    tiff += struct.pack(">I", 0)
    tiff += struct.pack(">H", 4)
    tiff += struct.pack(">HHI", 1, 2, 2) + (b"N" if lat >= 0 else b"S") + b"\0\0\0"
    tiff += struct.pack(">HHII", 2, 5, 3, 80)
    tiff += struct.pack(">HHI", 3, 2, 2) + (b"E" if lon >= 0 else b"W") + b"\0\0\0"
    tiff += struct.pack(">HHII", 4, 5, 3, 104)
    tiff += struct.pack(">I", 0)
    tiff += _rationals(lat) + _rationals(lon)
    payload = b"Exif\0\0" + tiff
    return (b"\xff\xd8\xff\xe1" + struct.pack(">H", len(payload) + 2)
            + payload + b"\xff\xd9")


def images(rng: np.random.Generator, n: int, hot: float, first_id: int = 0,
           payload_bytes: int = 256) -> tuple[pa.Table, dict]:
    """Image table plus the truth the output checks need:
    {"kinds", "lat", "lon", "image_id"} (lat/lon NaN for untagged rows)."""
    lon, lat = lonlat(rng, n, hot)
    kinds = geotag_kinds(rng, n)
    ids = [f"img-{first_id + i:08d}" for i in range(n)]
    street = rng.integers(0, len(STREETS), n)
    loc = rng.integers(0, len(LOCALITIES), n)
    noise = rng.integers(0, 256, (n, payload_bytes), dtype=np.uint8)
    fmt, caption, payload = [], [], []
    for i in range(n):
        place = f"{STREETS[street[i]]} {i % 200 + 1}, {LOCALITIES[loc[i]][0]}"
        if kinds[i] == CAPTION:
            caption.append(f"View near {place} @ geo:{lat[i]:.7f},{lon[i]:.7f}")
        else:
            caption.append(f"Snapshot {first_id + i} near {place}")
        if kinds[i] == EXIF:
            fmt.append("jpeg")
            payload.append(jpeg_with_gps(lat[i], lon[i]))
        else:
            fmt.append("png")
            payload.append(b"\x89PNG\r\n\x1a\n" + noise[i].tobytes())
    table = pa.table({
        "image_id": pa.array(ids, pa.string()),
        "bytes": pa.array(payload, pa.binary()),
        "w": pa.array(rng.choice([64, 128], n).astype(np.int32)),
        "h": pa.array(rng.choice([64, 128], n).astype(np.int32)),
        "fmt": pa.array(fmt, pa.string()),
        "caption": pa.array(caption, pa.string()),
        "phash": pa.array(rng.integers(-2**62, 2**62, n, dtype=np.int64)),
    })
    geo = kinds != NONE
    truth = {"image_id": ids, "kinds": kinds,
             "lat": np.where(geo, lat, np.nan), "lon": np.where(geo, lon, np.nan)}
    return table, truth


def addresses(rng: np.random.Generator, n: int, hot: float) -> pa.Table:
    lon, lat = lonlat(rng, n, hot)
    street = rng.integers(0, len(STREETS), n)
    loc = rng.integers(0, len(LOCALITIES), n)
    number = rng.integers(1, 300, n)
    return pa.table({
        "addr_id": pa.array([f"urn:osm:uuid:{i + 1}" for i in range(n)]),
        "street_address": pa.array(
            [f"{STREETS[s]} {h}" for s, h in zip(street, number)]),
        "locality": pa.array([LOCALITIES[x][0] for x in loc]),
        "country": pa.array([LOCALITIES[x][1] for x in loc]),
        "lat": pa.array(lat), "lon": pa.array(lon),
    })


def polygons(rng: np.random.Generator, n: int) -> dict:
    """Admin polygons: axis-aligned rectangles, every 8th an L-shape (the
    rectangle minus its upper-right quarter), one per cell of a 16-wide
    lattice at a random offset inside it.  They never overlap and their
    sizes (2-6 x 1-4 degrees) do not depend on the seed, so neither does
    the PIP work per point.  Returns numpy columns plus the ring vertices
    the output check ray-casts against."""
    cols = 16
    cell_w, cell_h = 340.0 / cols, 150.0 / -(-n // cols)
    k = np.arange(n)
    w = np.round(2.0 + 4.0 * (k * 7 % 16) / 15.0, 6)
    h = np.round(1.0 + 3.0 * (k * 11 % 16) / 15.0, 6)
    lon0 = np.round(-170.0 + (k % cols) * cell_w
                    + rng.uniform(0.0, 1.0, n) * (cell_w - w), 6)
    lat0 = np.round(-75.0 + (k // cols) * cell_h
                    + rng.uniform(0.0, 1.0, n) * (cell_h - h), 6)
    lon1, lat1 = np.round(lon0 + w, 6), np.round(lat0 + h, 6)
    rings, wkts = [], []
    for i in range(n):
        x0, y0, x1, y1 = lon0[i], lat0[i], lon1[i], lat1[i]
        if i % 8 == 7:
            xm, ym = np.round((x0 + x1) / 2, 6), np.round((y0 + y1) / 2, 6)
            ring = [(x0, y0), (x1, y0), (x1, ym), (xm, ym), (xm, y1),
                    (x0, y1), (x0, y0)]
        else:
            ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        rings.append(np.asarray(ring, dtype=np.float64))
        wkts.append("POLYGON ((" + ", ".join(
            f"{x:.6f} {y:.6f}" for x, y in ring) + "))")
    return {"polygon_id": np.arange(1, n + 1, dtype=np.int64),
            "name": [f"admin-{i + 1}" for i in range(n)], "wkt": wkts,
            "bbox_lon0": lon0, "bbox_lat0": lat0,
            "bbox_lon1": lon1, "bbox_lat1": lat1, "rings": rings}


def polygons_table(polys: dict) -> pa.Table:
    return pa.table({k: pa.array(v) for k, v in polys.items() if k != "rings"})


def osm_xml(rng: np.random.Generator, n_addr: int, path: str) -> None:
    """An OSM extract with n_addr address-bearing elements: 3/4 nodes, 1/4
    ways (anchored on their first node), plus tag-less geometry nodes."""
    n_ways = n_addr // 4
    n_nodes = n_addr - n_ways
    lon, lat = lonlat(rng, n_nodes + n_ways, 0.0)
    street = rng.integers(0, len(STREETS), n_addr)
    loc = rng.integers(0, len(LOCALITIES), n_addr)
    number = rng.integers(1, 300, n_addr)

    def addr_tags(i: int) -> str:
        city, cc = LOCALITIES[loc[i]]
        return (f'<tag k="addr:street" v="{STREETS[street[i]]}"/>'
                f'<tag k="addr:housenumber" v="{number[i]}"/>'
                f'<tag k="addr:city" v="{city}"/>'
                f'<tag k="addr:country" v="{cc}"/>')

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
        for i in range(n_nodes + n_ways):
            tags = addr_tags(i) if i < n_nodes else ""
            f.write(f'<node id="{i + 1}" lat="{lat[i]:.7f}" '
                    f'lon="{lon[i]:.7f}">{tags}</node>\n')
        for j in range(n_ways):
            first = n_nodes + j + 1
            f.write(f'<way id="{j + 1}"><nd ref="{first}"/>'
                    f'<nd ref="{(first % (n_nodes + n_ways)) + 1}"/>'
                    f'{addr_tags(n_nodes + j)}</way>\n')
        f.write("</osm>\n")


def turtle_request(rng: np.random.Generator, request_no: int) -> str:
    """A schema:PostalAddress request body with 1-4 subjects, cycling with
    the request number so the subjects per request do not depend on the
    seed."""
    lines = ["@prefix schema: <http://schema.org/> .",
             "@prefix ex: <http://example.org/request/> ."]
    for s in range(request_no % 4 + 1):
        city, cc = LOCALITIES[int(rng.integers(0, len(LOCALITIES)))]
        street = STREETS[int(rng.integers(0, len(STREETS)))]
        lines.append(
            f'ex:r{request_no}-{s} a schema:PostalAddress ; '
            f'schema:streetAddress "{street} {int(rng.integers(1, 300))}" ; '
            f'schema:addressLocality "{city}" ; '
            f'schema:addressCountry "{cc}" .')
    return "\n".join(lines) + "\n"


def write_parquet(table: pa.Table, path: str, parts: int = 8) -> str:
    """Write ``table`` as ``parts`` files under the directory ``path``, so
    Spark reads it as that many input partitions, as it would a table
    that many writers produced."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path
