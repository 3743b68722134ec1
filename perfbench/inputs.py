"""Seeded synthetic inputs for the pipeline benchmark.

The program's own generators cannot take a seed: ``sources.synth.pages`` is
a pure function of the row id and ``sources.synth.features`` fixes its rng
at 42. The benchmark therefore draws both tables from its ``--seed`` with
numpy, in the shapes and skew of ``sources.synth``:

- pages: zipf-ish domains, 80 % carry a ``coords: lat, lon`` geotag, 55 %
  of the points fall in Gaussian clusters around 20 city centres (hot
  cells), the rest uniform over the mercator band; the seed turns the
  cities in longitude and draws every point;
- features: convex admin polygons around the same cities (every 20th
  holed), chained road linestrings and POI points, 1/3 of them gated to
  ``@zoom:min`` 14.

Both are written as parquet and the program receives only those files.
Nothing here imports the program, so the inputs of a seed do not change
when the program does.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CITIES = 20
LANGS = ["en", "de", "fr", "es", "pt"]

FEATURE_SCHEMA = pa.schema(
    [
        ("feature_id", pa.int64()),
        ("layer", pa.string()),
        ("geom_type", pa.int32()),
        ("wkb", pa.binary()),
        ("minx", pa.float64()),
        ("miny", pa.float64()),
        ("maxx", pa.float64()),
        ("maxy", pa.float64()),
        ("zoom_min", pa.int32()),
        ("zoom_max", pa.int32()),
        ("props", pa.map_(pa.string(), pa.string())),
    ]
)


def city_centers(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """``sources.synth``'s 20 city centres, turned east by a seed-drawn
    angle within synth's [-170, 170] longitude band.

    Latitudes stay put: a tile covers less ground the further it is from the
    equator, so moving cities north or south would change the amount of
    tiling work from seed to seed. Turning in longitude keeps it.
    """
    rng = np.random.default_rng(42)  # synth's draw
    lon = rng.random(N_CITIES) * 340.0 - 170.0
    lat = (rng.random(N_CITIES) * 120.0 - 60.0).round(4)
    turn = np.random.default_rng([seed, 0]).random() * 340.0
    lon = ((lon + 170.0 + turn) % 340.0 - 170.0).round(4)
    return lon, lat


def pages_table(n: int, seed: int) -> pa.Table:
    """``n`` pages ``(url, warc_ts, html, text, lang)``."""
    rng = np.random.default_rng([seed, 1])
    city_lon, city_lat = city_centers(seed)
    u = rng.random((9, n))
    u_dom, u_mix, u_city, u_lon, u_lat, g1, g2, u_geo, u_lang = u

    rank = np.floor(u_dom**3 * 1000.0).astype(np.int64)
    city = np.floor(u_city**2 * N_CITIES).astype(np.int64)
    r = np.sqrt(-2.0 * np.log(g1 + 1e-12))
    theta = 2.0 * np.pi * g2
    clustered = u_mix < 0.55
    lon = np.where(
        clustered, city_lon[city] + r * np.cos(theta) * 0.35, u_lon * 360.0 - 180.0
    )
    lat = np.where(
        clustered, city_lat[city] + r * np.sin(theta) * 0.25, u_lat * 170.0 - 85.0
    )
    lon = np.clip(lon, -179.9999, 179.9999)
    lat = np.clip(lat, -84.9, 84.9)
    has_geo = u_geo < 0.8

    texts = []
    for i in range(n):
        body = (
            f"lorem ipsum dolor sit amet page {i} "
            "the quick brown fox jumps over the lazy dog "
        )
        if has_geo[i]:
            body += f"coords: {lat[i]:.6f}, {lon[i]:.6f}"
        texts.append(body)
    urls = [f"https://www.site{rank[i]}.example/p/{i:x}" for i in range(n)]
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    lang = np.array(LANGS)[np.floor(u_lang * len(LANGS)).astype(np.int64)]
    ts = 1704067200 + rng.integers(0, 31536000, n)
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
        }
    )


_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")


def wkb(geom_type: int, coords) -> bytes:
    """Little-endian WKB; polygon rings are closed on the wire."""
    parts = [_HDR.pack(1, geom_type)]
    if geom_type == 1:
        parts.append(struct.pack("<dd", *coords))
    elif geom_type == 2:
        parts += [_U32.pack(len(coords)), coords.astype("<f8").tobytes()]
    else:
        parts.append(_U32.pack(len(coords)))
        for ring in coords:
            closed = np.concatenate([ring, ring[:1]])
            parts += [_U32.pack(len(closed)), closed.astype("<f8").tobytes()]
    return b"".join(parts)


def _bbox(points: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(points[:, 0].min()),
        float(points[:, 1].min()),
        float(points[:, 0].max()),
        float(points[:, 1].max()),
    )


def features_table(
    seed: int,
    n_polygons: int,
    n_roads: int,
    n_pois: int,
    extent: float = 1.0,
) -> pa.Table:
    """Admin polygons, roads and POIs around the seed's city centres.

    ``extent`` scales polygon radii (``sources.synth`` draws 0.2-1.1
    degrees) and road segment lengths; it sets how many deep-zoom tiles the
    features cover.
    """
    rng = np.random.default_rng([seed, 2])
    city_lon, city_lat = city_centers(seed)
    rows = []

    for i in range(n_polygons):
        c = i % N_CITIES
        cx = float(city_lon[c] + rng.normal(0, 0.8))
        cy = float(city_lat[c] + rng.normal(0, 0.6))
        k = int(rng.integers(4, 9))
        ang = np.sort(rng.random(k)) * 2 * np.pi
        rad = (0.2 + rng.random(k) * 0.9) * extent
        ring = np.round(np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)]), 6)
        rings = [ring]
        if i % 20 == 0:
            h = 0.08 * extent
            rings.append(
                np.round(np.column_stack([cx + h * np.cos(ang[:4]), cy + h * np.sin(ang[:4])]), 6)
            )
        props = {"@layer": "admin", "class": f"admin{i % 4}", "name": f"poly{i}"}
        rows.append(("admin", 3, wkb(3, rings), _bbox(ring), 0, 99, props))

    for i in range(n_roads):
        c = i % N_CITIES
        pts = [np.array([city_lon[c] + rng.normal(0, 0.5), city_lat[c] + rng.normal(0, 0.5)])]
        for _ in range(int(rng.integers(3, 7))):
            pts.append(pts[-1] + rng.normal(0, 0.15 * extent, 2))
        line = np.round(np.array(pts), 6)
        props = {
            "@layer": "transportation",
            "class": ["primary", "secondary"][i % 2],
            "road_group": str(i // 3),
        }
        rows.append(("transportation", 2, wkb(2, line), _bbox(line), 5, 99, props))

    for i in range(n_pois):
        c = i % N_CITIES
        x = round(float(city_lon[c] + rng.normal(0, 0.4)), 6)
        y = round(float(city_lat[c] + rng.normal(0, 0.3)), 6)
        props = {"@layer": "poi", "class": f"poi{i % 5}"}
        zmin = 14 if i % 3 == 0 else 0
        if zmin:
            props["@zoom:min"] = "14"
        rows.append(("poi", 1, wkb(1, (x, y)), (x, y, x, y), zmin, 99, props))

    cols = list(zip(*rows))
    bbox = np.array(cols[3], dtype=np.float64).reshape(-1, 4)
    return pa.table(
        [
            pa.array(np.arange(len(rows), dtype=np.int64)),
            pa.array(cols[0], pa.string()),
            pa.array(cols[1], pa.int32()),
            pa.array(cols[2], pa.binary()),
            *[pa.array(bbox[:, j]) for j in range(4)],
            pa.array(cols[4], pa.int32()),
            pa.array(cols[5], pa.int32()),
            pa.array([list(p.items()) for p in cols[6]], FEATURE_SCHEMA.field("props").type),
        ],
        schema=FEATURE_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` equal parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
