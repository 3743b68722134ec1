"""Cell spatial joins — points ⨝ polygons (containment) and points ⨝ lines
(distance) — as a cell-keyed equi-join plus one vectorized exact refine.

Semantics: the reference's feature×cell inverted index build/probe
(cmd/tiler/featurecache.go:73-94) + Point.InPolygon refinement
(lib/spatial/point.go:72-101), re-expressed as:

1. index pages' points with a z-cell id — NATIVE expressions (tile_exprs);
2. explode each feature's bbox into its covering cells (the multi-cell
   replication of J2/J4);
3. equi-join on the cell id;
4. cheap native bbox predicate (point-in-bbox) BEFORE the Python boundary —
   Catalyst cannot know UDF costs (SURVEY.md §4), so the two-stage filter is
   explicit (``_bbox_refine``);
5. exact refinement in ONE numpy loop (``_refine_mask``) inside an
   Arrow-batched pandas UDF: candidates are grouped by feature_id and the
   kernel — ray-casting PIP, or min distance to a polyline ≤ radius — runs
   once per (feature, Arrow batch).

Every join takes one of two paths, picked from the observed feature count
(``max_dim_features``):

- **broadcast** (features ≪ points, the common case): the dim is built on
  the driver and broadcast, and the geometry rides in the refine UDF's
  closure, so candidate rows carry only (lon, lat, feature_id). There is NO
  shuffle at all: scan → project → broadcast-join → filter, one stage end to
  end.
- **shuffle** (``_shuffle_join``): both sides hash-partitioned on the cell,
  with AQE skew splitting or explicit hot-cell salting; the geometry travels
  per row as WKB and is parsed once per feature group. plans/bucketing.py
  runs the same path over pre-bucketed tables with no exchange.

The refine stays an Arrow pandas UDF: the pure-Catalyst ray-cast
(functions/pip_native.py) gives identical rows but measured ~4x slower
(PLANS.md), and lives on as the tests' differential oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..functions import tile_exprs as TX
from ..kernels.geometry import (
    cell_fully_inside,
    dist_points_to_line_np,
    points_in_polygon_np,
)
from ..kernels.tilemath import coverage as cell_coverage
from ..kernels.tilemath import coverage_count, tile_bbox
from ..kernels.wkb import from_wkb, geom_bbox

DEFAULT_JOIN_ZOOM = 7

# Arrow batch size a PIP-heavy job should set (spark.sql.execution.arrow.
# maxRecordsPerBatch, via get_spark extra_conf): candidate rows are ~24 bytes
# (lon, lat, feature_id), so 512k-row batches are ~12 MB and cut per-batch
# handoff overhead ~1.5x at 16 cores. Deliberately NOT the session default —
# jobs carrying KB-scale text/binary rows would make such batches 100s of MB.
PIP_ARROW_BATCH = 524288


def _refine_mask(px, py, fid, geom_of, kernel) -> pd.Series:
    """The one refine loop over an Arrow batch of candidates (pandas
    Series): stable-sort by feature_id and run ``kernel(x, y, geom)`` once
    per distinct feature (candidates arrive cell-clustered, so a batch holds
    few). ``geom_of(fid, row)`` returns the feature's geometry — ``row`` is
    one of its candidate rows — or None, which rejects the whole group."""
    px, py = px.to_numpy(dtype=float), py.to_numpy(dtype=float)
    fid = fid.to_numpy()
    out = np.zeros(len(fid), dtype=bool)
    if not len(fid):
        return pd.Series(out)
    order = np.argsort(fid, kind="stable")
    sorted_fid = fid[order]
    bounds = np.flatnonzero(np.r_[True, sorted_fid[1:] != sorted_fid[:-1], True])
    for s, e in zip(bounds[:-1], bounds[1:]):
        ix = order[s:e]
        geom = geom_of(sorted_fid[s], ix[0])
        if geom is not None:
            out[ix] = kernel(px[ix], py[ix], geom)
    return pd.Series(out)


def _broadcast_refine(geoms: dict, kernel):
    """Refine UDF over (lon, lat, feature_id) with the geometry dictionary
    captured in the closure: ~24 bytes of Arrow traffic per candidate and no
    WKB parsing. Ids absent from ``geoms`` (the interior-cell sentinel) stay
    False."""

    @pandas_udf(BooleanType())
    def refine_by_id(px: pd.Series, py: pd.Series, fid: pd.Series) -> pd.Series:
        return _refine_mask(px, py, fid, lambda f, _: geoms.get(int(f)), kernel)

    return refine_by_id


def _shuffle_refine(geom_type: int, kernel):
    """Refine UDF over (lon, lat, feature_id, wkb) for the shuffle path, where
    no driver-side dictionary exists: each feature group parses its WKB once
    (feature_id identifies the geometry, as on the broadcast path)."""

    @pandas_udf(BooleanType())
    def refine_by_wkb(
        px: pd.Series, py: pd.Series, fid: pd.Series, wkb: pd.Series
    ) -> pd.Series:
        def geom_of(_, row):
            gt, coords = from_wkb(bytes(wkb.iat[row]))
            return coords if gt == geom_type else None

        return _refine_mask(px, py, fid, geom_of, kernel)

    return refine_by_wkb


def _bbox_refine(joined: DataFrame, refine: Column, keep: tuple) -> DataFrame:
    """Candidates → output rows: the native bbox filter (cheap, codegen'd)
    before the Python boundary, then the exact ``refine``, then ``keep``."""
    coarse = joined.filter(
        TX.point_in_bbox(
            F.col("lon"), F.col("lat"),
            F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"),
        )
    )
    return coarse.filter(refine).select(*[F.col(c) for c in keep])


def _too_many(features: DataFrame, geom_type: int, max_dim_features: int) -> bool:
    """The broadcast path collect()s the feature side on the driver; above
    ``max_dim_features`` rows the join takes the shuffle path instead (same
    output) of OOMing the driver — "small by definition" is enforced, not
    assumed."""
    side = features.filter(F.col("geom_type") == geom_type)
    return side.limit(max_dim_features + 1).count() > max_dim_features


def _feature_geoms(features: DataFrame, geom_type: int) -> dict[int, object]:
    """Driver collect of the broadcast side: feature_id → parsed coords."""
    return {
        int(r.feature_id): from_wkb(bytes(r.wkb))[1]
        for r in features.filter(F.col("geom_type") == geom_type)
        .select("feature_id", "wkb")
        .collect()
    }


def _polygon_dim(spark, polys: dict, zoom_of) -> tuple[DataFrame, list[int]]:
    """Driver-side polygon dim: one row per (cell, polygon) at the polygon's
    own zoom ``zoom_of(bbox)``, returned with the sorted zooms it used.

    Precomputes the INTERIOR-CELL shortcut: a cell whose closed rect provably
    lies inside the polygon (all corners pass PIP, no ring segment touches
    the rect) needs no ray-casting at all — with admin-scale polygons most
    covered cells are interior, so the Python stage only ray-casts the
    boundary fringe. Conservative test ⇒ output identical."""
    rows, zooms = [], set()
    for fid, rings in polys.items():
        bb = geom_bbox(3, rings)
        z = zoom_of(bb)
        zooms.add(z)
        for cx, cy, _ in cell_coverage(*bb, z):
            full = cell_fully_inside(tile_bbox(cx, cy, z), rings)
            rows.append((z, cx, cy, fid, *bb, full))
    dim = spark.createDataFrame(
        rows,
        "z int, cell_x long, cell_y long, feature_id long, minx double, "
        "miny double, maxx double, maxy double, full_inside boolean",
    )
    return dim, sorted(zooms)


def _index_points_multi(points: DataFrame, zs: list[int]) -> DataFrame:
    """One row per (point, active zoom) with that zoom's cell.

    Computes the cell ONCE at the finest active zoom, then derives every
    coarser one by shiftright — slippy tiles nest exactly (parent = child >>
    Δz; the max-clamp commutes with the shift and values are non-negative),
    so this replaces |zs| log/tan evaluations per point with one, same
    prefix trick as raster.py's downsample."""
    zmax = zs[-1]
    pts = points.withColumn("_cxf", TX.tile_x(F.col("lon"), zmax)).withColumn(
        "_cyf", TX.tile_y(F.col("lat"), zmax)
    )
    zc = F.array(
        *[
            F.struct(
                F.lit(z).cast("int").alias("z"),
                F.shiftright(F.col("_cxf"), zmax - z).alias("cell_x"),
                F.shiftright(F.col("_cyf"), zmax - z).alias("cell_y"),
            )
            for z in zs
        ]
    )
    return pts.withColumn("_zc", F.explode(zc)).select(
        *points.columns, "_zc.z", "_zc.cell_x", "_zc.cell_y"
    )


def _polygon_broadcast_join(
    points: DataFrame, features: DataFrame, zoom_of, keep: tuple
) -> DataFrame:
    """The broadcast containment join over a ``_polygon_dim``; a single
    active zoom probes with the plain (cell_x, cell_y) key."""
    polys = _feature_geoms(features, 3)
    dim, zs = _polygon_dim(points.sparkSession, polys, zoom_of)
    zs = zs or [DEFAULT_JOIN_ZOOM]  # no polygons: any zoom probes the empty dim
    if len(zs) == 1:
        pts, keys, dim = index_points(points, zs[0]), ["cell_x", "cell_y"], dim.drop("z")
    else:
        pts, keys = _index_points_multi(points, zs), ["z", "cell_x", "cell_y"]
    sentinel = min(polys, default=0) - 1  # fid the refine never resolves
    pip_fid = F.when(F.col("full_inside"), F.lit(sentinel)).otherwise(
        F.col("feature_id")
    )
    pip = _broadcast_refine(polys, points_in_polygon_np)
    return _bbox_refine(
        pts.join(F.broadcast(dim), keys, "inner"),
        F.col("full_inside") | pip(F.col("lon"), F.col("lat"), pip_fid),
        keep,
    )


def _shuffle_join(
    pts: DataFrame,
    cells: DataFrame,
    keep: tuple,
    kernel=points_in_polygon_np,
    geom_type: int = 3,
    salt_threshold: int | None = None,
) -> DataFrame:
    """The distributed path: cell-indexed points ⨝ feature cells (rows
    carrying ``wkb``) as a shuffle join, then the bbox filter and the WKB
    refine. ``salt_threshold``: cells holding more points than this get
    explicit hot-cell salting (skew.salted_cell_join) so a dense urban cell
    spreads over many reducers instead of one straggler; output is
    identical."""
    if salt_threshold is None:
        joined = pts.join(cells, ["cell_x", "cell_y"], "inner")
    else:
        from .skew import salted_cell_join

        joined = salted_cell_join(
            pts, cells, ["cell_x", "cell_y"], threshold=salt_threshold
        )
    refine = _shuffle_refine(geom_type, kernel)
    return _bbox_refine(
        joined,
        refine(F.col("lon"), F.col("lat"), F.col("feature_id"), F.col("wkb")),
        keep,
    )


def geocode_pages(pages: DataFrame) -> DataFrame:
    """pages → (url, text, lang, lon, lat); rows without a geotag are dropped
    by the geocoder (FIXTURES.md §1). Pure JVM expressions."""
    lon, lat = TX.geocode_text(F.col("text"))
    return (
        pages.withColumn("lon", lon)
        .withColumn("lat", lat)
        .filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
    )


def index_points(points: DataFrame, zoom: int, lon="lon", lat="lat") -> DataFrame:
    """Attach the z-cell id (native, codegen'd)."""
    return points.withColumn("cell_x", TX.tile_x(F.col(lon), zoom)).withColumn(
        "cell_y", TX.tile_y(F.col(lat), zoom)
    )


def _cells(features: DataFrame, zoom: int) -> DataFrame:
    """Feature rows → one row per covering cell of their bbox columns."""
    return TX.explode_coverage(features, zoom).withColumnRenamed(
        "tile_x", "cell_x"
    ).withColumnRenamed("tile_y", "cell_y")


def polygons_by_cell(features: DataFrame, zoom: int) -> DataFrame:
    """Polygon features → one row per covering cell (J2/J4 replication)."""
    return _cells(features.filter(F.col("geom_type") == 3), zoom)


def spatial_join(
    points: DataFrame,
    features: DataFrame,
    zoom: int = DEFAULT_JOIN_ZOOM,
    point_cols: tuple = ("url",),
    feature_cols: tuple = ("feature_id",),
    salt_threshold: int | None = None,
    max_dim_features: int = 1_000_000,
) -> DataFrame:
    """points(lon,lat,…) ⨝ polygon features → refined containment rows.

    Returns one row per (point, containing polygon) with ``point_cols`` +
    ``feature_cols``. Polygons index at the single cell ``zoom``; the
    broadcast path is the single-zoom case of ``multires_spatial_join``.

    ``max_dim_features``: above this many polygons the join takes the
    shuffle path (``_shuffle_join``, same output) instead of collecting them
    on the driver. ``salt_threshold`` (shuffle path only): cells holding more
    points than this get explicit hot-cell salting.
    """
    keep = point_cols + feature_cols
    if _too_many(features, 3, max_dim_features):
        return _shuffle_join(
            index_points(points, zoom), polygons_by_cell(features, zoom), keep,
            salt_threshold=salt_threshold,
        )
    return _polygon_broadcast_join(points, features, lambda bb: zoom, keep)


def multires_spatial_join(
    points: DataFrame,
    features: DataFrame,
    z_coarse: int = 2,
    z_fine: int = 12,
    max_cells: int = 4,
    point_cols: tuple = ("url",),
    feature_cols: tuple = ("feature_id",),
    max_dim_features: int = 1_000_000,
) -> DataFrame:
    """Multi-resolution cell join: each polygon indexes at ITS OWN zoom — the
    finest z in [z_coarse, z_fine] where its bbox covers ≤ ``max_cells``
    cells — and points probe their cell at every zoom the feature set
    actually uses. The reference's FeatureCache is exactly this shape (a
    per-zoom cell index, cmd/tiler/featurecache.go:73-94); a single-zoom
    join must either replicate continent-sized polygons across thousands of
    fine cells or flood city cells with coarse candidates. Here feature
    replication is ≤ max_cells rows per feature, and point replication is
    |active zooms| (bounded, typically ≤ 6) native exprs — no Python until
    the PIP refinement. Output equals ``spatial_join`` exactly; above
    ``max_dim_features`` polygons it is the shuffle path at
    ``DEFAULT_JOIN_ZOOM``.
    """
    keep = point_cols + feature_cols
    if _too_many(features, 3, max_dim_features):
        return _shuffle_join(
            index_points(points, DEFAULT_JOIN_ZOOM),
            polygons_by_cell(features, DEFAULT_JOIN_ZOOM),
            keep,
        )

    def zoom_of(bb):
        # walk the zoom down ARITHMETICALLY (corner-tile count) and only
        # materialize coverage at the chosen zoom — a world-bbox polygon at
        # z_fine=12 would otherwise enumerate ~16.7M tuples per feature
        z = z_fine
        while z > z_coarse and coverage_count(*bb, z) > max_cells:
            z -= 1
        return z

    return _polygon_broadcast_join(points, features, zoom_of, keep)


def radius_join(
    points: DataFrame,
    features: DataFrame,
    radius_deg: float,
    zoom: int = DEFAULT_JOIN_ZOOM,
    point_cols: tuple = ("url",),
    feature_cols: tuple = ("feature_id",),
    max_dim_features: int = 1_000_000,
) -> DataFrame:
    """Distance join: points within ``radius_deg`` of a LINE feature, in the
    reference's own metric — Segment.DistanceToPt's planar degree distance
    with clamped projection (lib/spatial/line.go:350-379).

    Same shape as the containment join: line bboxes EXPANDED by the radius
    explode into cells, candidates pass a native expanded-bbox filter, then
    the min-distance-to-polyline kernel refines. Broadcast dim below
    ``max_dim_features`` lines (no shuffle on the points side), the shuffle
    path above it (same output).
    """
    keep = point_cols + feature_cols
    pts = index_points(points, zoom)

    def within(px, py, line):
        return dist_points_to_line_np(px, py, line) <= radius_deg

    if _too_many(features, 2, max_dim_features):
        expanded = (
            features.filter(F.col("geom_type") == 2)
            .withColumn("minx", F.col("minx") - radius_deg)
            .withColumn("miny", F.col("miny") - radius_deg)
            .withColumn("maxx", F.col("maxx") + radius_deg)
            .withColumn("maxy", F.col("maxy") + radius_deg)
        )
        return _shuffle_join(
            pts, _cells(expanded, zoom), keep, kernel=within, geom_type=2
        )

    lines = _feature_geoms(features, 2)
    dim_rows = []
    for fid, coords in lines.items():
        minx, miny, maxx, maxy = geom_bbox(2, coords)
        bb = (minx - radius_deg, miny - radius_deg, maxx + radius_deg, maxy + radius_deg)
        dim_rows.extend((cx, cy, fid, *bb) for cx, cy, _ in cell_coverage(*bb, zoom))
    dim_df = points.sparkSession.createDataFrame(
        dim_rows,
        "cell_x long, cell_y long, feature_id long, minx double, "
        "miny double, maxx double, maxy double",
    )
    refine = _broadcast_refine(lines, within)
    return _bbox_refine(
        pts.join(F.broadcast(dim_df), ["cell_x", "cell_y"], "inner"),
        refine(F.col("lon"), F.col("lat"), F.col("feature_id")),
        keep,
    )


def zonal_stats(
    points: DataFrame,
    features: DataFrame,
    value_col: str,
    zoom: int = DEFAULT_JOIN_ZOOM,
    point_id: str = "url",
    **join_kwargs,
) -> DataFrame:
    """Zonal statistics: per-polygon aggregates of a point-carried value —
    count, sum, mean, min, max per feature. The composition a GIS user
    writes as ``zonal_statistics(raster, zones)``: here the zone assignment
    IS the broadcast cell spatial join (zero-shuffle probe side), and the
    aggregation is map-side partial on the joined stream, so the whole op
    adds no exchange beyond the join's own plan at 100 TB."""
    joined = spatial_join(
        points,
        features,
        zoom=zoom,
        point_cols=(point_id, value_col),
        **join_kwargs,
    )
    return joined.groupBy("feature_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum(value_col), 6).alias("sum_value"),
        F.round(F.avg(value_col), 6).alias("avg_value"),
        F.round(F.min(value_col), 6).alias("min_value"),
        F.round(F.max(value_col), 6).alias("max_value"),
    )
