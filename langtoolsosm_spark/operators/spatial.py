"""Radius distance join, single-linkage geo clustering, trajectory path
stats, and vector->raster polygon rasterization.

These extend the engine's spatial family (SURVEY.md §2.3 joins; the
north-star's "raster<->vector tiling") beyond PIP/kNN/bbox:

* ``distance_join`` — all (point, feature) pairs within a radius, via the
  same cell-disk fan-out the kNN join uses (operators/knn.py
  ``_explode_feature_disk``): features explode to the Chebyshev cell disk
  that covers the radius, points join on their single cell, and an exact
  JVM-side distance filter refines. The reference resolves proximity
  server-side (``around`` filters in Overpass QL,
  /root/reference/lib/osm_utils.py:24-43); the engine internalizes it as
  an equi-join + refine so Catalyst/AQE own the physical plan.
* ``geo_clusters`` — single-linkage clustering at a radius (the r-neighbor
  graph's connected components), reusing the dedup family's pointer-
  jumping min-label propagation (operators/dedup.py ``dedup_clusters``).
* ``trajectory_stats`` — per-entity ordered path statistics (segment
  count, total/max segment length) as one window pass + one aggregation.
* ``rasterize_polygons`` — burn polygons into the tile grid at a
  resolution: every tile whose CENTER is inside the polygon, using the
  cover's interior/boundary split so only the thin boundary band pays the
  exact ray-cast.

Metric/parity contract: distances are squared-euclidean-degrees
(functions/geo.py ``sq_euclid_deg``) — plain IEEE-double arithmetic with
one canonical expression shape, so DuckDB oracles reproduce every
comparison bit-for-bit. Sums of per-segment doubles are quantized to
integers (``floor(d * 1e9)``) BEFORE aggregation: bigint addition is
associative, so the result is independent of partitioning/merge order on
both engines (double sums are not).

Scale notes: the distance join shuffles on the cell key with a counted
broadcast gate for small fan-outs (the pip_join idiom); fan-out per
feature is (2k+1)^2 cells with k chosen so cell size ~= radius (k=1 at
the auto resolution). Clustering inherits dedup_clusters' log-diameter
pointer jumping. Rasterization parallelizes per polygon via
``applyInPandas`` with the same counted driver-side fast path as
``polygon_cover``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import geo
from ..functions.cells import (
    QUEEN, ROOK, _norm_ixy, cell_center, check_res, gidx, grid_ixy, in_grid, micro_deg,
    stencil, tile_ixy, tile_key_col,
)
from .pip_join import _collect_small

# quantization scale for order-independent integer sums of squared-degree
# distances (~1e-9 deg^2 resolution; lattice-derived fixtures never land
# within one ulp of a quantization boundary, and floor() is bit-identical
# across engines given identical inputs)
DIST_Q_SCALE = 1e9


def radius_res(radius: float) -> int:
    """Finest grid resolution whose lat cell extent still covers
    ``radius`` degrees (so the Chebyshev disk radius is 1 cell)."""
    if radius <= 0:
        raise ValueError(f"radius must be > 0 degrees, got {radius}")
    return max(3, min(20, int(math.floor(math.log2(180.0 / radius)))))


def distance_join(
    points: DataFrame,
    features: DataFrame,
    radius: float,
    res: int | None = None,
    point_id: str = "point_id",
    feature_id: str = "id",
    point_lat: str = "lat",
    point_lon: str = "lon",
    feature_lat: str = "lat",
    feature_lon: str = "lon",
    broadcast_threshold: int = 4_000_000,
) -> DataFrame:
    """All (point, feature) pairs with squared-euclid-degree distance
    <= radius^2: (point_id, neighbor_id, dist).

    Plan: features fan out to every cell whose Chebyshev distance from
    their own covers the radius (distinct cells per feature, so a pair
    can match in exactly one cell — no output dedup needed), points carry
    their single cell, and the equi-join + exact distance filter runs
    entirely JVM-side (whole-stage codegen; the only Python is the
    vectorized disk fan-out kernel). Below ``broadcast_threshold``
    estimated exploded rows the feature side broadcasts (counted gate —
    one cheap count on the un-exploded dim); above, both sides shuffle on
    the cell key and AQE owns skew.

    The sq-euclid metric treats lon as a plane coordinate (no wrap) —
    matching the SQL-parity kNN metric; disk cells reached across the
    antimeridian produce candidates the distance filter then rejects.
    """
    from .knn import _explode_feature_disk

    r = radius_res(radius) if res is None else res
    n = 1 << r
    k = min(int(math.ceil(radius * n / 180.0)), n - 1)

    feats = features.select(
        F.col(feature_id).alias("neighbor_id"),
        F.col(feature_lat).alias("__flat"),
        F.col(feature_lon).alias("__flon"),
    )
    exploded = _explode_feature_disk(feats, r, k)
    fanout = (2 * k + 1) ** 2
    if broadcast_threshold and features.count() * fanout <= broadcast_threshold:
        exploded = F.broadcast(exploded)

    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col(point_lat).alias("__plat"),
        F.col(point_lon).alias("__plon"),
        tile_key_col(F.col(point_lat), F.col(point_lon), r).alias("__cell"),
    )
    dlat = F.col("__plat") - F.col("__flat")
    dlon = F.col("__plon") - F.col("__flon")
    dist = dlat * dlat + dlon * dlon
    return (
        pts.join(exploded, "__cell")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(float(radius) * float(radius)))
        .select("point_id", "neighbor_id", "dist")
    )


def geo_clusters(
    points: DataFrame,
    radius: float,
    res: int | None = None,
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
    max_iter: int = 25,
) -> DataFrame:
    """Single-linkage spatial clustering: (point_id, cluster_id) where
    cluster_id is the smallest point id reachable through radius-``r``
    hops (the connected components of the r-neighbor graph; DBSCAN with
    minPts=2 and every paired point core).

    Composition of two existing scale paths: ``distance_join`` of the
    point set against itself (upper-triangle pairs) feeds the dedup
    family's pointer-jumping min-label propagation. Points with no
    neighbor within the radius are singletons labeled with their own id
    (the left join keeps them — ``dedup_clusters`` only sees paired
    nodes).
    """
    from .dedup import dedup_clusters

    pairs = distance_join(
        points, points.select(F.col(id_col).alias("id"),
                              F.col(lat).alias("lat"),
                              F.col(lon).alias("lon")),
        radius, res=res, point_id=id_col, point_lat=lat, point_lon=lon,
    ).filter(F.col("point_id") < F.col("neighbor_id"))
    labels = dedup_clusters(pairs, "point_id", "neighbor_id", max_iter=max_iter)
    return (
        points.select(F.col(id_col).alias("point_id"))
        .join(labels.withColumnRenamed("doc_id", "point_id"), "point_id", "left")
        .select(
            "point_id",
            F.coalesce(F.col("cluster_id"), F.col("point_id")).alias("cluster_id"),
        )
    )


def trajectory_stats(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity path statistics over timestamp-ordered positions:
    (entity, n_points, n_segments, total_dist_q, max_seg_q).

    One window pass (lag over entity partitions — a single shuffle on the
    entity key) computes per-segment squared-euclid-degree lengths; each
    is quantized to ``floor(d * 1e9)`` bigint BEFORE the sum so the
    aggregate is merge-order-independent (double sums are not
    associative; bigint sums are). ``order_tiebreak`` (an id column)
    makes duplicate timestamps deterministic.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    dlat = F.col(lat) - F.lag(lat).over(w)
    dlon = F.col(lon) - F.lag(lon).over(w)
    seg = dlat * dlat + dlon * dlon
    segq = F.floor(seg * F.lit(DIST_Q_SCALE)).cast("long")
    return (
        events.withColumn("__segq", segq)
        .groupBy(F.col(entity_col).alias("entity"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count("__segq").alias("n_segments"),
            F.coalesce(F.sum("__segq"), F.lit(0)).alias("total_dist_q"),
            F.coalesce(F.max("__segq"), F.lit(0)).alias("max_seg_q"),
        )
    )


def _rasterize_pdf(pdf: pd.DataFrame, res: int) -> pd.DataFrame:
    """NumPy rasterize kernel over a pandas frame of polygons: tiles at
    ``res`` whose center lies inside the ring (half-open edge rule)."""
    from .pip_join import _ring_to_np
    from ..functions.cells import cell_to_tile_key

    out = []
    for _, row in pdf.iterrows():
        ring = _ring_to_np(row["ring"])
        cells, full = geo.polygon_cell_cover(ring, res)
        if len(cells) == 0:
            continue
        # interior cover cells contain their center by definition; only
        # the boundary band pays the exact ray-cast
        clat, clon = cell_center(cells)
        inside = full.copy()
        band = ~full
        if band.any():
            inside[band] = geo.points_in_polygon(clat[band], clon[band], ring)
        if inside.any():
            out.append(
                pd.DataFrame(
                    {
                        "polygon_id": row["polygon_id"],
                        "tile": cell_to_tile_key(cells[inside]),
                    }
                )
            )
    if not out:
        return pd.DataFrame(
            {"polygon_id": pd.Series(dtype="object"),
             "tile": pd.Series(dtype="int64")}
        )
    return pd.concat(out, ignore_index=True)


def rasterize_polygons(
    polygons: DataFrame, res: int, collect_threshold: int = 2000
) -> DataFrame:
    """Vector -> raster: (polygon_id, tile) for every tile at resolution
    ``res`` whose center is inside the polygon (flat SQL-parity tile key
    ix * 2^res + iy; center-inside is the standard raster burn rule and
    inherits the ray-cast's half-open tie-break).

    Same gate as ``polygon_cover`` (``pip_join._collect_small``, one
    bounded ``limit(threshold + 1)`` job; ``collect_threshold=0`` runs
    none): a metadata-scale polygon dim rasterizes driver-side with the
    identical NumPy kernel (no applyInPandas stage); above the threshold
    each polygon rasterizes in its own task. A single continent-scale polygon
    at a fine resolution should be pre-split (adaptive_split's cell
    quadtree) before rasterizing — noted, not silently handled.
    """
    check_res(res)
    spark = polygons.sparkSession
    schema = "polygon_id string, tile long"
    pdf = _collect_small(polygons, collect_threshold)
    if pdf is not None:
        out = _rasterize_pdf(pdf, res)
        if len(out) == 0:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(out, schema)

    def per_polygon(pdf: pd.DataFrame) -> pd.DataFrame:
        return _rasterize_pdf(pdf, res)

    # groupBy itself shuffles on polygon_id (one task per polygon) — no
    # explicit repartition needed, that would just add a second exchange
    return (
        polygons.select("polygon_id", "ring")
        .groupBy("polygon_id")
        .applyInPandas(lambda _k, pdf: per_polygon(pdf), schema)
    )


def polygon_area_centroid(polygons: DataFrame) -> DataFrame:
    """Shoelace signed area + centroid per polygon ring:
    (polygon_id, n_vertices, area2_q, cx, cy).

    ``area2_q`` = sum over edges of ``floor((x1*y2 - x2*y1) * 1e9)`` —
    twice the signed area in 1e-9 deg^2 units (positive = counter-
    clockwise). The per-edge cross terms are quantized to bigint BEFORE
    the sum (the trajectory_stats trick), so the aggregate is independent
    of edge evaluation order on any engine. The centroid is the standard
    cross-weighted vertex mean cx = sum(cross*(x1+x2)) / (3 * 2A),
    evaluated on the quantized sums with one double division at the end —
    bit-reproducible given identical rings. A degenerate ring
    (area2_q = 0) yields non-finite centroids; callers filter.

    All vertices of a ring live in ONE array cell, so this is pure
    per-row expression work (aggregate over the array lambda — no
    shuffle, no UDF, whole-stage codegen'd). Rings are open (no repeated
    last vertex); the wrap edge closes via modular indexing.
    """
    n = F.size("ring")

    def vert(i):
        # i is a 0-based int column; element_at is 1-based
        v = F.element_at(F.col("ring"), (i + F.lit(1)).cast("int"))
        return v["lon"], v["lat"]

    def edge_terms(i):
        x1, y1 = vert(i)
        x2, y2 = vert((i + F.lit(1)) % n)
        cross = x1 * y2 - x2 * y1
        return cross, x1 + x2, y1 + y2

    def qsum(term_fn):
        # sequence(0, -1) DESCENDS (the repo's known Spark pitfall), so an
        # empty ring must produce an empty index array explicitly — the
        # aggregate then returns the 0 init and the centroid divisions
        # yield NaN, matching the documented degenerate contract
        idx = F.when(n >= 1, F.sequence(F.lit(0), n - F.lit(1))).otherwise(
            F.array().cast("array<int>")
        )
        return F.aggregate(
            idx,
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.floor(term_fn(i) * F.lit(DIST_Q_SCALE)).cast("long"),
        )

    a2q = qsum(lambda i: edge_terms(i)[0])
    cxq = qsum(lambda i: (lambda c, sx, _sy: c * sx)(*edge_terms(i)))
    cyq = qsum(lambda i: (lambda c, _sx, sy: c * sy)(*edge_terms(i)))
    return polygons.select(
        "polygon_id",
        n.cast("long").alias("n_vertices"),
        a2q.alias("area2_q"),
        (cxq.cast("double") / (F.lit(3.0) * a2q.cast("double"))).alias("cx"),
        (cyq.cast("double") / (F.lit(3.0) * a2q.cast("double"))).alias("cy"),
    )


def _bbox_cells(df: DataFrame, res: int, prefix: str):
    """Project a rectangle table (id/south/west/north/east) to its
    covering cell range [ix0..ix1] x [iy0..iy1] at ``res`` and explode to
    one row per covered cell — two nested JVM-side sequence explodes,
    no Python. Columns out: {prefix}id/s/w/n/e/ix0/iy0 plus __cx/__cy."""
    n = 1 << res

    p = prefix
    return (
        df.select(
            F.col("id").alias(f"{p}id"),
            F.col("south").alias(f"{p}s"),
            F.col("west").alias(f"{p}w"),
            F.col("north").alias(f"{p}n"),
            F.col("east").alias(f"{p}e"),
            gidx(F.col("west"), 180.0, 360.0, n).alias(f"{p}ix0"),
            gidx(F.col("east"), 180.0, 360.0, n).alias(f"{p}ix1"),
            gidx(F.col("south"), 90.0, 180.0, n).alias(f"{p}iy0"),
            gidx(F.col("north"), 90.0, 180.0, n).alias(f"{p}iy1"),
        )
        .withColumn("__cx", F.explode(F.sequence(F.col(f"{p}ix0"), F.col(f"{p}ix1"))))
        .withColumn("__cy", F.explode(F.sequence(F.col(f"{p}iy0"), F.col(f"{p}iy1"))))
        .drop(f"{p}ix1", f"{p}iy1")
    )


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    res: int = 9,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """All (left_id, right_id) pairs of overlapping rectangles (closed
    intervals on both axes) — the 2-D analogue of the bucketed interval
    join (operators/asof.py): both sides explode to covering grid cells
    at ``res``, pairs meet in an equi-join on the cell, and the exact
    overlap predicate refines.

    De-dup without a shuffle: a pair sharing k cells would emit k times;
    instead each pair is emitted ONLY in the intersection's anchor cell
    (the south-west cell of the two cover ranges' overlap —
    ``greatest(lix0, rix0) / greatest(liy0, riy0)``, pure arithmetic on
    columns both sides already carry). Exactly-once per pair, no
    ``distinct`` exchange. Callers pick ``res`` so cell extent ~= typical
    rect size (fan-out stays O(1) per rect); a counted gate broadcasts
    the smaller exploded side below ``broadcast_threshold`` rows.
    """
    check_res(res)
    l = _bbox_cells(left, res, "l")
    r = _bbox_cells(right, res, "r")
    # exact exploded-row counts (narrow scan+explode jobs, no shuffle) —
    # a size-based guess would under-gate when rects span many cells at
    # a fine res; whichever side is smaller broadcasts, as the docstring
    # promises
    if broadcast_threshold:
        nl, nr = l.count(), r.count()
        if min(nl, nr) <= broadcast_threshold:
            if nr <= nl:
                r = F.broadcast(r)
            else:
                l = F.broadcast(l)
    return (
        l.join(r, ["__cx", "__cy"])
        .filter(
            (F.col("__cx") == F.greatest("lix0", "rix0"))
            & (F.col("__cy") == F.greatest("liy0", "riy0"))
            & (F.col("lw") <= F.col("re"))
            & (F.col("rw") <= F.col("le"))
            & (F.col("ls") <= F.col("rn"))
            & (F.col("rs") <= F.col("ln"))
        )
        .select(
            F.col("lid").alias("left_id"), F.col("rid").alias("right_id")
        )
    )


def trajectory_resample(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    step: int,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Resample each entity's trajectory at fixed intervals:
    (entity, sample_ts, lat, lon) for every multiple of ``step`` in
    [min_ts, max_ts) of that entity, positions linearly interpolated
    between the bracketing observations. ``ts_col`` must be a
    NON-NEGATIVE integer column (e.g. epoch micros): the lattice indices
    are then pure long ``div`` arithmetic — no floating floor, exact and
    engine-independent.

    One lead window (single shuffle on the entity key) pairs consecutive
    points into segments; each segment emits its own half-open slice of
    the lattice via sequence+explode — sample counts are
    span/step per entity regardless of observation density, and no
    segment is visited twice. The interpolation fraction is the only
    double arithmetic ((t - t0) / (t1 - t0), one canonical shape), so a
    SQL oracle reproduces every coordinate bit-for-bit.

    Guard: Spark's ``sequence(a, b)`` generates DESCENDING ranges when
    b < a (the doc_repetition pitfall) — segments shorter than a step
    must produce an EMPTY array explicitly.
    """
    from pyspark.sql import Window

    if step <= 0:
        raise ValueError(f"step must be a positive integer, got {step}")
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    seg = events.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("t0"),
        F.lead(ts_col).over(w).alias("t1"),
        F.col(lat).alias("lat0"),
        F.lead(lat).over(w).alias("lat1"),
        F.col(lon).alias("lon0"),
        F.lead(lon).over(w).alias("lon1"),
    ).filter(F.col("t1").isNotNull() & (F.col("t1") > F.col("t0")))
    # zero-length segments (duplicate timestamps) are dropped above: the
    # half-open [t0, t1) span is empty, and keeping them would let
    # t0 = t1 = 0 emit a k=0 sample with frac = 0/0 -> NaN coordinates
    # first lattice point >= t0 / last lattice point < t1, as long
    # integer division (valid because ts >= 0)
    # the div-based lattice is only correct for ts >= 0 (div truncates
    # toward zero); a negative timestamp must fail LOUDLY, not silently
    # drop samples
    k0 = F.when(
        F.col("t0") >= 0, F.expr(f"(t0 + {step - 1}) div {step}")
    ).otherwise(
        F.expr("raise_error('trajectory_resample: ts must be non-negative')")
        .cast("long")
    )
    k1 = F.expr(f"(t1 - 1) div {step}")
    ks = F.when(k1 >= k0, F.sequence(k0, k1)).otherwise(
        F.array().cast("array<long>")
    )
    t = (F.col("k") * F.lit(step)).alias("sample_ts")
    frac = (F.col("k") * F.lit(step) - F.col("t0")).cast("double") / (
        F.col("t1") - F.col("t0")
    ).cast("double")
    return (
        seg.withColumn("k", F.explode(ks))
        .select(
            "entity",
            t,
            (F.col("lat0") + (F.col("lat1") - F.col("lat0")) * frac).alias("lat"),
            (F.col("lon0") + (F.col("lon1") - F.col("lon0")) * frac).alias("lon"),
        )
    )


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
    broadcast_threshold: int = 4_000_000,
) -> DataFrame:
    """Raster zonal statistics — the classic raster x vector reduction:
    per polygon zone, aggregate the point density raster at resolution
    ``res``. Returns (polygon_id, n_tiles, n_occupied, n_points,
    max_tile_n): zone footprint in tiles, occupied-tile count, total
    points on the zone's raster, and the hottest tile's count.

    Plan shape (the order matters at scale):
    1. points reduce to a per-tile histogram FIRST (map-side partial
       aggregate; the shuffle carries one row per non-empty tile, never
       per point),
    2. the polygon zones rasterize to (polygon_id, tile) — bounded by
       zone area x 4^res, metadata-scale next to the fact table,
    3. the zone footprint (n_tiles) aggregates from the zone raster
       ALONE, so the histogram join can stay INNER — an outer join would
       put zones on the preserved side, where Spark cannot broadcast it
       (the build side must be the non-preserved side; the hint is
       silently dropped and both sides shuffle),
    4. occupied-tile stats come from the inner tile join (zones
       broadcast below the counted threshold), and the two per-polygon
       frames merge in a final metadata-scale left join with COALESCE
       zeros for point-free zones.
    Semantics are standard raster zonal stats: a point counts toward a
    zone iff its tile's CENTER is inside the polygon (the rasterize burn
    rule), so zone membership is exactly ``rasterize_polygons`` and the
    DuckDB oracle reuses that query's predicate CTE verbatim.
    """
    hist = (
        points.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile")
        )
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    zones = rasterize_polygons(polygons, res)
    footprint = zones.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n_tiles")
    )
    if broadcast_threshold and zones.count() <= broadcast_threshold:
        zones = F.broadcast(zones)
    occupied = (
        zones.join(hist, "tile")
        .groupBy("polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_occupied"),
            F.sum("__n").alias("n_points"),
            F.max("__n").alias("max_tile_n"),
        )
    )
    return footprint.join(occupied, "polygon_id", "left").select(
        "polygon_id",
        "n_tiles",
        F.coalesce(F.col("n_occupied"), F.lit(0)).alias("n_occupied"),
        F.coalesce(F.col("n_points"), F.lit(0)).alias("n_points"),
        F.coalesce(F.col("max_tile_n"), F.lit(0)).alias("max_tile_n"),
    )


def snap_to_segments(
    points: DataFrame,
    segments: DataFrame,
    radius: float,
    res: int | None = None,
    point_id: str = "point_id",
    seg_id: str = "seg_id",
    broadcast_threshold: int = 4_000_000,
) -> DataFrame:
    """Map-matching primitive: snap each point to its nearest line
    segment within ``radius`` (squared-euclid-degree metric, the family's
    SQL-parity contract). Returns (point_id, seg_id, t, dist) — ``t`` in
    [0, 1] is the projection parameter along the winning segment, ``dist``
    the squared distance to it. Points with no segment in range drop out.

    ``segments``: (seg_id, lat1, lon1, lat2, lon2). Candidate generation
    explodes each segment's radius-expanded bbox to covering cells at a
    resolution matched to the radius (same recipe as ``distance_join``;
    fan-out is O(1) when segment extent ~ radius — pre-split longer
    polylines with ``trajectory_resample`` first), points carry their
    single cell, and the exact point-to-segment distance refines
    JVM-side. The cell cover is a superset of the radius disk, so a
    candidate pair can surface in several cells — harmless, because the
    per-point arg-min collapses duplicates (same winning struct).

    Arg-min is the family's min-struct tie-break: rank by the BIGINT-
    quantized distance then seg_id, so the winner is deterministic and
    engine-independent even when two segments are equidistant (shared
    endpoints). The final ``t``/``dist`` doubles come from one canonical
    expression tree, identical in the DuckDB oracle.
    """
    r = radius_res(radius) if res is None else res
    n = 1 << r

    rad = F.lit(float(radius))
    segs = (
        segments.select(
            F.col(seg_id).alias("__sid"),
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
        )
        .withColumn(
            "__cx",
            F.explode(
                F.sequence(
                    gidx(F.least("lon1", "lon2") - rad, 180.0, 360.0, n),
                    gidx(F.greatest("lon1", "lon2") + rad, 180.0, 360.0, n),
                )
            ),
        )
        .withColumn(
            "__cy",
            F.explode(
                F.sequence(
                    gidx(F.least("lat1", "lat2") - rad, 90.0, 180.0, n),
                    gidx(F.greatest("lat1", "lat2") + rad, 90.0, 180.0, n),
                )
            ),
        )
    )
    if broadcast_threshold and segs.count() <= broadcast_threshold:
        segs = F.broadcast(segs)

    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("__plat"),
        F.col("lon").alias("__plon"),
        gidx(F.col("lon"), 180.0, 360.0, n).alias("__cx"),
        gidx(F.col("lat"), 90.0, 180.0, n).alias("__cy"),
    )

    ex = F.col("lon2") - F.col("lon1")
    ey = F.col("lat2") - F.col("lat1")
    len2 = ex * ex + ey * ey
    dot = (F.col("__plon") - F.col("lon1")) * ex + (
        F.col("__plat") - F.col("lat1")
    ) * ey
    t_raw = F.when(len2 == F.lit(0.0), F.lit(0.0)).otherwise(dot / len2)
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    dx = F.col("__plon") - (F.col("lon1") + t * ex)
    dy = F.col("__plat") - (F.col("lat1") + t * ey)
    d2 = dx * dx + dy * dy
    qd = F.floor(d2 * F.lit(DIST_Q_SCALE)).cast("long")
    best = F.min(
        F.struct(
            F.col("__qd").alias("qd"),
            F.col("__sid").alias("sid"),
            F.col("__t").alias("t"),
            F.col("__d2").alias("d2"),
        )
    ).alias("b")
    return (
        pts.join(segs, ["__cx", "__cy"])
        .withColumn("__t", t)
        .withColumn("__d2", d2)
        .filter(F.col("__d2") <= F.lit(float(radius) * float(radius)))
        .withColumn("__qd", qd)
        .groupBy("point_id")
        .agg(best)
        .select(
            "point_id",
            F.col("b.sid").alias("seg_id"),
            F.col("b.t").alias("t"),
            F.col("b.d2").alias("dist"),
        )
    )


def clip_segments_to_tiles(
    segments: DataFrame,
    res: int,
    seg_id: str = "seg_id",
) -> DataFrame:
    """Vector-tile cutting: clip each line segment to every grid tile it
    crosses (Liang-Barsky parametric clip against each covered cell's
    box). Returns (seg_id, tile, t0, t1, xa, ya, xb, yb) — the param
    interval of the segment inside the tile and the clipped endpoint
    coordinates (lon/lat order: x=lon, y=lat). The union of a segment's
    clips tiles exactly reconstructs it; a tile server materializes each
    tile's geometry from its clip rows alone.

    Plan: segments explode to their bbox cover cells (two nested JVM
    sequence explodes — the same ``_bbox_cells`` recipe the bbox join
    uses), then the clip interval is pure closed-form double arithmetic
    per (segment, cell): axis slab entry/exit times, ``t0 = max(0,
    enter)``, ``t1 = min(1, exit)``, keep iff ``t0 <= t1``. Everything
    after the explode is WholeStageCodegen; no Python, no shuffle at all
    (the output keeps the segment's own partitioning — group by ``tile``
    downstream to build per-tile layers).

    Axis-parallel segments (``dx == 0`` or ``dy == 0``) take the CASE
    branch: inside the slab -> the axis never constrains (+-HUGE
    sentinels), outside -> empty interval. The sentinel +-1e308 stays
    finite so downstream LEAST/GREATEST comparisons behave identically
    in Spark and DuckDB (IEEE infinity literals do not round-trip
    through SQL text identically). Degenerate touches (segment grazing a
    tile corner/edge) emit a zero-length clip — deterministic on both
    engines because every comparison sees bit-identical doubles.
    """
    check_res(res)
    n = 1 << res
    HUGE = 1e308

    segs = (
        segments.select(
            F.col(seg_id).alias("seg_id"),
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
        )
        .withColumn(
            "__cx",
            F.explode(
                F.sequence(
                    gidx(F.least("lon1", "lon2"), 180.0, 360.0, n),
                    gidx(F.greatest("lon1", "lon2"), 180.0, 360.0, n),
                )
            ),
        )
        .withColumn(
            "__cy",
            F.explode(
                F.sequence(
                    gidx(F.least("lat1", "lat2"), 90.0, 180.0, n),
                    gidx(F.greatest("lat1", "lat2"), 90.0, 180.0, n),
                )
            ),
        )
    )
    # cell box edges — EXACT doubles (k * span / n + offset over integer k)
    w = F.col("__cx").cast("double") * F.lit(360.0) / F.lit(float(n)) - F.lit(180.0)
    e = (F.col("__cx") + F.lit(1)).cast("double") * F.lit(360.0) / F.lit(float(n)) - F.lit(180.0)
    s_ = F.col("__cy").cast("double") * F.lit(180.0) / F.lit(float(n)) - F.lit(90.0)
    nn = (F.col("__cy") + F.lit(1)).cast("double") * F.lit(180.0) / F.lit(float(n)) - F.lit(90.0)
    dx = F.col("lon2") - F.col("lon1")
    dy = F.col("lat2") - F.col("lat1")

    def slab(lo, hi, p, d):
        tl = (lo - p) / d
        th = (hi - p) / d
        enter = F.when(
            d == F.lit(0.0),
            F.when((p >= lo) & (p <= hi), F.lit(-HUGE)).otherwise(F.lit(HUGE)),
        ).otherwise(F.least(tl, th))
        exit_ = F.when(
            d == F.lit(0.0),
            F.when((p >= lo) & (p <= hi), F.lit(HUGE)).otherwise(F.lit(-HUGE)),
        ).otherwise(F.greatest(tl, th))
        return enter, exit_

    ex_enter, ex_exit = slab(w, e, F.col("lon1"), dx)
    ey_enter, ey_exit = slab(s_, nn, F.col("lat1"), dy)
    t0 = F.greatest(F.lit(0.0), ex_enter, ey_enter)
    t1 = F.least(F.lit(1.0), ex_exit, ey_exit)
    return (
        segs.withColumn("__t0", t0)
        .withColumn("__t1", t1)
        .filter(F.col("__t0") <= F.col("__t1"))
        .select(
            "seg_id",
            (F.col("__cx") * F.lit(n) + F.col("__cy")).alias("tile"),
            F.col("__t0").alias("t0"),
            F.col("__t1").alias("t1"),
            (F.col("lon1") + F.col("__t0") * dx).alias("xa"),
            (F.col("lat1") + F.col("__t0") * dy).alias("ya"),
            (F.col("lon1") + F.col("__t1") * dx).alias("xb"),
            (F.col("lat1") + F.col("__t1") * dy).alias("yb"),
        )
    )


def focal_stats(
    points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Raster map algebra: 3x3 focal (neighborhood) statistics over the
    point-density raster at ``res``. For every OCCUPIED tile, returns its
    own count plus the sum / occupied-cell count / max over the 3x3
    window centered on it (missing neighbors contribute nothing — the
    classic focal-sum-with-nodata rule). Output: (tile, n_rows,
    focal_sum, focal_n, focal_max).

    Plan: the fact table reduces to the tile histogram first (one
    map-side-combined groupBy; output is at most 4^res rows), then each
    HISTOGRAM row fans out to the <= 9 window centers it contributes to
    and a second groupBy folds contributions per center — the self row
    is recovered in the same aggregation (max over the dx=dy=0 case), so
    there is NO join back to the histogram. Scan-side cost is one pass;
    the 9x fan-out touches only histogram rows. Grid edges clip (no
    wrap): out-of-range centers are dropped before the shuffle.
    """
    check_res(res)
    n = 1 << res
    from .tiling import assign_tiles

    hist = (
        assign_tiles(points, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    off = stencil(QUEEN).alias("o")
    cx, cy = tile_ixy("tile", n)
    fan = (
        hist.select("tile", "n", off)
        .select(
            (cx + F.col("o.dx")).alias("mx"),
            (cy + F.col("o.dy")).alias("my"),
            "n",
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("is_self"),
        )
        .filter(in_grid("mx", "my", n))
    )
    return (
        fan.groupBy((F.col("mx") * F.lit(n) + F.col("my")).alias("tile"))
        .agg(
            F.max(F.when(F.col("is_self"), F.col("n"))).alias("n_rows"),
            F.sum("n").alias("focal_sum"),
            F.count(F.lit(1)).alias("focal_n"),
            F.max("n").alias("focal_max"),
        )
        .filter(F.col("n_rows").isNotNull())
        .select("tile", "n_rows", "focal_sum", "focal_n", "focal_max")
    )


def moran_i(
    points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Global Moran's I spatial autocorrelation of the point-density
    raster at ``res`` — rook (4-neighbor) adjacency over ALL ``N = 4^res``
    grid cells, empty cells counting as value 0. Returns ONE row
    (res, n_cells, w_sum, occupied, num, den, moran_i) where
    ``moran_i = num / den`` and

        num = N * sum_ij w_ij (N*x_i - S)(N*x_j - S)
        den = W * sum_i (N*x_i - S)^2          (both scaled by N^2)

    with S the total point count and W the total rook edge weight
    4*n*(n-1) (ordered pairs). Every term is EXACT integer arithmetic in
    DECIMAL(38,0) — products like N^2 * sum(x^2) overflow int64 at
    realistic densities — and only the final num/den happens in doubles,
    so the result is bit-deterministic.

    The empty cells never materialize: expanding the centered products
    turns the full-grid sums into histogram-only sums —

        sum_ij w_ij (N x_i - S)(N x_j - S)
            = N^2 * P - 2 N S * D + S^2 * W
        sum_i (N x_i - S)^2 = N^2 * Q - 2 N S^2 + N S^2

    where P = sum of x_i * x_j over ordered adjacent OCCUPIED pairs,
    D = sum of deg_i * x_i (deg_i = in-grid rook degree, closed form
    from the cell coordinates), and Q = sum of x_i^2. So the plan is the
    histogram groupBy, one 4-offset fan-out self-join of the (tiny)
    histogram for P, and two single-row aggregates — nothing scales
    with 4^res except the histogram itself.
    """
    check_res(res)
    n = 1 << res
    n_cells = n * n
    w_sum = 4 * n * (n - 1)
    from .tiling import assign_tiles

    hist = (
        assign_tiles(points, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    cx, cy = tile_ixy("tile", n)
    deg = (
        (cx > 0).cast("long") + (cx < n - 1).cast("long")
        + (cy > 0).cast("long") + (cy < n - 1).cast("long")
    )
    dec = "decimal(38,0)"
    base = hist.agg(
        F.sum(F.col("x").cast(dec)).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("q"),
        F.sum((deg * F.col("x")).cast(dec)).alias("d"),
        F.count(F.lit(1)).alias("occ"),
    )
    off = stencil(ROOK).alias("o")
    nbr = (
        hist.select("tile", "x", off)
        .select(
            ((cx + F.col("o.dx")) * F.lit(n) + (cy + F.col("o.dy"))).alias("ntile"),
            (cx + F.col("o.dx")).alias("nx"),
            (cy + F.col("o.dy")).alias("ny"),
            F.col("x").alias("xi"),
        )
        .filter(in_grid("nx", "ny", n))
    )
    pairs = nbr.join(hist, nbr["ntile"] == hist["tile"], "inner").agg(
        F.coalesce(
            F.sum((F.col("xi") * F.col("x")).cast(dec)), F.lit(0).cast(dec)
        ).alias("p")
    )
    N = F.lit(n_cells).cast(dec)
    W = F.lit(w_sum).cast(dec)
    cross = base.crossJoin(pairs)
    num = N * (N * N * F.col("p") - F.lit(2).cast(dec) * N * F.col("s") * F.col("d")
               + F.col("s") * F.col("s") * W)
    den = W * (N * N * F.col("q")
               - F.lit(2).cast(dec) * N * F.col("s") * F.col("s")
               + N * F.col("s") * F.col("s"))
    return cross.select(
        F.lit(res).alias("res"),
        F.lit(n_cells).cast("long").alias("n_cells"),
        F.lit(w_sum).cast("long").alias("w_sum"),
        F.col("occ").alias("occupied"),
        num.cast("double").alias("num"),
        den.cast("double").alias("den"),
        (num.cast("double") / den.cast("double")).alias("moran_i"),
    )


def hex_bin(
    points: DataFrame,
    a: int = 5000,
    b: int = 8660,
    lat_off: float = -35.0,
    lon_off: float = 5.0,
    scale: float = 100000.0,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Hexagonal binning without any sqrt(3) floating math: the H3-style
    hex rollup re-expressed as the Voronoi diagram of a centered-
    rectangular integer lattice, so every comparison after one shared
    float->int quantization is exact int64 and engine-independent.

    Coordinates quantize to non-negative integer units
    ``X = floor((lon + lon_off) * scale)`` (same for Y/lat); the lattice
    has grid-A centers at (2a*i, 2b*j) and grid-B centers at
    (a*(2i+1), b*(2j+1)). Each point goes to the nearer of its nearest A
    and nearest B center by squared euclidean distance (tie -> A). With
    b/a != 1 the Voronoi cells of this lattice are hexagons (regular at
    b = a*sqrt(3); 8660/5000 approximates that within 2e-5), so the
    assignment IS a hexagonal tessellation — but the decision needs only
    integer multiply/compare, which DuckDB reproduces exactly.

    Adds ``hex_x``/``hex_y`` (the owning center, integer units) to the
    input. Pure column expressions: whole-stage codegen, no shuffle; a
    downstream rollup is one map-side-combined groupBy. Requires
    coordinates >= the offsets (X, Y >= 0) so truncating integer
    division equals floor division on both engines.
    """
    if a < 1 or b < 1:
        raise ValueError(f"hex pitch must be positive, got a={a} b={b}")

    # the lattice math below uses truncating integer division, which only
    # equals floor division for X, Y >= 0 — an out-of-range coordinate
    # must fail LOUDLY (same pattern as trajectory_resample), not silently
    # snap to a wrong center
    def _quant(col, off):
        q = F.floor((F.col(col) + F.lit(off)) * F.lit(scale)).cast("long")
        return F.when(q >= 0, q).otherwise(
            F.expr(
                "raise_error('hex_bin: quantized coordinate is negative; "
                "adjust lat_off/lon_off to cover the data extent')"
            ).cast("long")
        )

    df = points.withColumn("__hx", _quant(lon, lon_off)).withColumn(
        "__hy", _quant(lat, lat_off)
    )
    cxa = F.expr(f"((__hx + {a}) div {2 * a}) * {2 * a}")
    cya = F.expr(f"((__hy + {b}) div {2 * b}) * {2 * b}")
    cxb = F.expr(f"(__hx div {2 * a}) * {2 * a} + {a}")
    cyb = F.expr(f"(__hy div {2 * b}) * {2 * b} + {b}")
    df = (
        df.withColumn("__cxa", cxa).withColumn("__cya", cya)
        .withColumn("__cxb", cxb).withColumn("__cyb", cyb)
    )
    da = F.expr(
        "(__hx - __cxa) * (__hx - __cxa) + (__hy - __cya) * (__hy - __cya)"
    )
    db = F.expr(
        "(__hx - __cxb) * (__hx - __cxb) + (__hy - __cyb) * (__hy - __cyb)"
    )
    pick_a = da <= db
    return (
        df.withColumn("hex_x", F.when(pick_a, F.col("__cxa")).otherwise(F.col("__cxb")))
        .withColumn("hex_y", F.when(pick_a, F.col("__cya")).otherwise(F.col("__cyb")))
        .drop("__cxa", "__cya", "__cxb", "__cyb")
    )


def hex_rollup(
    points: DataFrame,
    a: int = 5000,
    b: int = 8660,
    **kw,
) -> DataFrame:
    """Per-hex rollup over ``hex_bin``: point count plus exact integer
    sums of the in-cell offsets (sum_dx, sum_dy — the numerators of the
    intra-cell mean displacement, kept as int64 so the aggregation is
    order-independent). One map-side-combined groupBy whose key space is
    bounded by the occupied-hex count, not the point count."""
    binned = hex_bin(points, a=a, b=b, **kw)
    return binned.groupBy("hex_x", "hex_y").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.sum(F.col("__hx") - F.col("hex_x")).alias("sum_dx"),
        F.sum(F.col("__hy") - F.col("hex_y")).alias("sum_dy"),
    )


def with_hilbert(
    df: DataFrame,
    res: int,
    x_col: str = "ix",
    y_col: str = "iy",
    out: str = "hkey",
) -> DataFrame:
    """Add the order-``res`` Hilbert key of integer grid columns
    (``x_col``, ``y_col`` in [0, 2^res)) as ``out`` — JVM-side only: the
    xy2d loop unrolls into ``res`` levels of CASE/modulo arithmetic
    (functions/cells.py ``hilbert_level_exprs``, the same text the DuckDB
    oracle runs), each level materialized via one ``withColumns`` so the
    expression tree stays LINEAR in ``res`` (inlining all levels would
    double the tree per level). Whole-stage codegen keeps it one pass, no
    shuffle, no Python.

    Hilbert vs Morton for snapshot clustering: both linearize 2-D, but
    Hilbert adjacent key ranges are always edge-connected regions, so
    per-file min/max stats off a Hilbert sort prune strictly tighter on
    bbox scans.
    """
    from ..functions.cells import hilbert_level_exprs

    if not 1 <= res <= 26:
        raise ValueError(f"res must be in [1, 26], got {res}")
    n = 1 << res

    # an out-of-range input (negative, or >= 2^res — e.g. a tile key at a
    # finer res than the curve order) would silently produce a garbage
    # Hilbert key and degrade clustering/pruning with no error; fail
    # LOUDLY instead (same pattern as trajectory_resample/hex_bin)
    def _bounded(col):
        c = F.col(col).cast("long")
        return F.when((c >= 0) & (c < n), c).otherwise(
            F.expr(
                f"raise_error(concat('with_hilbert: {col} value out of "
                f"[0, 2^{res}): ', CAST(`{col}` AS STRING)))"
            ).cast("long")
        )

    df = df.withColumns(
        {
            "__hbx": _bounded(x_col),
            "__hby": _bounded(y_col),
            out: F.lit(0).cast("long"),
        }
    )
    s = n >> 1
    while s > 0:
        dinc, xn, yn = hilbert_level_exprs(s, n, "__hbx", "__hby")
        df = df.withColumns(
            {
                out: F.col(out) + F.expr(dinc),
                "__hbx": F.expr(xn),
                "__hby": F.expr(yn),
            }
        )
        s >>= 1
    return df.drop("__hbx", "__hby")


def od_flows(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Origin-destination flow matrix: consecutive positions of each
    entity (timestamp-ordered, ``order_tiebreak`` id column for duplicate
    timestamps) become (from_tile, to_tile) transitions at resolution
    ``res``, aggregated to (from_tile, to_tile, n_trips, n_entities).
    Intra-tile transitions (from = to) are kept — they are the dwell
    signal; filter downstream if only movement matters.

    Plan: one window pass (single shuffle on the entity key — shared
    with ``trajectory_stats`` when composed, since the partitioning is
    identical) then one groupBy on the tile pair with a partial-agg
    count; the exact distinct-entity count is Spark's standard two-phase
    expand. Output is bounded by occupied-tile-pairs, not event count.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    tile = tile_key_col(F.col(lat), F.col(lon), res)
    df = (
        events.withColumn("__tile", tile)
        .withColumn("__prev", F.lag("__tile").over(w))
        .filter(F.col("__prev").isNotNull())
    )
    return df.groupBy(
        F.col("__prev").alias("from_tile"), F.col("__tile").alias("to_tile")
    ).agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.countDistinct(entity_col).alias("n_entities"),
    )


def geofence_transitions(
    events: DataFrame,
    polygons: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Geofence enter/exit detection: each position gets its owning zone
    via the PIP join (unique = lexicographically smallest polygon_id;
    LEFT join keeps outside-all positions with a NULL zone), then one
    lag window per entity emits only the rows where the zone CHANGES:
    (entity, ts, id, from_zone, to_zone). An entity's first position is
    a transition only if it starts INSIDE a zone (from nowhere); NULL
    zones participate in transitions (exit-to-outside is an event).

    Plan: the PIP join is the existing cell-cover + refine machinery
    (one broadcast cover join; only boundary-band points pay the exact
    ray-cast), re-joined to the stream by the event id; the window is
    one shuffle on the entity key. At 100x the stream, both shuffles are
    key-partitioned and the transition output is bounded by actual zone
    changes, not positions.
    """
    from pyspark.sql import Window

    from .pip_join import pip_join

    zones = pip_join(
        events, polygons, res=res, lat=lat, lon=lon, unique=True, id_col=id_col
    ).select(F.col(id_col).alias("__zid"), "polygon_id")
    df = events.join(
        zones, events[id_col] == zones["__zid"], "left"
    ).drop("__zid")
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    df = (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__prev", F.lag("polygon_id").over(w))
    )
    first_enter = (F.col("__rn") == 1) & F.col("polygon_id").isNotNull()
    changed = (F.col("__rn") > 1) & ~F.col("polygon_id").eqNullSafe(F.col("__prev"))
    return df.filter(first_enter | changed).select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("id"),
        F.col("__prev").alias("from_zone"),
        F.col("polygon_id").alias("to_zone"),
    )


def idw_interpolate(
    sources: DataFrame,
    targets: DataFrame,
    radius: float,
    value_col: str,
    source_id: str = "point_id",
    target_id: str = "id",
    weight_scale: int = 10**12,
) -> DataFrame:
    """Inverse-distance-weighted interpolation at each target from the
    sources inside ``radius``: per target,
    ``est = sum(w_i * v_i) / sum(w_i)`` with the INTEGER weight
    ``w = weight_scale // (1 + dq)``, ``dq = floor(dist * 1e9)`` — the
    1/d^2 kernel made exact: both sums are int64, so the aggregation is
    merge-order independent and the single final division is the only
    float op (identical on both engines). Targets with no source in
    range stay in the output with n_src = 0 and NULL estimate.

    Plan: the neighbor pairs come from ``distance_join`` (cell-disk
    fan-out + exact refine, broadcast-gated), source values arrive by an
    equi-join on the source id, and the rollup is one map-side-combined
    groupBy on the target id. Everything between scan and division is
    integer arithmetic in whole-stage codegen.
    """
    pairs = distance_join(
        sources, targets, radius, point_id=source_id, feature_id=target_id
    )
    vals = sources.select(
        F.col(source_id).alias("__sid"), F.col(value_col).alias("__v")
    )
    dq = F.floor(F.col("dist") * F.lit(DIST_Q_SCALE)).cast("long")
    w = F.expr(f"{weight_scale} div (1 + __dq)")
    agg = (
        pairs.join(vals, pairs["point_id"] == vals["__sid"])
        .withColumn("__dq", dq)
        .withColumn("__w", w)
        .groupBy(F.col("neighbor_id").alias("target_id"))
        .agg(
            F.count(F.lit(1)).alias("n_src"),
            F.sum(F.col("__w") * F.col("__v")).alias("num"),
            F.sum("__w").alias("den"),
        )
    )
    base = targets.select(F.col(target_id).alias("target_id"))
    return base.join(agg, "target_id", "left").select(
        "target_id",
        F.coalesce("n_src", F.lit(0)).alias("n_src"),
        "num",
        "den",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias("est"),
    )


def direction_rose(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Movement-direction histogram per entity: each consecutive
    displacement (dlat, dlon) lands in one of 8 octants coded by three
    EXACT comparisons — ``4*(dlat >= 0) + 2*(dlon >= 0) +
    (|dlat| > |dlon|)`` — so no atan2/bearing float ever enters the
    plan and DuckDB reproduces every boundary decision bit-for-bit
    (sector boundaries are the axes and diagonals; a zero displacement
    codes as octant 6 by the same rule). Emits (entity, octant, n_moves).

    One lag window (entity-key shuffle) + one map-side-combined groupBy
    whose key space is entities x 8.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    df = events.withColumn(
        "__dlat", F.col(lat) - F.lag(lat).over(w)
    ).withColumn("__dlon", F.col(lon) - F.lag(lon).over(w)).filter(
        # first row per entity has no displacement (NULL lag, which a
        # bare when() would silently code as octant 0)
        F.col("__dlat").isNotNull()
    )
    octant = (
        F.when(F.col("__dlat") >= 0, 4).otherwise(0)
        + F.when(F.col("__dlon") >= 0, 2).otherwise(0)
        + F.when(F.abs("__dlat") > F.abs("__dlon"), 1).otherwise(0)
    )
    return (
        df.withColumn("__oct", octant)
        .groupBy(F.col(entity_col).alias("entity"), F.col("__oct").alias("octant"))
        .agg(F.count(F.lit(1)).alias("n_moves"))
    )


def tile_activity(
    events: DataFrame,
    res: int = 6,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Space-time activity profile: event counts and distinct entities
    per (tile, hour-of-day) — the temporal signature layer of a
    heatmap (commute tiles vs nightlife tiles separate on this output
    even when their totals match). Pure column expressions into one
    groupBy whose key space is tiles x 24; the distinct count is
    Spark's standard two-phase expand. Emits
    (tile, hour, n_events, n_entities).
    """
    tile = tile_key_col(F.col(lat), F.col(lon), res)
    return (
        events.withColumn("__tile", tile)
        .withColumn("__hour", F.hour(ts_col))
        .groupBy(
            F.col("__tile").alias("tile"), F.col("__hour").alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(entity_col).alias("n_entities"),
        )
    )


def raster_polygonize(
    points: DataFrame,
    res: int = 10,
    min_count: int = 3,
    lat: str = "lat",
    lon: str = "lon",
    max_iter: int = 25,
) -> DataFrame:
    """Raster -> vector: polygonize the occupancy raster into labeled
    connected regions (the inverse of ``rasterize_polygons``, closing
    the north-star's raster<->vector loop). Tiles with >= ``min_count``
    points are foreground; 4-adjacent foreground tiles merge; emits one
    row per region: (region_id = smallest member tile, n_tiles, n_pts).

    Plan: occupancy is one map-side-combined histogram; adjacency is
    TWO equi-joins (right neighbor = tile + 2^res, upper neighbor =
    tile + 1 guarded against the iy-wrap alias ``tile % n = n - 1`` —
    an OR-join would degrade to a nested loop); components reuse the
    pointer-jumping min-label propagation; singleton tiles come back
    via a left join. Everything shuffles on tile/region keys — the
    region count, not the point count, bounds the final rollup.
    """
    from .dedup import dedup_clusters
    from .tiling import assign_tiles, cell_histogram

    n = 1 << res
    occ = cell_histogram(
        assign_tiles(points, res=res, lat=lat, lon=lon), "tile"
    ).filter(F.col("n_rows") >= min_count)

    a = occ.select(F.col("tile").alias("ta"), F.col("n_rows"))
    b = occ.select(F.col("tile").alias("tb"))
    up = (
        a.filter(F.col("ta") % n < n - 1)
        .withColumn("__nb", F.col("ta") + 1)
        .join(b, F.col("__nb") == F.col("tb"))
        .select("ta", "tb")
    )
    right = (
        a.withColumn("__nb", F.col("ta") + n)
        .join(b, F.col("__nb") == F.col("tb"))
        .select("ta", "tb")
    )
    pairs = up.unionByName(right)
    labels = dedup_clusters(pairs, "ta", "tb", max_iter=max_iter).select(
        F.col("doc_id").alias("tile"), F.col("cluster_id").alias("region_id")
    )
    labeled = occ.join(labels, "tile", "left").select(
        "tile", "n_rows",
        F.coalesce("region_id", F.col("tile")).alias("region_id"),
    )
    return labeled.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("n_rows").alias("n_pts"),
    )


def zone_visits(
    events: DataFrame,
    polygons: DataFrame,
    entity_col: str,
    ts_col: str,
    **kw,
) -> DataFrame:
    """Zone visit intervals with dwell: consecutive geofence transitions
    of an entity bracket a visit — (entity, zone, enter_ts, exit_ts)
    with exit NULL for the visit still open at stream end; outside-all
    gaps (NULL zone) are dropped. One lead() window on top of
    ``geofence_transitions`` (same entity-key partitioning, so Catalyst
    reuses the exchange).
    """
    from pyspark.sql import Window

    tr = geofence_transitions(events, polygons, entity_col, ts_col, **kw)
    w = Window.partitionBy("entity").orderBy(F.col("ts").asc(), F.col("id").asc())
    return (
        tr.withColumn("__exit", F.lead("ts").over(w))
        .filter(F.col("to_zone").isNotNull())
        .select(
            "entity",
            F.col("to_zone").alias("zone"),
            F.col("ts").alias("enter_ts"),
            F.col("__exit").alias("exit_ts"),
        )
    )


def gearys_c(
    points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Global Geary's C spatial autocorrelation of the point-density
    raster at ``res`` — the local-contrast complement to ``moran_i``
    (C < 1 clustered, C = 1 random, C > 1 dispersed), same rook
    (4-neighbor) adjacency over ALL ``N = 4^res`` grid cells with empty
    cells as value 0. Returns ONE row
    (res, n_cells, w_sum, occupied, num, den, geary_c) where

        C = (N-1) * sum_ij w_ij (x_i - x_j)^2 / (2 W sum_i (x_i - xbar)^2)

    Like ``moran_i``, the empty cells fold away in closed form:
    expanding (x_i - x_j)^2 over the ordered adjacent pairs gives
    ``2 * (Dq - P)`` with Dq = sum_i deg_i * x_i^2 (deg_i the in-grid
    rook degree, closed form from cell coordinates) and P the ordered
    occupied-adjacent product sum — both histogram-only; pairs touching
    an empty cell contribute through Dq alone, empty-empty pairs vanish.
    With sum_i (x_i - xbar)^2 = (N*Q - S^2)/N this yields the all-integer

        num = (N-1) * N * (Dq - P)        den = W * (N*Q - S^2)

    computed in DECIMAL(38,0) (N^2-scale products overflow int64); only
    the final num/den division happens in doubles, so the statistic is
    bit-deterministic and oracle-exact. Plan shape is identical to
    ``moran_i``: the map-side-combined histogram, one 4-offset fan-out
    self-join of the (tiny) histogram for P, two single-row aggregates —
    nothing scales with 4^res except the histogram.
    """
    check_res(res)
    n = 1 << res
    n_cells = n * n
    w_sum = 4 * n * (n - 1)
    from .tiling import assign_tiles

    hist = (
        assign_tiles(points, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    cx, cy = tile_ixy("tile", n)
    deg = (
        (cx > 0).cast("long") + (cx < n - 1).cast("long")
        + (cy > 0).cast("long") + (cy < n - 1).cast("long")
    )
    dec = "decimal(38,0)"
    base = hist.agg(
        F.sum(F.col("x").cast(dec)).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("q"),
        F.sum((deg * F.col("x") * F.col("x")).cast(dec)).alias("dq"),
        F.count(F.lit(1)).alias("occ"),
    )
    off = stencil(ROOK).alias("o")
    nbr = (
        hist.select("tile", "x", off)
        .select(
            ((cx + F.col("o.dx")) * F.lit(n) + (cy + F.col("o.dy"))).alias("ntile"),
            (cx + F.col("o.dx")).alias("nx"),
            (cy + F.col("o.dy")).alias("ny"),
            F.col("x").alias("xi"),
        )
        .filter(in_grid("nx", "ny", n))
    )
    pairs = nbr.join(hist, nbr["ntile"] == hist["tile"], "inner").agg(
        F.coalesce(
            F.sum((F.col("xi") * F.col("x")).cast(dec)), F.lit(0).cast(dec)
        ).alias("p")
    )
    N = F.lit(n_cells).cast(dec)
    W = F.lit(w_sum).cast(dec)
    cross = base.crossJoin(pairs)
    num = F.lit(n_cells - 1).cast(dec) * N * (F.col("dq") - F.col("p"))
    den = W * (N * F.col("q") - F.col("s") * F.col("s"))
    return cross.select(
        F.lit(res).alias("res"),
        F.lit(n_cells).cast("long").alias("n_cells"),
        F.lit(w_sum).cast("long").alias("w_sum"),
        F.col("occ").alias("occupied"),
        num.cast("double").alias("num"),
        den.cast("double").alias("den"),
        (num.cast("double") / den.cast("double")).alias("geary_c"),
    )


def convex_hull_edges(
    points: DataFrame,
    cluster_col: str = "cluster_id",
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-cluster convex hull as directed counterclockwise edges —
    the footprint-outline op (cluster coverage polygons, dissemination
    boundaries) the reference delegates to server-side area geometry
    (lib/osm_utils.py:34-43).

    Coordinates quantize to micro-degree int64 FIRST (``X = floor((lon +
    180) * scale)``), so every orientation test is an exact integer
    cross product — engine-independent, no epsilon geometry. Products
    are bounded by (360e6)^2 < 2^57, far inside int64. Semantics under
    the integer metric: duplicate locations dedupe to the min id;
    collinear boundary midpoints are NOT vertices (strict hull); a
    cluster with 2 distinct locations emits both directed edges; 1-point
    clusters emit none.

    Plan: one Arrow ``applyInPandas`` per cluster running Andrew's
    monotone chain (O(k log k) per group). Same bounded-group contract
    as ``hist_eq``: a cluster's points must fit one task — hulls of
    city-scale clusters are thousands of points, never the fact table;
    for degenerate giant clusters pre-thin with ``tile_cap_sample``
    (hull of a dense set is carried by its extreme points, but exactness
    then holds for the thinned set). Returns (cluster, a_id, b_id) per
    hull edge.
    """
    qx = F.floor((F.col(lon) + F.lit(180.0)) * F.lit(float(scale))).cast("long")
    qy = F.floor((F.col(lat) + F.lit(90.0)) * F.lit(float(scale))).cast("long")
    d = points.select(
        F.col(cluster_col).alias("cluster"),
        F.col(id_col).alias("pid"),
        qx.alias("x"),
        qy.alias("y"),
    )

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = pdf["cluster"].iloc[0]
        g = (
            pdf.sort_values(["x", "y", "pid"])
            .drop_duplicates(["x", "y"], keep="first")
            .reset_index(drop=True)
        )
        pts = list(zip(g["x"].astype(int), g["y"].astype(int), g["pid"].astype(int)))
        if len(pts) < 2:
            return pd.DataFrame(columns=["cluster", "a_id", "b_id"])

        def cross(o, a, b):
            return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

        lower: list = []
        for p in pts:
            while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
                lower.pop()
            lower.append(p)
        upper: list = []
        for p in reversed(pts):
            while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
                upper.pop()
            upper.append(p)
        ring = lower[:-1] + upper[:-1]
        m = len(ring)
        rows = [
            (cluster, ring[i][2], ring[(i + 1) % m][2]) for i in range(m)
        ]
        return pd.DataFrame(rows, columns=["cluster", "a_id", "b_id"])

    out_schema = "cluster long, a_id long, b_id long"
    return d.groupBy("cluster").applyInPandas(hull, schema=out_schema)


def marching_cases(
    points: DataFrame,
    res: int,
    threshold: int = 1,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Marching-squares case histogram over the thresholded density
    raster — the contour-extraction primitive (isoline topology of
    "where density >= threshold") complementing ``raster_polygonize``'s
    region extraction. Each 2x2 block of raster cells gets the classic
    4-bit case index from its corners' occupancy (bit 1 = corner
    (bx, by), bit 2 = (bx+1, by), bit 4 = (bx, by+1), bit 8 =
    (bx+1, by+1)); the result is (case_idx, n_blocks) for the 15
    non-empty cases — saddle counts (5, 10), boundary-segment totals,
    and interior mass fall straight out of it.

    Plan: the map-side-combined histogram, a 4-offset fan-out of ONLY
    the occupied cells (each occupied corner touches at most 4 blocks),
    one histogram-scale groupBy summing bit weights per block, one
    16-row rollup. All-empty blocks (case 0) never materialize — the
    4^res grid appears nowhere.
    """
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    n = 1 << res
    gx, gy = grid_ixy(lat, lon, res)
    occ = (
        points.select(
            gx.alias("ix"),
            gy.alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= threshold)
        .select("ix", "iy")
    )
    off = stencil(
        ((0, 0, 1), (-1, 0, 2), (0, -1, 4), (-1, -1, 8)), ("dx", "dy", "bit")
    ).alias("o")
    fan = (
        occ.select("ix", "iy", off)
        .select(
            (F.col("ix") + F.col("o.dx")).alias("bx"),
            (F.col("iy") + F.col("o.dy")).alias("by"),
            F.col("o.bit").alias("bit"),
        )
        .filter(
            (F.col("bx") >= 0) & (F.col("bx") <= n - 2)
            & (F.col("by") >= 0) & (F.col("by") <= n - 2)
        )
    )
    blocks = fan.groupBy("bx", "by").agg(F.sum("bit").alias("case_idx"))
    return blocks.groupBy(F.col("case_idx").cast("int").alias("case_idx")).agg(
        F.count(F.lit(1)).alias("n_blocks")
    )


def simplify_radial(
    traj: DataFrame,
    eps_micro: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """Radial-distance polyline simplification — the streaming-friendly
    member of the simplification family (Douglas-Peucker's cheap
    cousin): walk each entity's points in time order, keep a point iff
    its squared distance from the LAST KEPT point is >= eps_micro^2;
    the first point is always kept. Standard GPS-track thinning before
    map-matching / tile rendering.

    Coordinates quantize to micro-degree int64 first (same contract as
    ``convex_hull_edges``), so the keep decision is an exact integer
    compare — engine-independent, and expressible as a recursive SQL
    spec. The walk is inherently sequential per entity, so the kernel is
    one Arrow ``applyInPandas`` per entity (bounded-group contract like
    ``hist_eq``: one track fits one task; tracks are thousands of
    points, never the fact table). Returns (entity, rn, x, y) for kept
    points, rn the 1-based time rank within the entity.
    """
    if eps_micro < 1:
        raise ValueError(f"eps_micro must be >= 1, got {eps_micro}")
    from pyspark.sql import Window

    qx = F.floor((F.col(lon) + F.lit(180.0)) * F.lit(float(scale))).cast("long")
    qy = F.floor((F.col(lat) + F.lit(90.0)) * F.lit(float(scale))).cast("long")
    d = traj.select(
        F.col(entity_col).alias("entity"),
        F.row_number().over(
            Window.partitionBy(entity_col).orderBy(
                F.col(ts_col), F.col(order_tiebreak)
            )
        ).cast("long").alias("rn"),
        qx.alias("x"),
        qy.alias("y"),
    )
    eps2 = eps_micro * eps_micro

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.sort_values("rn")
        xs = g["x"].to_numpy()
        ys = g["y"].to_numpy()
        rns = g["rn"].to_numpy()
        ent = g["entity"].iloc[0]
        keep = []
        kx = ky = None
        for i in range(len(g)):
            if kx is None or (int(xs[i]) - kx) ** 2 + (int(ys[i]) - ky) ** 2 >= eps2:
                keep.append(i)
                kx, ky = int(xs[i]), int(ys[i])
        return pd.DataFrame(
            {
                "entity": [ent] * len(keep),
                "rn": rns[keep],
                "x": xs[keep],
                "y": ys[keep],
            }
        )

    return d.groupBy("entity").applyInPandas(
        walk, schema="entity long, rn long, x long, y long"
    )


def getis_gi(
    points: DataFrame,
    res: int,
    k: int = 2,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Getis-Ord Gi* hotspot scores of the density raster at ``res`` —
    per-cell local z-statistics over the Chebyshev-k box neighborhood
    (self included, edge-clipped), the standard "statistically hot
    cells" layer on top of ``kring_smooth``. Because z itself needs a
    square root, the emitted statistic is the exact rational z^2 with
    its sign:

        a_i  = N * ring_sum_i - n_i * S          (scaled numerator)
        z^2  = a_i^2 * (N-1) / ((N*Q - S^2) * n_i * (N - n_i))

    with S = total count, Q = sum of squared cell counts, N = 4^res,
    and n_i the in-grid box size (closed form from the cell coords).
    Every term is DECIMAL(38,0)-exact (a_i^2*(N-1) reaches ~1e23);
    only the final ratio happens in doubles. ``hot`` is sign(a_i): +1 a
    hotter-than-mean neighborhood, -1 colder.

    Domain: the k-dilated occupancy (cells with ring_sum >= 1) — all
    other cells are uniformly cold with a_i = -n_i * S and never
    materialize, keeping the plan histogram-only: one map-side-combined
    histogram, one (2k+1)^2 fan-out of histogram rows, two single-row
    aggregates. Returns (tile, ring_sum, n_ring, num, den, gi2, hot).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    check_res(res)
    n = 1 << res
    n_cells = n * n
    from .tiling import kring_smooth

    dec = "decimal(38,0)"
    # ONE (ix, iy, __n) histogram: kring_smooth consumes it directly and
    # the (s, q) base aggregates over the same subtree, so Spark's
    # exchange reuse scans the fact table once (it used to scan twice —
    # once for a tile-keyed copy of this histogram, once inside
    # kring_smooth)
    gx, gy = grid_ixy(lat, lon, res)
    hist = (
        points.select(
            gx.alias("ix"),
            gy.alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    base = hist.agg(
        F.sum(F.col("__n").cast(dec)).alias("s"),
        F.sum((F.col("__n") * F.col("__n")).cast(dec)).alias("q"),
    )
    ring = kring_smooth(points, res, k=k, lat=lat, lon=lon, hist=hist)
    ix, iy = tile_ixy("tile", n)
    n_ring = (
        (F.least(ix + k, F.lit(n - 1)) - F.greatest(ix - k, F.lit(0)) + 1)
        * (F.least(iy + k, F.lit(n - 1)) - F.greatest(iy - k, F.lit(0)) + 1)
    )
    N = F.lit(n_cells).cast(dec)
    j = ring.withColumn("n_ring", n_ring.cast("long")).crossJoin(
        F.broadcast(base)
    )
    a = N * F.col("ring_sum").cast(dec) - F.col("n_ring").cast(dec) * F.col("s")
    # a (<= N*S ~ 1e10) and N*Q - S^2 (~1e14) are each exactly
    # representable in a double, so they convert identically from
    # Spark's DECIMAL and DuckDB's HUGEINT; the full products a^2*(N-1)
    # (~1e23) are NOT — converting those as integers differs by an ulp
    # between the engines' decimal->double paths. So the final products
    # are computed IN doubles with an identical left-associated
    # expression tree, which IEEE 754 makes bit-deterministic.
    a_d = a.cast("double")
    v_d = (N * F.col("q") - F.col("s") * F.col("s")).cast("double")
    num = a_d * a_d * F.lit(float(n_cells - 1))
    den = v_d * F.col("n_ring").cast("double") * (
        F.lit(float(n_cells)) - F.col("n_ring").cast("double")
    )
    return j.select(
        "tile",
        "ring_sum",
        "n_ring",
        num.alias("num"),
        den.alias("den"),
        (num / den).alias("gi2"),
        F.when(a > 0, 1).when(a < 0, -1).otherwise(0).cast("int").alias("hot"),
    )


def zone_concurrency(
    visits: DataFrame,
    horizon_epoch: int,
    zone_col: str = "zone",
    enter_col: str = "enter_ts",
    exit_col: str = "exit_ts",
) -> DataFrame:
    """Sweep-line concurrency profile per zone from visit intervals
    (``zone_visits`` output): how many entities were inside at once, for
    how long — (zone, n_visits, max_concurrent, occupied_seconds,
    user_seconds) where ``occupied_seconds`` is wall time with >= 1
    visitor and ``user_seconds`` the time-weighted visitor integral.
    Open visits (NULL exit) close at ``horizon_epoch``.

    The classic alternative — exploding each visit over its hour
    buckets — fans out by dwell length (an open month-long visit is
    ~720 rows); the sweep-line is one +1/-1 event per endpoint, one
    window per zone ordered by (ts, delta) with exits first (half-open
    [enter, exit): an exit at t frees the slot before an enter at t),
    and three exact integer aggregates. Zero-length tie segments weigh
    0 and within-tie running maxima are attained at group end, so every
    output is tie-order independent. State per zone is the running
    int — bounded, streaming-friendly.
    """
    # ONE scan of the (possibly expensive) upstream: fan each visit to
    # its two endpoint rows with an inline explode instead of a
    # two-projection union, which would replay the whole visits lineage
    # twice (plan-audited)
    ev = visits.select(
        F.col(zone_col).alias("zone"),
        F.explode(
            F.array(
                F.struct(
                    F.unix_timestamp(F.col(enter_col)).alias("ts"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    F.coalesce(
                        F.unix_timestamp(F.col(exit_col)),
                        F.lit(horizon_epoch).cast("long"),
                    ).alias("ts"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("__e"),
    ).select("zone", F.col("__e.ts").alias("ts"), F.col("__e.delta").alias("delta"))
    from pyspark.sql import Window

    # Collapse to ONE net-delta row per (zone, ts) before the window —
    # provably result-identical: with exits ordered before enters at a
    # tie, the intra-tie intermediate running values are prev - exits
    # (<= prev) or prev + partial-enters (<= the tie-group end), so the
    # collapsed cumsum preserves max(running); tie segments have length
    # 0, so occupied/user-seconds never saw them. This bounds the
    # per-zone window input by DISTINCT timestamps (map-side combined),
    # not raw visit endpoints — the difference between one hot zone
    # sorting its whole history on one task and sorting its timeline.
    net = ev.groupBy("zone", "ts").agg(
        F.sum("delta").alias("net"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("enters"),
    )
    w = Window.partitionBy("zone").orderBy(F.col("ts").asc())
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = (
        net.withColumn("running", F.sum("net").over(wr))
        .withColumn("seg_len", F.coalesce(F.lead("ts").over(w) - F.col("ts"), F.lit(0)))
    )
    return run.groupBy("zone").agg(
        F.sum("enters").cast("long").alias("n_visits"),
        F.max("running").cast("long").alias("max_concurrent"),
        F.sum(
            F.when(F.col("running") > 0, F.col("seg_len")).otherwise(F.lit(0))
        ).alias("occupied_seconds"),
        F.sum(F.col("running") * F.col("seg_len")).alias("user_seconds"),
    )


def idw_loo_validate(
    sources: DataFrame,
    radius: float,
    value_col: str,
    id_col: str = "point_id",
    weight_scale: int = 10**12,
) -> DataFrame:
    """Leave-one-out cross-validation of the IDW surface: every source
    is re-estimated from its OTHER in-radius neighbors with the same
    exact integer 1/d^2-surrogate weights as ``idw_interpolate``, and
    the absolute error against its true value comes back per point —
    the standard interpolation-quality audit (pick radius/kernel by
    minimizing LOO error) without fitting anything twice.

    Plan: one ``distance_join`` of the source set against itself
    (cell-disk fan-out, broadcast-gated), self-pairs dropped by id,
    one map-side-combined rollup. Integer sums; the estimate and error
    are the only float ops, evaluated by the identical expression tree
    on both engines. Returns (target_id, n_src, num, den, est,
    true_val, abs_err) — isolated points keep n_src = 0 and NULL
    est/abs_err.
    """
    tgt = sources.select(
        F.col(id_col).alias("id"), "lat", "lon", F.col(value_col).alias("__tv")
    )
    pairs = distance_join(
        sources.select(id_col, "lat", "lon"), tgt.select("id", "lat", "lon"),
        radius, point_id=id_col, feature_id="id",
    ).filter(F.col(id_col) != F.col("neighbor_id"))
    vals = sources.select(
        F.col(id_col).alias("__sid"), F.col(value_col).alias("__v")
    )
    dq = F.floor(F.col("dist") * F.lit(DIST_Q_SCALE)).cast("long")
    w = F.expr(f"{weight_scale} div (1 + __dq)")
    agg = (
        pairs.join(vals, pairs[id_col] == vals["__sid"])
        .withColumn("__dq", dq)
        .withColumn("__w", w)
        .groupBy(F.col("neighbor_id").alias("target_id"))
        .agg(
            F.count(F.lit(1)).alias("n_src"),
            F.sum(F.col("__w") * F.col("__v")).alias("num"),
            F.sum("__w").alias("den"),
        )
    )
    est = F.col("num").cast("double") / F.col("den").cast("double")
    return (
        tgt.select(F.col("id").alias("target_id"), "__tv")
        .join(agg, "target_id", "left")
        .select(
            "target_id",
            F.coalesce(F.col("n_src"), F.lit(0)).alias("n_src"),
            "num",
            "den",
            est.alias("est"),
            F.col("__tv").cast("long").alias("true_val"),
            F.abs(est - F.col("__tv").cast("double")).alias("abs_err"),
        )
    )


def lisa_quadrants(
    points: DataFrame,
    res: int,
    k: int = 1,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Local Moran scatter-plot quadrants (Anselin's LISA classes): each
    OCCUPIED cell is labeled HH / LL / HL / LH by the sign of its own
    deviation from the global mean and the sign of its k-ring NEIGHBOR
    mean's deviation — the per-cell drill-down under the global
    ``moran_i`` statistic. All comparisons are exact integer
    cross-multiplications (own: N*x - S; neighbors: N*ring_m - m*S with
    ring_m the neighbor sum excluding self and m the in-grid neighbor
    count), so no mean is ever a float. Zero deviations classify as the
    LOW side (deterministic tie rule, documented here and replayed by
    the oracle). Returns (tile, x, ring_m, n_nbrs, quad).

    Plan: ONE histogram + the (2k+1)^2 fan-out (shared ``kring_smooth``
    subtree), then an inner join of the two histogram-sized frames —
    nothing scales with 4^res but the histogram."""
    check_res(res)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = 1 << res
    n_cells = n * n
    from .tiling import kring_smooth

    gx, gy = grid_ixy(lat, lon, res)
    hist = (
        points.select(
            gx.alias("ix"),
            gy.alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    base = hist.agg(F.sum("__n").alias("s"))
    ring = kring_smooth(points, res, k=k, lat=lat, lon=lon, hist=hist)
    own = hist.select(
        (F.col("ix") * F.lit(n) + F.col("iy")).alias("tile"),
        F.col("__n").alias("x"),
    )
    j = own.join(ring, "tile", "inner").crossJoin(F.broadcast(base))
    ix, iy = tile_ixy("tile", n)
    n_ring = (
        (F.least(ix + k, F.lit(n - 1)) - F.greatest(ix - k, F.lit(0)) + 1)
        * (F.least(iy + k, F.lit(n - 1)) - F.greatest(iy - k, F.lit(0)) + 1)
    )
    ring_m = F.col("ring_sum") - F.col("x")
    m = (n_ring - 1).cast("long")
    own_hi = F.lit(n_cells).cast("long") * F.col("x") > F.col("s")
    # m * S is the neighbor-mean cross-multiplication; m = 0 (isolated
    # 1x1 grid) cannot occur for k >= 1, n >= 2
    nbr_hi = F.lit(n_cells).cast("long") * ring_m > m * F.col("s")
    quad = (
        F.when(own_hi & nbr_hi, F.lit("HH"))
        .when(own_hi & ~nbr_hi, F.lit("HL"))
        .when(~own_hi & nbr_hi, F.lit("LH"))
        .otherwise(F.lit("LL"))
    )
    return j.select(
        "tile", "x", ring_m.alias("ring_m"), m.alias("n_nbrs"), quad.alias("quad")
    )


def ripley_k(
    points: DataFrame,
    res: int,
    radii: tuple[int, ...] = (1, 2, 4),
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Ripley's K point-pattern statistic on the cell grid: for each
    radius r (in CELLS, Chebyshev metric — the grid-native analogue of
    the classic Euclidean K), the number of ORDERED point pairs whose
    cells are within distance r, self-pairs excluded. Rising-faster-
    than-area counts mean clustering; the K curve's shape against r is
    the diagnostic. Returns (r, n_pairs, n_points) with exact integers.

    Plan: pair counting never touches point pairs — for each r,
    n_pairs = sum_c n_c * ring_sum_r(c) - N (the histogram fanned out by
    the shared ``kring_smooth`` subtree, N self-pairs removed). Cost is
    len(radii) fan-outs of the ONE histogram; nothing is quadratic in
    points."""
    check_res(res)
    if not radii or any(r < 1 for r in radii):
        raise ValueError(f"radii must be >= 1, got {radii}")
    n = 1 << res
    from .tiling import kring_smooth

    gx, gy = grid_ixy(lat, lon, res)
    hist = (
        points.select(
            gx.alias("ix"),
            gy.alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    own = hist.select(
        (F.col("ix") * F.lit(n) + F.col("iy")).alias("tile"),
        F.col("__n").alias("x"),
    )
    parts = []
    for r in radii:
        ring = kring_smooth(points, res, k=r, lat=lat, lon=lon, hist=hist)
        pairs = (
            own.join(ring, "tile", "inner")
            .agg(
                F.sum(F.col("x") * F.col("ring_sum")).alias("__tot"),
                F.sum("x").alias("__np"),
            )
            .select(
                F.lit(r).alias("r"),
                (F.col("__tot") - F.col("__np")).alias("n_pairs"),
                F.col("__np").alias("n_points"),
            )
        )
        parts.append(pairs)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def od_gravity_residual(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Gravity-model residuals over the OD flow matrix: each observed
    (from, to) flow is compared against the classic gravity expectation
    out_from * in_to / (T * (1 + d2)) with d2 the squared Euclidean
    CELL distance between the tile centers — corridors with resid >> 0
    move more people than their endpoints' sizes and separation predict
    (transit lines, commuter funnels). Everything is exact integer
    arithmetic in DECIMAL(38,0) (products like 1000 * out * in overflow
    int64 once marginals pass ~3e6): expected_milli uses truncating
    integer division, replayed verbatim by the oracle. Returns
    (from_tile, to_tile, n_trips, out_from, in_to, d2, exp_milli,
    resid_milli).

    Plan: the od_flows rollup (bounded by occupied tile pairs), two
    histogram-sized marginal aggregates joined back by tile key, one
    single-row total — no event-scale work after the first window."""
    dec = "decimal(38,0)"
    flows = od_flows(
        events, entity_col, ts_col, res=res, lat=lat, lon=lon,
        order_tiebreak=order_tiebreak,
    ).select("from_tile", "to_tile", "n_trips")
    out_m = flows.groupBy("from_tile").agg(F.sum("n_trips").alias("out_from"))
    in_m = flows.groupBy("to_tile").agg(F.sum("n_trips").alias("in_to"))
    tot = flows.agg(F.sum("n_trips").alias("t_total"))
    n = 1 << res
    fx, fy = tile_ixy("from_tile", n)
    tx, ty = tile_ixy("to_tile", n)
    d2 = (fx - tx) * (fx - tx) + (fy - ty) * (fy - ty)
    j = (
        flows.join(out_m, "from_tile")
        .join(in_m, "to_tile")
        .crossJoin(F.broadcast(tot))
        .withColumn("d2", d2)
    )
    exp_milli = F.expr(
        "CAST(CAST(1000 AS decimal(38,0)) * out_from * in_to AS decimal(38,0)) "
        "div (CAST(t_total AS decimal(38,0)) * (1 + d2))"
    ).cast("long")
    return j.select(
        "from_tile", "to_tile", "n_trips", "out_from", "in_to",
        F.col("d2").cast("long").alias("d2"),
        exp_milli.alias("exp_milli"),
        (F.lit(1000) * F.col("n_trips") - exp_milli).alias("resid_milli"),
    )


def snap_to_boundary(
    points: DataFrame,
    polygons: DataFrame,
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
    broadcast_threshold: int = 100_000,
) -> DataFrame:
    """Map matching to boundary segments: each point snaps to its
    nearest polygon-ring segment under exact integer micro-degree
    arithmetic — the "which border am I closest to, and how close"
    primitive behind boundary-uncertainty flags and road-snapping.
    Returns (id, polygon_id, seg_idx, d2) with

        d2 = clamped point-to-segment squared distance in micro-deg^2:
             an exact integer at the endpoints and the truncating
             cross^2 div |seg|^2 on the interior projection

    so every comparison (including the (d2, polygon_id, seg_idx)
    tie-break) is integer-deterministic and the oracle replays it
    verbatim. Segments come from consecutive ring vertices (closed).

    Scale shape: boundary dimensions are small by nature (admin borders,
    road graphs partition by region) — the segment dim is counted and
    broadcast below ``broadcast_threshold``; above it the operator
    raises rather than silently planning a shuffled cross join (band
    segments to cells and use the kNN machinery instead)."""
    segs_raw = polygons.select(
        "polygon_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(ring) - 1), i -> struct("
                "ring[i].lat AS y1, ring[i].lon AS x1, "
                "ring[CAST((i + 1) % size(ring) AS INT)].lat AS y2, "
                "ring[CAST((i + 1) % size(ring) AS INT)].lon AS x2))"
            )
        ).alias("seg_idx", "__s"),
    ).select(
        "polygon_id", "seg_idx",
        micro_deg("__s.x1").alias("x1"),
        micro_deg("__s.y1").alias("y1"),
        micro_deg("__s.x2").alias("x2"),
        micro_deg("__s.y2").alias("y2"),
    )
    n_segs = segs_raw.count()
    if n_segs > broadcast_threshold:
        raise ValueError(
            f"snap_to_boundary: {n_segs} segments exceed the broadcast "
            f"threshold {broadcast_threshold}; band the segments to cells "
            "and use the kNN machinery for huge segment sets"
        )
    pts = points.select(
        F.col(id_col),
        micro_deg(lon).alias("x0"),
        micro_deg(lat).alias("y0"),
    )
    j = pts.crossJoin(F.broadcast(segs_raw))
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    l2 = dx * dx + dy * dy
    tn = (F.col("x0") - F.col("x1")) * dx + (F.col("y0") - F.col("y1")) * dy
    d2_a = (F.col("x0") - F.col("x1")) * (F.col("x0") - F.col("x1")) + (
        F.col("y0") - F.col("y1")
    ) * (F.col("y0") - F.col("y1"))
    d2_b = (F.col("x0") - F.col("x2")) * (F.col("x0") - F.col("x2")) + (
        F.col("y0") - F.col("y2")
    ) * (F.col("y0") - F.col("y2"))
    cross = (F.col("x0") - F.col("x1")) * dy - (F.col("y0") - F.col("y1")) * dx
    # cross^2 reaches ~1e34: DECIMAL(38,0), truncating div back to long
    d2_mid = F.expr(
        "CAST(CAST(__cross AS decimal(38,0)) * __cross div __l2 AS BIGINT)"
    )
    scored = (
        j.withColumn("__l2", l2)
        .withColumn("__tn", tn)
        .withColumn("__cross", cross)
        .withColumn(
            "d2",
            F.when((F.col("__l2") == 0) | (F.col("__tn") <= 0), d2_a)
            .when(F.col("__tn") >= F.col("__l2"), d2_b)
            .otherwise(d2_mid),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct("d2", "polygon_id", "seg_idx")).alias("__b")
    )
    return best.select(
        id_col,
        F.col("__b.polygon_id").alias("polygon_id"),
        F.col("__b.seg_idx").cast("int").alias("seg_idx"),
        F.col("__b.d2").alias("d2"),
    )


def cell_hausdorff(
    events: DataFrame,
    pairs: DataFrame,
    res: int,
    entity_col: str = "user_id",
    lat: str = "lat",
    lon: str = "lon",
    max_cells: int = 10_000,
) -> DataFrame:
    """Trajectory similarity as the exact Hausdorff distance between two
    entities' visited-CELL sets under the Chebyshev metric (grid-native:
    distances are integers, so min/max chains are bit-deterministic) —
    the "do these two move through the same places" score for the
    candidate ``pairs`` (typically ``co_visitation`` output; never all
    entity pairs). Returns (a, b, d_ab, d_ba, d_h) where d_ab = max over
    a's cells of the min distance to b's cells and d_h = max(d_ab, d_ba).

    Cost is sum over pairs of |cells_a| * |cells_b| — quadratic in
    per-entity footprint, so a counted gate raises when any entity
    exceeds ``max_cells`` distinct cells (the co_visitation loud-guard
    pattern; coarsen res or pre-thin instead of letting the join
    explode)."""
    if max_cells is not None and max_cells < 1:
        raise ValueError(f"max_cells must be >= 1, got {max_cells}")
    gx, gy = grid_ixy(lat, lon, res)
    cells = (
        events.select(
            F.col(entity_col).alias("entity"),
            gx.alias("ix"),
            gy.alias("iy"),
        )
        .distinct()
    )
    if max_cells is not None:
        cells = cells.persist()
        worst = (
            cells.groupBy("entity").agg(F.count(F.lit(1)).alias("nc"))
            .filter(F.col("nc") > max_cells)
            .orderBy(F.col("nc").desc()).limit(1).collect()
        )
        if worst:
            r = worst[0]
            cells.unpersist()
            raise ValueError(
                f"cell_hausdorff: entity {r['entity']} occupies {r['nc']} "
                f"cells (> max_cells={max_cells}); the per-pair join is "
                "quadratic in footprint — coarsen res or pre-thin"
            )
    # both Hausdorff directions join the candidate set; pin it so an
    # expensive upstream (typically co_visitation) runs once, not twice
    p = pairs.select("a", "b").localCheckpoint(eager=True)
    ca = cells.select(
        F.col("entity").alias("a"), F.col("ix").alias("ax"), F.col("iy").alias("ay")
    )
    cb = cells.select(
        F.col("entity").alias("b"), F.col("ix").alias("bx"), F.col("iy").alias("by")
    )
    cheb = F.greatest(
        F.abs(F.col("ax") - F.col("bx")), F.abs(F.col("ay") - F.col("by"))
    )
    d_ab = (
        p.join(ca, "a").join(cb, "b")
        .groupBy("a", "b", "ax", "ay")
        .agg(F.min(cheb).alias("__mn"))
        .groupBy("a", "b")
        .agg(F.max("__mn").alias("d_ab"))
    )
    d_ba = (
        p.join(cb, "b").join(ca, "a")
        .groupBy("a", "b", "bx", "by")
        .agg(F.min(cheb).alias("__mn"))
        .groupBy("a", "b")
        .agg(F.max("__mn").alias("d_ba"))
    )
    return (
        d_ab.join(d_ba, ["a", "b"])
        .select(
            "a", "b", "d_ab", "d_ba",
            F.greatest("d_ab", "d_ba").alias("d_h"),
        )
    )


def tile_flow_divergence(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Net flow per tile — the divergence field of the OD matrix:
    inflow, outflow, and net = in - out per tile (sources feed commuter
    sinks; net > 0 marks attractors). Intra-tile transitions cancel by
    definition and are excluded. Returns (tile, inflow, outflow, net).

    Plan: the od_flows rollup then two histogram-sized marginal
    aggregates merged by a full outer join on the tile key — no
    event-scale work after the lag window."""
    # both marginals derive from the same rollup; pin it so the raw
    # lag window runs once, not once per marginal (plan-audited)
    flows = (
        od_flows(
            events, entity_col, ts_col, res=res, lat=lat, lon=lon,
            order_tiebreak=order_tiebreak,
        )
        .filter(F.col("from_tile") != F.col("to_tile"))
        .localCheckpoint(eager=True)
    )
    out_m = flows.groupBy(F.col("from_tile").alias("tile")).agg(
        F.sum("n_trips").alias("outflow")
    )
    in_m = flows.groupBy(F.col("to_tile").alias("tile")).agg(
        F.sum("n_trips").alias("inflow")
    )
    return (
        out_m.join(in_m, "tile", "full_outer")
        .select(
            "tile",
            F.coalesce("inflow", F.lit(0)).alias("inflow"),
            F.coalesce("outflow", F.lit(0)).alias("outflow"),
            (
                F.coalesce("inflow", F.lit(0)) - F.coalesce("outflow", F.lit(0))
            ).alias("net"),
        )
    )


def trip_length_hist(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Trip-displacement distribution: each consecutive transition's
    squared cell distance d2 bucketed by its DECIMAL-DIGIT count
    (1 -> d2 in [1,9], 2 -> [10,99], ...) — an order-of-magnitude
    histogram whose bucketing (string length of the integer) is exact
    and dialect-identical, where a log2/log10 float would not be.
    Zero-displacement transitions land in bucket 0. Returns
    (digits, n_trips, min_d2, max_d2).

    One lag window + one map-side-combined groupBy on <= 20 buckets."""
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    ix, iy = grid_ixy(lat, lon, res)
    df = (
        events.withColumn("__ix", ix)
        .withColumn("__iy", iy)
        .withColumn("__px", F.lag("__ix").over(w))
        .withColumn("__py", F.lag("__iy").over(w))
        .filter(F.col("__px").isNotNull())
    )
    d2 = (
        (F.col("__ix") - F.col("__px")) * (F.col("__ix") - F.col("__px"))
        + (F.col("__iy") - F.col("__py")) * (F.col("__iy") - F.col("__py"))
    )
    digits = F.when(d2 == 0, F.lit(0)).otherwise(
        F.length(d2.cast("string")).cast("long")
    )
    return (
        df.select(d2.alias("d2"), digits.alias("digits"))
        .groupBy("digits")
        .agg(
            F.count(F.lit(1)).alias("n_trips"),
            F.min("d2").alias("min_d2"),
            F.max("d2").alias("max_d2"),
        )
    )


def staypoints(
    traj: DataFrame,
    dist_micro: int,
    min_stay_s: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """Stay-point detection (Li et al. 2008, the classic GPS-semantics
    primitive): walk each entity's points in time order; a segment grows
    while every point stays within ``dist_micro`` micro-degrees of the
    segment's ANCHOR (its first point), and the segment emits as a
    staypoint iff it lasted at least ``min_stay_s`` seconds. The next
    anchor is the first point that broke the radius. Anchor-based (not
    centroid-based) on purpose: the keep decision is then an exact
    integer compare, engine-independent, and expressible as the same
    recursive SQL spec as ``simplify_radial``.

    Sequential per entity by nature -> one bounded-group Arrow kernel
    per entity (a track fits one task); nothing else leaves the
    entity-key shuffle. Returns (entity, start_rn, end_rn, n_pts,
    start_ep, end_ep, ax, ay)."""
    if dist_micro < 1:
        raise ValueError(f"dist_micro must be >= 1, got {dist_micro}")
    if min_stay_s < 0:
        raise ValueError(f"min_stay_s must be >= 0, got {min_stay_s}")
    import pandas as pd

    from pyspark.sql import Window

    qx = F.floor((F.col(lon) + F.lit(180.0)) * F.lit(float(scale))).cast("long")
    qy = F.floor((F.col(lat) + F.lit(90.0)) * F.lit(float(scale))).cast("long")
    d = traj.select(
        F.col(entity_col).alias("entity"),
        F.row_number().over(
            Window.partitionBy(entity_col).orderBy(
                F.col(ts_col), F.col(order_tiebreak)
            )
        ).cast("long").alias("rn"),
        qx.alias("x"),
        qy.alias("y"),
        F.unix_timestamp(F.col(ts_col)).alias("ep"),
    )
    d2 = dist_micro * dist_micro

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.sort_values("rn")
        xs = g["x"].to_numpy()
        ys = g["y"].to_numpy()
        rns = g["rn"].to_numpy()
        eps_ = g["ep"].to_numpy()
        ent = g["entity"].iloc[0]
        n = len(g)
        rows = []
        a = 0
        while a < n:
            j = a + 1
            ax, ay = int(xs[a]), int(ys[a])
            while j < n and (int(xs[j]) - ax) ** 2 + (int(ys[j]) - ay) ** 2 <= d2:
                j += 1
            if int(eps_[j - 1]) - int(eps_[a]) >= min_stay_s:
                rows.append(
                    (ent, int(rns[a]), int(rns[j - 1]), j - a,
                     int(eps_[a]), int(eps_[j - 1]), ax, ay)
                )
            a = j
        return pd.DataFrame(
            rows,
            columns=["entity", "start_rn", "end_rn", "n_pts",
                     "start_ep", "end_ep", "ax", "ay"],
        )

    ent_t = traj.schema[entity_col].dataType.simpleString()
    return d.groupBy("entity").applyInPandas(
        walk,
        schema=(
            f"entity {ent_t}, start_rn long, end_rn long, n_pts long, "
            "start_ep long, end_ep long, ax long, ay long"
        ),
    )


def polygon_adjacency(
    polygons: DataFrame,
    id_col: str = "polygon_id",
    ring_col: str = "ring",
) -> DataFrame:
    """Topology audit: which polygons share a boundary edge — adjacency
    by EXACT shared segments (both ring edges quantized to micro-degree
    integers and canonicalized endpoint-order-insensitively), the
    planar-partition sanity check behind "do admin areas tile cleanly".
    Returns (pid_a, pid_b, n_shared_edges) with pid_a < pid_b.

    Plan: rings explode to canonical segment keys (codegen arithmetic),
    one map-side-combined distinct, one equi-join keyed on the segment —
    adjacency never compares polygon PAIRS, only identical keys meet."""
    segs = polygons.select(
        F.col(id_col).alias("pid"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size({ring_col}) - 1), i -> struct("
                f"CAST(floor({ring_col}[i].lon * 1000000.0) AS BIGINT) AS x1, "
                f"CAST(floor({ring_col}[i].lat * 1000000.0) AS BIGINT) AS y1, "
                f"CAST(floor({ring_col}[CAST((i + 1) % size({ring_col}) AS INT)].lon"
                " * 1000000.0) AS BIGINT) AS x2, "
                f"CAST(floor({ring_col}[CAST((i + 1) % size({ring_col}) AS INT)].lat"
                " * 1000000.0) AS BIGINT) AS y2))"
            )
        ).alias("__i", "s"),
    ).select(
        "pid",
        # canonical endpoint order: smaller (x, y) first
        F.when(
            (F.col("s.x1") < F.col("s.x2"))
            | ((F.col("s.x1") == F.col("s.x2")) & (F.col("s.y1") <= F.col("s.y2"))),
            F.struct("s.x1", "s.y1", "s.x2", "s.y2"),
        )
        .otherwise(
            F.struct(
                F.col("s.x2").alias("x1"), F.col("s.y2").alias("y1"),
                F.col("s.x1").alias("x2"), F.col("s.y1").alias("y2"),
            )
        )
        .alias("seg"),
    ).distinct()
    a = segs.select(F.col("pid").alias("pid_a"), "seg")
    b = segs.select(F.col("pid").alias("pid_b"), "seg")
    return (
        a.join(b, "seg")
        .filter(F.col("pid_a") < F.col("pid_b"))
        .groupBy("pid_a", "pid_b")
        .agg(F.count(F.lit(1)).alias("n_shared_edges"))
    )


def tile_predictability(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-origin-tile Markov predictability audit: for every origin tile
    in the OD transition matrix, the modal next tile and the exact counts
    a consumer needs to form the top-1 transition probability
    (``top_n / total_n``) without any floating-point division in the
    engine. Ties on the trip count break to the smallest destination tile
    id so the answer is deterministic. Returns
    (from_tile, top_to_tile, top_n, total_n, n_dest).

    The reference has no mobility analogue; this extends the engine's OD
    family (``od_flows``) the way a next-cell predictor's training audit
    would consume it. Plan: the transition matrix itself is bounded by
    occupied tile PAIRS (not events), so the ranking window and the
    per-origin totals both run over histogram-sized data — one window
    pass partitioned by from_tile after od_flows' two shuffles. At 100x
    the event volume the matrix grows with distinct pairs only.
    """
    from pyspark.sql import Window

    od = od_flows(
        events, entity_col, ts_col, res=res, lat=lat, lon=lon,
        order_tiebreak=order_tiebreak,
    )
    w = Window.partitionBy("from_tile")
    rnk = Window.partitionBy("from_tile").orderBy(
        F.col("n_trips").desc(), F.col("to_tile").asc()
    )
    return (
        od.withColumn("total_n", F.sum("n_trips").over(w))
        .withColumn("n_dest", F.count(F.lit(1)).over(w))
        .withColumn("__r", F.row_number().over(rnk))
        .filter(F.col("__r") == 1)
        .select(
            "from_tile",
            F.col("to_tile").alias("top_to_tile"),
            F.col("n_trips").alias("top_n"),
            "total_n",
            "n_dest",
        )
    )


def semivariogram(
    points: DataFrame,
    res: int,
    max_lag: int = 2,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Empirical semivariogram of the point-density raster at ``res``
    over OCCUPIED cells: for every squared cell-distance bin
    d2 = dx^2 + dy^2 <= ``max_lag``^2, the unordered occupied-pair count
    and the exact integer sum of squared value differences. The
    semivariance consumers divide to — gamma(d2) = sum_sq_diff /
    (2 * n_pairs) — stays a ratio of exact integers; no float math in
    the engine. Empty cells are non-observations (the geostatistics
    convention: the variogram is over sampled locations), which is what
    separates this from ``gearys_c``/``moran_i``'s all-cell rasters.
    Returns (d2, n_pairs, sum_sq_diff) ordered by the consumer.

    Plan: the map-side-combined histogram is the only frame that sees
    the fact table; pairs come from ONE equi-join of the histogram with
    itself over the lexicographically-positive offset fan
    (dx > 0 or (dx = 0 and dy > 0)) so each unordered pair counts
    exactly once — fan-out is the constant half-ring size (6 offsets
    at max_lag 2: d2 bins 1, 2 and 4). At 100x the
    events only the histogram grows; the join stays histogram x
    constant.
    """
    check_res(res)
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    from .tiling import assign_tiles

    ix, iy = tile_ixy("tile", 1 << res)
    hist = (
        assign_tiles(points, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("x"))
        .select(ix.alias("ix"), iy.alias("iy"), "x")
    )
    offsets = [
        (dx, dy)
        for dx in range(0, max_lag + 1)
        for dy in range(-max_lag, max_lag + 1)
        if 0 < dx * dx + dy * dy <= max_lag * max_lag
        and (dx > 0 or dy > 0)
    ]
    off = stencil(offsets).alias("o")
    fan = hist.select("ix", "iy", "x", off).select(
        (F.col("ix") + F.col("o.dx")).alias("jx"),
        (F.col("iy") + F.col("o.dy")).alias("jy"),
        F.col("x").alias("x1"),
        (F.col("o.dx") * F.col("o.dx") + F.col("o.dy") * F.col("o.dy"))
        .cast("long")
        .alias("d2"),
    )
    other = hist.select(
        F.col("ix").alias("jx"), F.col("iy").alias("jy"), F.col("x").alias("x2")
    )
    d = F.col("x1") - F.col("x2")
    return (
        fan.join(other, ["jx", "jy"])
        .groupBy("d2")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(d * d).alias("sum_sq_diff"),
        )
    )


def dissolve_perimeter(cells: DataFrame, res: int) -> DataFrame:
    """Dissolve audit of a rasterized polygon layer: per polygon, the
    exact cell count, internal rook adjacencies, exposed-edge perimeter
    (in cell-edge units: ``4 * n_cells - 2 * n_adj``) and boundary-cell
    count (cells with fewer than 4 same-polygon neighbors) — the
    integer-exact audit a raster dissolve / generalization stage runs to
    validate that region merges preserved topology mass. Input is the
    (polygon_id, tile) frame ``rasterize_polygons`` emits. Returns
    (polygon_id, n_cells, n_adj, perimeter_edges, n_boundary).

    Plan: the raster frame (histogram-sized — tiles, not points) fans
    out over the constant 4-offset rook ring and equi-joins itself on
    (polygon_id, neighbor coords); per-cell degrees aggregate map-side,
    isolated cells come back via one left join against the cell set,
    and the polygon rollup is a second map-side-combined groupBy. No
    stage scales with anything but occupied raster cells.
    """
    ix, iy = tile_ixy("tile", 1 << res)
    c = cells.select("polygon_id", ix.alias("ix"), iy.alias("iy")).distinct()
    off = stencil(((1, 0), (-1, 0), (0, 1), (0, -1))).alias("o")
    fan = c.select("polygon_id", "ix", "iy", off).select(
        "polygon_id", "ix", "iy",
        (F.col("ix") + F.col("o.dx")).alias("jx"),
        (F.col("iy") + F.col("o.dy")).alias("jy"),
    )
    other = c.select(
        F.col("polygon_id").alias("polygon_id"),
        F.col("ix").alias("jx"),
        F.col("iy").alias("jy"),
    )
    nb = (
        fan.join(other, ["polygon_id", "jx", "jy"])
        .groupBy("polygon_id", "ix", "iy")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    deg = c.join(nb, ["polygon_id", "ix", "iy"], "left").select(
        "polygon_id", F.coalesce(F.col("__d"), F.lit(0)).alias("d")
    )
    return deg.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.sum("d") / 2).cast("long").alias("n_adj"),
        (4 * F.count(F.lit(1)) - F.sum("d")).alias("perimeter_edges"),
        F.sum((F.col("d") < 4).cast("long")).alias("n_boundary"),
    )


def od_reciprocity(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Flow reciprocity of the OD matrix: one row per unordered tile
    pair {a, b} (a < b, intra-tile flows excluded) with the exact trip
    counts in each direction and their min — the balanced (reciprocated)
    flow. Network-science consumers form the weighted reciprocity
    sum(min)/sum(total) from the columns; the engine keeps everything
    integer. Returns (tile_a, tile_b, n_ab, n_ba, n_recip).

    Plan: the OD matrix (occupied-pair-sized) joins its own reversal on
    the canonicalized key — a FULL OUTER self-join so one-directional
    pairs survive with a zero reverse count; both sides shuffle on the
    same (min, max) composite key. Nothing touches raw events after
    ``od_flows``'s window."""
    # both join sides derive from the same OD rollup; without lineage
    # truncation each side replays the raw-event lag window
    # (plan-audited) — the rollup is occupied-pair-sized, safe to pin
    od = (
        od_flows(
            events, entity_col, ts_col, res=res, lat=lat, lon=lon,
            order_tiebreak=order_tiebreak,
        )
        .filter(F.col("from_tile") != F.col("to_tile"))
        .localCheckpoint(eager=True)
    )
    fwd = od.filter(F.col("from_tile") < F.col("to_tile")).select(
        F.col("from_tile").alias("tile_a"),
        F.col("to_tile").alias("tile_b"),
        F.col("n_trips").alias("n_ab"),
    )
    rev = od.filter(F.col("from_tile") > F.col("to_tile")).select(
        F.col("to_tile").alias("tile_a"),
        F.col("from_tile").alias("tile_b"),
        F.col("n_trips").alias("n_ba"),
    )
    j = fwd.join(rev, ["tile_a", "tile_b"], "full_outer")
    n_ab = F.coalesce(F.col("n_ab"), F.lit(0))
    n_ba = F.coalesce(F.col("n_ba"), F.lit(0))
    return j.select(
        "tile_a", "tile_b",
        n_ab.alias("n_ab"), n_ba.alias("n_ba"),
        F.least(n_ab, n_ba).alias("n_recip"),
    )


def quadrat_chi2(
    points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Quadrat-count chi-square statistic for complete spatial
    randomness (CSR), the classic first-pass clustering test: grid the
    OCCUPIED bounding box of the point set into the res-``tile`` lattice
    and compare per-quadrat counts against the uniform expectation
    N/Q. With Q quadrats (bbox cells, empties included) and N points,

        chi2 = sum_i (n_i - N/Q)^2 / (N/Q) = (Q * sum_i n_i^2 - N^2) / N

    — all-integer numerator/denominator (empty quadrats contribute only
    through Q), computed in DECIMAL(38,0) so N^2-scale products never
    overflow; the single num/den division is the only float op. Returns
    ONE row (res, n_points, n_quadrats, occupied, chi2_num, chi2_den,
    chi2). chi2 >> Q-1 means clustered; ~Q-1 means CSR.

    Plan: one map-side-combined histogram, then ONE single-row
    aggregate over it (bbox bounds + moments together — no second scan
    of the fact table, no lattice materialization)."""
    check_res(res)
    n = 1 << res
    from .tiling import assign_tiles

    hist = (
        assign_tiles(points, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ix, iy = tile_ixy("tile", n)
    dec = "decimal(38,0)"
    base = hist.agg(
        F.sum(F.col("x").cast(dec)).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("q2"),
        F.count(F.lit(1)).alias("occ"),
        F.min(ix).alias("x0"),
        F.max(ix).alias("x1"),
        F.min(iy).alias("y0"),
        F.max(iy).alias("y1"),
    )
    nq = (
        (F.col("x1") - F.col("x0") + 1) * (F.col("y1") - F.col("y0") + 1)
    ).cast(dec)
    num = nq * F.col("q2") - F.col("s") * F.col("s")
    return base.select(
        F.lit(res).alias("res"),
        F.col("s").cast("long").alias("n_points"),
        nq.cast("long").alias("n_quadrats"),
        F.col("occ").alias("occupied"),
        num.cast("double").alias("chi2_num"),
        F.col("s").cast("double").alias("chi2_den"),
        (num.cast("double") / F.col("s").cast("double")).alias("chi2"),
    )


def join_counts(
    points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Join-count statistics (Cliff & Ord) over the binarized density
    raster: mark each OCCUPIED res-cell black iff its count reaches the
    occupied-cell mean (integer cross-multiply ``x * C >= N`` — no
    float threshold), then count rook-adjacent unordered pairs by
    color: BB (black-black), WW, BW. An excess of BB over the random
    expectation means hot cells clump; an excess of BW means a
    salt-and-pepper field. Adjacency is over occupied cells only (the
    occupied-raster graph — empty neighbors are not observations).
    Returns ONE row (res, n_black, n_white, n_pairs, bb, ww, bw).

    Plan: map-side-combined histogram -> single-row stats crossJoin
    (broadcast, the moran_i pattern) to mark colors -> one 2-offset
    (E, N) equi-join of the tiny marked histogram with itself -> two
    single-row aggregates. The histogram is localCheckpoint'd: it is
    referenced by three downstream subplans (stats, colors, both pair
    sides) whose pruned subtrees defeat Spark's exchange reuse, and
    without the checkpoint each reference re-scans the fact table
    (plan-audited: 6 scans -> 1)."""
    check_res(res)
    n = 1 << res
    from .tiling import assign_tiles

    hist = (
        assign_tiles(points, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=True)
    )
    stats = hist.agg(
        F.sum("x").alias("tot"), F.count(F.lit(1)).alias("occ")
    )
    marked = hist.crossJoin(F.broadcast(stats)).select(
        "tile",
        (F.col("x") * F.col("occ") >= F.col("tot")).cast("long").alias("black"),
    )
    colors = marked.agg(
        F.sum("black").alias("n_black"),
        F.sum(F.lit(1) - F.col("black")).alias("n_white"),
    )
    ix, iy = tile_ixy("tile", n)
    off = stencil(((1, 0), (0, 1))).alias("o")
    fan = (
        marked.select("tile", "black", off)
        .select(
            ((ix + F.col("o.dx")) * F.lit(n) + (iy + F.col("o.dy"))).alias("ntile"),
            (ix + F.col("o.dx")).alias("nx"),
            (iy + F.col("o.dy")).alias("ny"),
            F.col("black").alias("b1"),
        )
        .filter(in_grid("nx", "ny", n))
    )
    pairs = fan.join(marked, fan["ntile"] == marked["tile"], "inner").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum(F.col("b1") * F.col("black")), F.lit(0)).alias("bb"),
        F.coalesce(
            F.sum((F.lit(1) - F.col("b1")) * (F.lit(1) - F.col("black"))),
            F.lit(0),
        ).alias("ww"),
    )
    return colors.crossJoin(pairs).select(
        F.lit(res).alias("res"),
        F.col("n_black").cast("long").alias("n_black"),
        F.col("n_white").cast("long").alias("n_white"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("bb").cast("long").alias("bb"),
        F.col("ww").cast("long").alias("ww"),
        (F.col("n_pairs") - F.col("bb") - F.col("ww")).cast("long").alias("bw"),
    )


def bilinear_interp(
    fact: DataFrame,
    queries: DataFrame,
    res: int,
    s_bits: int = 16,
    id_col: str = "id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Bilinear interpolation of the point-density raster at arbitrary
    query locations — the raster-smooth complement of ``idw_interpolate``
    (grid-anchored, O(4) cells per query instead of a neighbor scan).
    Each query's continuous cell coordinate is quantized to ``s_bits``
    fixed-point fractional bits (floor of one shared IEEE expression
    tree — deterministic in both engines), the four surrounding cell
    CENTERS get integer weights wx*wy <= 2^(2*s_bits), and the value is
    the exact rational (val_num, val_den = 4^s_bits); the only float is
    the final division. Missing cells contribute 0 (density rasters are
    dense-zero by construction). Returns (id, val_num, val_den, val).

    Plan: one map-side-combined histogram; queries fan out x4 via an
    inline corner array (no join growth beyond 4x), then ONE equi-join
    on the cell key against the tiny histogram (left, missing -> 0) and
    a groupBy on the query id. At 100x both sides shuffle on the same
    cell key; the histogram side is broadcastable below threshold."""
    check_res(res)
    if not 1 <= s_bits <= 20:
        raise ValueError(f"s_bits must be in [1, 20], got {s_bits}")
    n = 1 << res
    s = 1 << s_bits
    from .tiling import assign_tiles

    hist = (
        assign_tiles(fact, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ns = float(n * s)
    u = F.floor((F.col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(ns)).cast("long")
    v = F.floor((F.col(lat) + F.lit(90.0)) / F.lit(180.0) * F.lit(ns)).cast("long")
    base = queries.select(
        F.col(id_col).alias("id"),
        (u + F.lit(s // 2)).alias("tu"),
        (v + F.lit(s // 2)).alias("tv"),
    ).select(
        "id",
        F.expr(f"tu div {s} - 1").alias("ix0"),
        (F.col("tu") % s).alias("fx"),
        F.expr(f"tv div {s} - 1").alias("iy0"),
        (F.col("tv") % s).alias("fy"),
    )
    corner = stencil(((0, 0), (0, 1), (1, 0), (1, 1))).alias("c")
    wx = F.when(F.col("c.dx") == 0, F.lit(s) - F.col("fx")).otherwise(F.col("fx"))
    wy = F.when(F.col("c.dy") == 0, F.lit(s) - F.col("fy")).otherwise(F.col("fy"))
    fan = base.select("id", "ix0", "iy0", "fx", "fy", corner).select(
        "id",
        ((F.col("ix0") + F.col("c.dx")) * F.lit(n)
         + (F.col("iy0") + F.col("c.dy"))).alias("ctile"),
        (F.col("ix0") + F.col("c.dx")).alias("cx"),
        (F.col("iy0") + F.col("c.dy")).alias("cy"),
        (wx * wy).alias("w"),
    )
    valid = in_grid("cx", "cy", n)
    joined = (
        fan.withColumn("__ok", valid.cast("long"))
        .join(hist, fan["ctile"] == hist["tile"], "left")
        .select(
            "id",
            (F.col("w") * F.col("__ok") * F.coalesce(F.col("cnt"), F.lit(0)))
            .alias("wc"),
        )
    )
    den = s * s
    return joined.groupBy("id").agg(
        F.sum("wc").alias("val_num"),
        F.lit(den).cast("long").alias("val_den"),
        (F.sum("wc").cast("double") / F.lit(float(den))).alias("val"),
    )


def od_topk(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    k: int,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Top-k destination sparsification of the OD matrix: for every
    origin cell keep its k strongest destination cells (ties to the
    smaller tile id) — the standard per-key top-k that turns a dense
    flow matrix into the routing-table-sized summary a serving layer
    actually ships. Intra-cell dwell transitions are excluded (they
    are not routes). Returns (from_tile, to_tile, n_trips, rank).

    Plan: reuses ``od_flows``' single entity-window pass + tile-pair
    rollup, then ONE rank window partitioned by origin over the
    already-aggregated matrix (bounded by occupied pairs, never raw
    events)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    od = od_flows(
        events, entity_col, ts_col, res=res, lat=lat, lon=lon,
        order_tiebreak=order_tiebreak,
    ).filter(F.col("from_tile") != F.col("to_tile"))
    w = Window.partitionBy("from_tile").orderBy(
        F.col("n_trips").desc(), F.col("to_tile").asc()
    )
    return (
        od.select(
            "from_tile", "to_tile", "n_trips",
            F.row_number().over(w).cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def od_backbone(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    share_den: int = 10,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-origin backbone extraction: keep the OD edges that carry at
    least 1/``share_den`` of their origin cell's outbound trips
    (integer cross-multiply ``share_den * n >= origin_total`` — no
    float share), the simple deterministic cousin of the disparity
    filter: what remains is each cell's structural corridor set,
    independent of the cell's absolute volume. Intra-cell transitions
    excluded. Returns (from_tile, to_tile, n_trips, origin_trips).

    Plan: ``od_flows`` rollup + ONE sum window per origin over the
    aggregated matrix; the filter is a codegen'd integer compare."""
    if share_den < 1:
        raise ValueError(f"share_den must be >= 1, got {share_den}")
    from pyspark.sql import Window

    od = od_flows(
        events, entity_col, ts_col, res=res, lat=lat, lon=lon,
        order_tiebreak=order_tiebreak,
    ).filter(F.col("from_tile") != F.col("to_tile"))
    w = Window.partitionBy("from_tile")
    return (
        od.select(
            "from_tile", "to_tile", "n_trips",
            F.sum("n_trips").over(w).alias("origin_trips"),
        )
        .filter(F.col("n_trips") * share_den >= F.col("origin_trips"))
    )


def trip_segments(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    max_gap_s: int,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Gap-based trip segmentation: each entity's event stream splits
    into trips wherever the inter-event gap exceeds ``max_gap_s`` (the
    dual of ``staypoints`` — silence, not stillness, ends a trip); per
    trip it emits exact-integer point count, epoch span, distinct-cell
    count and net displacement squared in micro-degree units
    ((x_last - x_first)^2 + (y_last - y_first)^2 — sub-2^63 since
    micro-degree spans are < 4*10^8). Returns (entity, trip_id,
    n_points, start_ep, end_ep, duration_s, n_tiles, disp2) with
    trip_id the 1-based per-entity trip ordinal.

    Plan: two windows over the SAME per-entity partitioning (lag for
    the gap flag, running sum for the trip ordinal — one shuffle), then
    ONE groupBy on (entity, trip) computing every feature in a single
    pass (endpoint coords via lexicographic struct min/max on the
    unique (ep, tiebreak) key)."""
    if max_gap_s < 1:
        raise ValueError(f"max_gap_s must be >= 1, got {max_gap_s}")
    from pyspark.sql import Window

    order = [F.col("__ep").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    base = events.select(
        F.col(entity_col).alias("entity"),
        F.unix_timestamp(F.col(ts_col)).alias("__ep"),
        F.floor((F.col(lon) + F.lit(180.0)) * F.lit(float(scale)))
        .cast("long")
        .alias("__x"),
        F.floor((F.col(lat) + F.lit(90.0)) * F.lit(float(scale)))
        .cast("long")
        .alias("__y"),
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    )
    w = Window.partitionBy("entity").orderBy(*order)
    flagged = base.withColumn("__prev", F.lag("__ep").over(w)).withColumn(
        "__new",
        (
            F.col("__prev").isNull()
            | ((F.col("__ep") - F.col("__prev")) > max_gap_s)
        ).cast("long"),
    )
    walked = flagged.withColumn(
        "trip_id",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    key = [F.col("__ep"), *([F.col(order_tiebreak)] if order_tiebreak else [])]
    per = walked.groupBy("entity", "trip_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("__ep").alias("start_ep"),
        F.max("__ep").alias("end_ep"),
        F.countDistinct("tile").alias("n_tiles"),
        F.min(F.struct(*key, F.col("__x"), F.col("__y"))).alias("__f"),
        F.max(F.struct(*key, F.col("__x"), F.col("__y"))).alias("__l"),
    )
    dx = F.col("__l.__x") - F.col("__f.__x")
    dy = F.col("__l.__y") - F.col("__f.__y")
    return per.select(
        "entity",
        "trip_id",
        "n_points",
        "start_ep",
        "end_ep",
        (F.col("end_ep") - F.col("start_ep")).alias("duration_s"),
        "n_tiles",
        (dx * dx + dy * dy).alias("disp2"),
    )


def speed_outliers(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    vmax_micro: int,
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """GPS teleport detector — the standard trajectory-cleaning pass:
    flag every consecutive per-entity segment whose implied speed
    exceeds ``vmax_micro`` micro-degrees/second, using the exact
    integer cross-multiplied test ``dist2 > (vmax * dt)^2`` (squared
    micro-degree distance vs squared budget — no sqrt, no division; a
    zero-dt move of nonzero distance is infinite speed and flags).
    The squared budget is computed in DECIMAL(38,0) since
    (vmax * dt)^2 overflows int64 for long gaps. Returns the flagged
    segments (entity, start_ep, end_ep, dt_s, dist2) — the rows a
    curation pipeline quarantines before any mobility statistic.

    Plan: ONE lag window over the entity partitioning (narrow frame)
    and a codegen'd integer filter — no joins, no second scan."""
    if vmax_micro < 1:
        raise ValueError(f"vmax_micro must be >= 1, got {vmax_micro}")
    from pyspark.sql import Window

    # walk by the full ts, then the tiebreak: the streaming twin's order
    order = [F.col("__ts").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    base = events.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("__ts"),
        F.unix_timestamp(F.col(ts_col)).alias("__ep"),
        F.floor((F.col(lon) + F.lit(180.0)) * F.lit(float(scale)))
        .cast("long")
        .alias("__x"),
        F.floor((F.col(lat) + F.lit(90.0)) * F.lit(float(scale)))
        .cast("long")
        .alias("__y"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    )
    w = Window.partitionBy("entity").orderBy(*order)
    seg = (
        base.withColumn("__pep", F.lag("__ep").over(w))
        .withColumn("__px", F.lag("__x").over(w))
        .withColumn("__py", F.lag("__y").over(w))
        .filter(F.col("__pep").isNotNull())
    )
    dx = F.col("__x") - F.col("__px")
    dy = F.col("__y") - F.col("__py")
    dist2 = dx * dx + dy * dy
    dt = F.col("__ep") - F.col("__pep")
    dec = "decimal(38,0)"
    budget = (F.lit(vmax_micro) * dt).cast(dec)
    return (
        seg.withColumn("dist2", dist2)
        .withColumn("dt_s", dt)
        .filter(F.col("dist2").cast(dec) > budget * budget)
        .select(
            "entity",
            F.col("__pep").alias("start_ep"),
            F.col("__ep").alias("end_ep"),
            "dt_s",
            "dist2",
        )
    )


def geofence_dwell(
    events: DataFrame,
    polygons: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-polygon dwell accounting — the geofence complement of the
    per-cell ``dwell_time``: each consecutive per-entity segment's
    exact epoch-second duration is attributed to the polygon containing
    the segment's START point (the same start-attribution convention),
    via the hierarchical boundary-band PIP join. Points outside every
    fence contribute nothing; with overlapping fences a segment counts
    toward each containing polygon (fences are zones, not a
    partition). Returns (polygon_id, total_dwell_s, n_segments,
    n_entities).

    Plan: one lag window on the entity key to build segments, then the
    standard pip_join (broadcast cover + refine) on the segment-start
    coordinates and one map-side-combined rollup on polygon_id."""
    from pyspark.sql import Window

    from .pip_join import pip_join

    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    seg = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.unix_timestamp(F.col(ts_col)).alias("__ep"),
            F.col(lat).alias("lat"),
            F.col(lon).alias("lon"),
            *([F.col(order_tiebreak)] if order_tiebreak else []),
        )
        .withColumn(
            "__next",
            F.lead("__ep").over(
                Window.partitionBy("entity").orderBy(
                    F.col("__ep").asc(),
                    *([F.col(order_tiebreak).asc()] if order_tiebreak else []),
                )
            ),
        )
        .filter(F.col("__next").isNotNull())
        .withColumn("__seg_id", F.monotonically_increasing_id())
    )
    fenced = pip_join(
        seg, polygons, res=res, id_col="__seg_id", lat="lat", lon="lon"
    )
    return fenced.groupBy("polygon_id").agg(
        F.sum(F.col("__next") - F.col("__ep")).alias("total_dwell_s"),
        F.count(F.lit(1)).alias("n_segments"),
        F.countDistinct("entity").alias("n_entities"),
    )


def curve_locality(
    points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Space-filling-curve locality audit — the number that justifies
    Hilbert-clustered compaction over row-major: for every rook-adjacent
    pair of OCCUPIED cells, the absolute key distance under (a) the
    row-major cell id and (b) the order-``res`` Hilbert key, summed.
    Physically-adjacent cells far apart in key space end up in different
    files, so a bbox scan touches more files; the ordering with the
    smaller sum prunes tighter. Returns ONE row
    (res, n_pairs, rowmajor_dist, hilbert_dist) — exact integers.

    Plan: one distinct-cell pass (map-side combined), lineage pinned
    (the cell set feeds the fan AND the join probe), a 2-offset (E, N)
    fan and one equi-join of the tiny cell frame with itself, then a
    single-row aggregate."""
    if not 1 <= res <= 13:
        raise ValueError(f"res must be in [1, 13], got {res}")
    n = 1 << res

    cells = with_hilbert(
        points.select(
            gidx(lon, 180.0, 360.0, n).alias("ix"),
            gidx(lat, 90.0, 180.0, n).alias("iy"),
        ).distinct(),
        res,
    ).select(
        "ix", "iy",
        (F.col("ix") * F.lit(n) + F.col("iy")).alias("rkey"),
        "hkey",
    ).localCheckpoint(eager=True)
    off = stencil(((1, 0), (0, 1))).alias("o")
    fan = cells.select("ix", "iy", "rkey", "hkey", off).select(
        (F.col("ix") + F.col("o.dx")).alias("nx"),
        (F.col("iy") + F.col("o.dy")).alias("ny"),
        F.col("rkey").alias("r1"),
        F.col("hkey").alias("h1"),
    )
    nbr = cells.select(
        F.col("ix").alias("nx"), F.col("iy").alias("ny"),
        F.col("rkey").alias("r2"), F.col("hkey").alias("h2"),
    )
    pairs = fan.join(nbr, ["nx", "ny"], "inner")
    return pairs.agg(
        F.lit(res).alias("res"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.abs(F.col("r1") - F.col("r2"))).alias("rowmajor_dist"),
        F.sum(F.abs(F.col("h1") - F.col("h2"))).alias("hilbert_dist"),
    )


def geo_decontaminate(
    points: DataFrame,
    eval_regions: DataFrame,
    res: int = 8,
    id_col: str = "point_id",
    entity_col: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Geographic decontamination report — the spatial member of the
    decontamination family (5-gram text / pHash image / embedding
    cosine): training points falling inside any EVAL holdout region leak
    location-correlated labels, so they must be dropped before training
    a geo model evaluated there. Returns one row per eval region
    (region, n_removed, n_entities_removed) plus the ``__kept__``
    summary row (n_removed = surviving points) — the audit a curation
    run logs next to the drop.

    Plan: ONE hierarchical boundary-band PIP join (broadcast cover +
    refine) for the per-region counts; the kept count is derived as
    total − distinct-removed via two single-row aggregates — the fact
    table scans twice (count + PIP), never more; overlapping regions
    count a point in each region but once in the kept arithmetic."""
    from .pip_join import pip_join

    hits = pip_join(
        points.select(
            F.col(id_col).alias("__pid"),
            *([F.col(entity_col).alias("__ent")] if entity_col else []),
            F.col(lat).alias("lat"),
            F.col(lon).alias("lon"),
        ),
        eval_regions,
        res=res,
        id_col="__pid",
    ).localCheckpoint(eager=True)
    per_region = hits.groupBy(F.col("polygon_id").alias("region")).agg(
        F.count(F.lit(1)).alias("n_removed"),
        (
            F.countDistinct("__ent") if entity_col else F.lit(0).cast("long")
        ).alias("n_entities_removed"),
    )
    total = points.agg(F.count(F.lit(1)).alias("n_total"))
    removed = hits.agg(F.countDistinct("__pid").alias("n_rm"))
    kept = total.crossJoin(removed).select(
        F.lit("__kept__").alias("region"),
        (F.col("n_total") - F.col("n_rm")).alias("n_removed"),
        F.lit(0).cast("long").alias("n_entities_removed"),
    )
    return per_region.unionByName(kept)


def trip_circuity(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    max_gap_s: int,
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-trip circuity under the L1 (Manhattan) metric — how much
    longer the travelled path is than the straight connection, fully
    integer-exact (L2 would need a sqrt per segment; L1 keeps the whole
    statistic in BIGINT arithmetic and preserves the ranking for the
    detour-audit use case). Trips split at ``max_gap_s`` silences, the
    ``trip_segments`` rule. Returns (entity, trip_id, n_points,
    path_l1, disp_l1, circuity_milli) for trips that moved
    (disp_l1 > 0), with circuity_milli = 1000 * path div disp >= 1000.

    Plan: the same single entity-window pass as ``trip_segments`` (lag
    coords + gap flag + running trip ordinal share one shuffle) and one
    groupBy with struct min/max endpoints."""
    if max_gap_s < 1:
        raise ValueError(f"max_gap_s must be >= 1, got {max_gap_s}")
    from pyspark.sql import Window

    order = [F.col("__ep").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    base = events.select(
        F.col(entity_col).alias("entity"),
        F.unix_timestamp(F.col(ts_col)).alias("__ep"),
        F.floor((F.col(lon) + F.lit(180.0)) * F.lit(float(scale)))
        .cast("long")
        .alias("__x"),
        F.floor((F.col(lat) + F.lit(90.0)) * F.lit(float(scale)))
        .cast("long")
        .alias("__y"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    )
    w = Window.partitionBy("entity").orderBy(*order)
    stepped = (
        base.withColumn("__pep", F.lag("__ep").over(w))
        .withColumn("__px", F.lag("__x").over(w))
        .withColumn("__py", F.lag("__y").over(w))
        .withColumn(
            "__new",
            (
                F.col("__pep").isNull()
                | ((F.col("__ep") - F.col("__pep")) > max_gap_s)
            ).cast("long"),
        )
        .withColumn(
            "trip_id",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    step_l1 = F.when(
        (F.col("__new") == 0) & F.col("__px").isNotNull(),
        F.abs(F.col("__x") - F.col("__px")) + F.abs(F.col("__y") - F.col("__py")),
    ).otherwise(F.lit(0))
    key = [F.col("__ep"), *([F.col(order_tiebreak)] if order_tiebreak else [])]
    per = (
        stepped.withColumn("__step", step_l1)
        .groupBy("entity", "trip_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("__step").alias("path_l1"),
            F.min(F.struct(*key, F.col("__x"), F.col("__y"))).alias("__f"),
            F.max(F.struct(*key, F.col("__x"), F.col("__y"))).alias("__l"),
        )
    )
    disp = F.abs(F.col("__l.__x") - F.col("__f.__x")) + F.abs(
        F.col("__l.__y") - F.col("__f.__y")
    )
    return (
        per.withColumn("disp_l1", disp)
        .filter(F.col("disp_l1") > 0)
        .select(
            "entity",
            "trip_id",
            "n_points",
            "path_l1",
            "disp_l1",
            F.expr("CAST(1000 * path_l1 AS BIGINT) div disp_l1").alias(
                "circuity_milli"
            ),
        )
    )


def _footprint_and_ring(
    polygons: DataFrame, res: int, k: int, collect_threshold: int
) -> tuple[DataFrame, DataFrame]:
    """Shared buffer machinery: the rasterized footprint (pinned — it
    feeds the offset fan AND the anti-join probe) and its Chebyshev-k
    dilation ring, both as (polygon_id, tile) frames."""
    check_res(res)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = 1 << res
    fp = (
        rasterize_polygons(polygons, res, collect_threshold=collect_threshold)
        .select("polygon_id", "tile")
        .localCheckpoint(eager=True)
    )
    ix, iy = tile_ixy("tile", n)
    ds = range(-k, k + 1)
    off = stencil([(dx, dy) for dx in ds for dy in ds]).alias("o")
    dil = (
        fp.select("polygon_id", "tile", off)
        .select(
            "polygon_id",
            (ix + F.col("o.dx")).alias("nx"),
            (iy + F.col("o.dy")).alias("ny"),
        )
        .filter(in_grid("nx", "ny", n))
        .select(
            "polygon_id",
            (F.col("nx") * F.lit(n) + F.col("ny")).alias("tile"),
        )
        .distinct()
    )
    ring = dil.join(fp, ["polygon_id", "tile"], "left_anti")
    return fp, ring


def near_miss_visits(
    events: DataFrame,
    polygons: DataFrame,
    res: int,
    k: int = 1,
    collect_threshold: int = 64,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Near-miss traffic audit: events landing in a zone's Chebyshev-k
    buffer RING versus inside the zone itself — the "walked past the
    geofence" number that sizes alert radii and quantifies boundary
    leakage of a zone definition. Cell-granular (an event counts by its
    cell, the rasterize center-inside rule). Returns
    (polygon_id, inside_events, ring_events, ring_milli) with
    ring_milli = 1000 * ring div (inside + ring), 0-row zones omitted.

    Plan: the shared pinned footprint/ring frames, ONE map-side
    combined event histogram, and two cell-key equi-joins of that
    histogram against the small cell frames — the fact table scans
    once."""
    from .tiling import assign_tiles

    fp, ring = _footprint_and_ring(polygons, res, k, collect_threshold)
    hist = (
        assign_tiles(events.select(lat, lon), res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    inside = fp.join(hist, "tile").groupBy("polygon_id").agg(
        F.sum("n").alias("inside_events")
    )
    near = ring.join(hist, "tile").groupBy("polygon_id").agg(
        F.sum("n").alias("ring_events")
    )
    j = inside.join(near, "polygon_id", "full_outer").select(
        "polygon_id",
        F.coalesce("inside_events", F.lit(0)).cast("long").alias("inside_events"),
        F.coalesce("ring_events", F.lit(0)).cast("long").alias("ring_events"),
    )
    return j.filter(F.col("inside_events") + F.col("ring_events") > 0).select(
        "polygon_id", "inside_events", "ring_events",
        F.expr(
            "CAST(1000 * ring_events AS BIGINT) div (inside_events + ring_events)"
        ).alias("ring_milli"),
    )


def region_buffer_cells(
    polygons: DataFrame,
    res: int,
    k: int = 1,
    collect_threshold: int = 64,
) -> DataFrame:
    """Raster buffering — the engine's polygon-buffer analogue of the
    GIS ST_Buffer, done grid-native: dilate each polygon's rasterized
    footprint (center-inside rule, ``rasterize_polygons``) by Chebyshev
    radius ``k`` and report footprint vs buffer-ring cell counts. The
    ring is the "near the zone but not in it" band every geofence alert
    and edge-effect correction needs, exact at cell granularity.
    Returns (polygon_id, n_inside, n_buffer).

    Plan: one rasterize pass (pinned — the footprint feeds the
    (2k+1)^2 fan AND the anti-join probe), a bounded offset fan of
    FOOTPRINT cells only (never the lattice), one distinct and one
    anti-join, all on cell-count-sized frames."""
    fp, ring = _footprint_and_ring(polygons, res, k, collect_threshold)
    inside = fp.groupBy("polygon_id").agg(F.count(F.lit(1)).alias("n_inside"))
    buf = ring.groupBy("polygon_id").agg(F.count(F.lit(1)).alias("n_buffer"))
    return inside.join(buf, "polygon_id", "left").select(
        "polygon_id",
        "n_inside",
        F.coalesce("n_buffer", F.lit(0)).cast("long").alias("n_buffer"),
    )


def bbox_hilbert_ranges(
    spark,
    res: int,
    lat0: float,
    lat1: float,
    lon0: float,
    lon1: float,
) -> DataFrame:
    """Scan-pruning planner for Hilbert-clustered storage: the minimal
    set of CONTIGUOUS Hilbert-key ranges covering a bbox at ``res`` —
    exactly the ranges a reader pushes against per-file hkey min/max
    stats after ``compact_table``'s Hilbert rewrite (few long ranges ==
    few files touched; ``curve_locality`` measures why this beats
    row-major). Returns (range_start, range_end, n_cells), one row per
    maximal run of consecutive keys.

    Plan: the bbox'd lattice is GENERATED (one spark.range — never
    4^res global cells), keyed by the unrolled Hilbert expressions
    (codegen, no shuffle), then one gaps-and-islands pass: a global
    key-order window over the BBOX-SIZED key set (the sketch-window
    justification of tile_coverage_curve) and a range rollup."""
    if lat0 > lat1 or lon0 > lon1:
        raise ValueError(
            f"bbox_hilbert_ranges: inverted bbox ({lat0},{lat1},{lon0},{lon1})"
        )
    if not 1 <= res <= 13:
        raise ValueError(f"res must be in [1, 13], got {res}")
    (ix0, ix1), (iy0, iy1) = (
        v.tolist() for v in _norm_ixy([lat0, lat1], [lon0, lon1], res)
    )
    nx, ny = ix1 - ix0 + 1, iy1 - iy0 + 1
    lattice = spark.range(nx * ny).select(
        (F.lit(ix0) + F.col("id") % nx).alias("ix"),
        (F.lit(iy0) + (F.col("id") / nx).cast("long")).alias("iy"),
    )
    keyed = with_hilbert(lattice, res).select("hkey")
    from pyspark.sql import Window

    w = Window.orderBy(F.col("hkey").asc())
    flagged = keyed.withColumn(
        "__new",
        F.when(
            F.col("hkey") - F.lag("hkey").over(w) == 1, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "__rid",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("__rid")
        .agg(
            F.min("hkey").alias("range_start"),
            F.max("hkey").alias("range_end"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .select("range_start", "range_end", "n_cells")
    )


def dbscan_clusters(
    points: DataFrame,
    radius: float,
    min_pts: int,
    res: int | None = None,
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
    max_iter: int = 25,
) -> DataFrame:
    """Full DBSCAN (Ester et al. 1996) — the proper upgrade of
    ``geo_clusters``' single-linkage: a point is CORE iff its
    radius-``r`` neighborhood (including itself) holds at least
    ``min_pts`` points; clusters are the connected components of the
    core-core neighbor graph; a non-core point within ``r`` of a core
    becomes a BORDER member of that core's cluster (ties to the
    smallest cluster id — the deterministic stand-in for DBSCAN's
    visit-order dependence); everything else is NOISE (cluster_id -1).
    Returns (point_id, cluster_id, role) with role 0=core, 1=border,
    2=noise.

    Plan: ONE cell-blocked ``distance_join`` pair set pinned (it feeds
    the degree count, the core-core edge filter and the border probe),
    the dedup family's pointer-jumping min-label propagation over the
    CORE subgraph only, then two broadcast-sized joins — noise never
    enters any join beyond the degree count."""
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    from .dedup import dedup_clusters

    pairs = (
        distance_join(
            points,
            points.select(
                F.col(id_col).alias("id"),
                F.col(lat).alias("lat"),
                F.col(lon).alias("lon"),
            ),
            radius, res=res, point_id=id_col, point_lat=lat, point_lon=lon,
        )
        .filter(F.col("point_id") != F.col("neighbor_id"))
        .select("point_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    deg = pairs.groupBy("point_id").agg(F.count(F.lit(1)).alias("nn"))
    core = deg.filter(F.col("nn") + 1 >= min_pts).select("point_id")
    core_b = core.withColumnRenamed("point_id", "neighbor_id")
    core_pairs = (
        pairs.join(core, "point_id")
        .join(core_b, "neighbor_id")
        .filter(F.col("point_id") < F.col("neighbor_id"))
    )
    labels = dedup_clusters(core_pairs, "point_id", "neighbor_id",
                            max_iter=max_iter)
    core_lab = core.join(
        labels.withColumnRenamed("doc_id", "point_id"), "point_id", "left"
    ).select(
        "point_id",
        F.coalesce(F.col("cluster_id"), F.col("point_id")).alias("cluster_id"),
    ).localCheckpoint(eager=True)
    all_pts = points.select(F.col(id_col).alias("point_id"))
    border = (
        pairs.join(
            core_lab.select(
                F.col("point_id").alias("neighbor_id"),
                F.col("cluster_id").alias("__cl"),
            ),
            "neighbor_id",
        )
        .join(core, "point_id", "left_anti")
        .groupBy("point_id")
        .agg(F.min("__cl").alias("cluster_id"))
    )
    core_rows = core_lab.select(
        "point_id", "cluster_id", F.lit(0).cast("int").alias("role")
    )
    border_rows = border.select(
        "point_id", "cluster_id", F.lit(1).cast("int").alias("role")
    )
    noise_rows = (
        all_pts.join(core, "point_id", "left_anti")
        .join(border.select("point_id"), "point_id", "left_anti")
        .select(
            "point_id",
            F.lit(-1).cast("long").alias("cluster_id"),
            F.lit(2).cast("int").alias("role"),
        )
    )
    return core_rows.unionByName(border_rows).unionByName(noise_rows)


def cluster_moments(
    points: DataFrame,
    radius: float,
    res: int | None = None,
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """Cluster shape census: exact central second moments and the
    elongation octant of every ``geo_clusters`` component — is a
    cluster a blob, a north-south corridor, a diagonal coastline? The
    principal-axis angle satisfies 2θ = atan2(2·Cxy, Cxx − Cyy); its
    OCTANT needs only the signs of A = Cxx − Cyy and B = 2·Cxy and the
    |A| vs |B| compare — pure integer arithmetic, no atan2 float.
    Moments are computed on per-cluster RE-CENTERED micro-degree
    coordinates (x − min_x per cluster), so n·Sxx − Sx² stays far below
    2^63 at any corpus size with bounded cluster extent. Returns
    (cluster_id, n, cxx_num, cyy_num, cxy_num, octant) where
    C·· = ···_num / n² and octant ∈ [0, 8) indexes the 2θ sector.

    Plan: one ``geo_clusters`` pass (labels pinned), one min rollup per
    cluster joined back (both cluster-count-sized), one moment
    aggregate; the octant is a codegen'd CASE."""
    labels = geo_clusters(
        points, radius, res=res, id_col=id_col, lat=lat, lon=lon
    ).localCheckpoint(eager=True)
    coords = points.select(
        F.col(id_col).alias("point_id"),
        F.floor((F.col(lon) + F.lit(180.0)) * F.lit(float(scale)))
        .cast("long")
        .alias("x"),
        F.floor((F.col(lat) + F.lit(90.0)) * F.lit(float(scale)))
        .cast("long")
        .alias("y"),
    ).join(labels, "point_id")
    mins = coords.groupBy("cluster_id").agg(
        F.min("x").alias("mx"), F.min("y").alias("my")
    )
    c = coords.join(mins, "cluster_id").select(
        "cluster_id",
        (F.col("x") - F.col("mx")).alias("dx"),
        (F.col("y") - F.col("my")).alias("dy"),
    )
    m = c.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    cxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    a = cxx - cyy
    b = F.lit(2) * cxy
    octant = (
        F.when((a >= 0) & (b >= 0) & (b <= a), F.lit(0))
        .when((a >= 0) & (b >= 0), F.lit(1))
        .when((a < 0) & (b >= 0) & (b > -a), F.lit(2))
        .when((a < 0) & (b >= 0), F.lit(3))
        .when((a < 0) & (b < 0) & (-b <= -a), F.lit(4))
        .when((a < 0) & (b < 0), F.lit(5))
        .when((a >= 0) & (b < 0) & (-b > a), F.lit(6))
        .otherwise(F.lit(7))
    )
    return m.select(
        "cluster_id",
        "n",
        cxx.alias("cxx_num"),
        cyy.alias("cyy_num"),
        cxy.alias("cxy_num"),
        octant.cast("int").alias("octant"),
    )


def cellset_jaccard(
    events: DataFrame,
    pairs: DataFrame,
    res: int,
    entity_col: str = "user_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Home-range overlap: exact Jaccard of two entities' visited-cell
    sets for each candidate pair — the set-overlap sibling of
    ``cell_hausdorff`` (distance says "how far apart do they roam";
    Jaccard says "how much of the same ground do they share"), the
    co-traveler / duplicate-device signal. Returns
    (a, b, n_a, n_b, n_inter, jacc_milli) with jacc_milli =
    1000 * inter div (n_a + n_b - inter) — exact integers.

    Plan: one distinct (entity, cell) pass pinned (it feeds sizes and
    both intersection sides), one equi-join of the pair list against
    each side on the CELL key via the entity join, one rollup —
    bounded by candidate pairs x footprints, never all entity pairs."""
    cells = (
        events.select(
            F.col(entity_col).alias("entity"),
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = cells.groupBy("entity").agg(F.count(F.lit(1)).alias("nc"))
    p = pairs.select("a", "b")
    inter = (
        p.join(cells.select(F.col("entity").alias("a"), "tile"), "a")
        .join(cells.select(F.col("entity").alias("b"), "tile"), ["b", "tile"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        p.join(sizes.select(F.col("entity").alias("a"),
                            F.col("nc").alias("n_a")), "a")
        .join(sizes.select(F.col("entity").alias("b"),
                           F.col("nc").alias("n_b")), "b")
        .join(inter, ["a", "b"], "left")
        .select(
            "a", "b", "n_a", "n_b",
            F.coalesce("n_inter", F.lit(0)).cast("long").alias("n_inter"),
        )
    )
    return j.select(
        "a", "b", "n_a", "n_b", "n_inter",
        F.expr(
            "CAST(1000 * n_inter AS BIGINT) div (n_a + n_b - n_inter)"
        ).alias("jacc_milli"),
    )


def trip_od(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    max_gap_s: int,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Trip-level origin-destination matrix: one (origin, destination)
    row per gap-split TRIP (first cell -> last cell), not per
    consecutive step — the event-level ``od_flows`` says which cells
    touch; this says where journeys actually start and end, the matrix
    a transit planner wants. Stationary trips (origin == destination)
    are excluded. Returns (from_tile, to_tile, n_trips, n_entities).

    Plan: the trip_segments walk (one entity-keyed window shuffle:
    lag gap flag + running ordinal), ONE groupBy per (entity, trip)
    taking endpoint cells via lexicographic struct min/max on the
    unique (ts, tiebreak) key, then a map-side-combined matrix
    rollup."""
    if max_gap_s < 1:
        raise ValueError(f"max_gap_s must be >= 1, got {max_gap_s}")
    from pyspark.sql import Window

    # walk by the full ts, then the tiebreak: the streaming twin's order
    order = [F.col("__ts").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    base = events.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("__ts"),
        F.unix_timestamp(F.col(ts_col)).alias("__ep"),
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    )
    w = Window.partitionBy("entity").orderBy(*order)
    walked = base.withColumn("__prev", F.lag("__ep").over(w)).withColumn(
        "trip_id",
        F.sum(
            (
                F.col("__prev").isNull()
                | ((F.col("__ep") - F.col("__prev")) > max_gap_s)
            ).cast("long")
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    key = [F.col("__ts"), *([F.col(order_tiebreak)] if order_tiebreak else [])]
    per = walked.groupBy("entity", "trip_id").agg(
        F.min(F.struct(*key, F.col("tile"))).alias("__f"),
        F.max(F.struct(*key, F.col("tile"))).alias("__l"),
    )
    return (
        per.select(
            "entity",
            F.col("__f.tile").alias("from_tile"),
            F.col("__l.tile").alias("to_tile"),
        )
        .filter(F.col("from_tile") != F.col("to_tile"))
        .groupBy("from_tile", "to_tile")
        .agg(
            F.count(F.lit(1)).alias("n_trips"),
            F.countDistinct("entity").alias("n_entities"),
        )
    )


def tile_rose(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-cell movement rose — the flow-FIELD version of
    ``direction_rose``: each consecutive displacement is attributed to
    the cell it STARTS in and lands in one of 8 octants via the same
    three exact comparisons (``4*(dlat>=0) + 2*(dlon>=0) +
    (|dlat|>|dlon|)`` — no atan2 float anywhere). The per-cell octant
    histogram is the arrow-map every traffic visualization draws, and
    its dominant octant is the cell's prevailing flow direction.
    Returns (tile, octant, n_moves, n_entities).

    One lag window (entity-key shuffle of narrow columns) + one
    map-side-combined groupBy on (cell, octant) — key space bounded by
    occupied cells x 8."""
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    df = (
        events.withColumn("__dlat", F.col(lat) - F.lag(lat).over(w))
        .withColumn("__dlon", F.col(lon) - F.lag(lon).over(w))
        .withColumn("__ptile", F.lag(
            tile_key_col(F.col(lat), F.col(lon), res)
        ).over(w))
        .filter(F.col("__dlat").isNotNull())
    )
    octant = (
        F.when(F.col("__dlat") >= 0, 4).otherwise(0)
        + F.when(F.col("__dlon") >= 0, 2).otherwise(0)
        + F.when(F.abs("__dlat") > F.abs("__dlon"), 1).otherwise(0)
    )
    return (
        df.withColumn("__oct", octant)
        .groupBy(F.col("__ptile").alias("tile"), F.col("__oct").alias("octant"))
        .agg(
            F.count(F.lit(1)).alias("n_moves"),
            F.countDistinct(entity_col).alias("n_entities"),
        )
    )


def line_density(
    traj: DataFrame,
    entity_col: str,
    ts_col: str,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Line-density raster of trajectory SEGMENTS: every cell a segment
    between consecutive pings passes through (not just the ping cells —
    heatmap_tiles' blind spot), with traversal and entity counts. The
    GIS "line density" surface behind corridor detection and road-usage
    weighting. Returns (tile, n_segments, n_entities); a cell crossed
    twice by one segment counts once for that segment.

    Segment cells come from integer-interpolated sampling in CELL
    space: with s = Chebyshev span in cells, sample i of s+1 lands at
    ((x0*(s-i) + x1*i) div s, ...) — pure integer, adjacent samples
    move at most one cell per axis, and s <= 2*2^res caps per-segment
    fan-out by the GRID, not the data (no teleport guard needed).

    Plan: one lag window per entity, a sequence/explode fan (codegen),
    a per-segment distinct, one cell rollup."""
    from pyspark.sql import Window

    from .tiling import assign_tiles

    n = 1 << res
    order = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(entity_col).orderBy(*order)
    t = assign_tiles(
        traj.select(entity_col, ts_col, *( [order_tiebreak] if order_tiebreak else [] ), lat, lon),
        res, lat=lat, lon=lon,
    ).select(entity_col, *( [order_tiebreak] if order_tiebreak else [] ), ts_col, "tile")
    seg_key = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    x1, y1 = tile_ixy("tile", n)
    x0, y0 = tile_ixy(F.lag("tile").over(w), n)
    g = t.select(
        F.col(entity_col).alias("__e"),
        F.struct(*seg_key).alias("__seg"),
        x1.alias("x1"), y1.alias("y1"), x0.alias("x0"), y0.alias("y0"),
    ).filter(F.col("x0").isNotNull())
    seg = g.withColumn(
        "s",
        F.greatest(
            F.abs(F.col("x1") - F.col("x0")), F.abs(F.col("y1") - F.col("y0"))
        ),
    )
    cells = (
        seg.select(
            "__e", "__seg", "x0", "y0", "x1", "y1", "s",
            F.explode(F.sequence(F.lit(0), F.col("s"))).alias("i"),
        )
        .select(
            "__e",
            "__seg",
            F.expr(
                "CASE WHEN s = 0 THEN x0 ELSE (x0*(s-i) + x1*i) div s END"
            ).alias("cx"),
            F.expr(
                "CASE WHEN s = 0 THEN y0 ELSE (y0*(s-i) + y1*i) div s END"
            ).alias("cy"),
        )
        .distinct()
    )
    return (
        cells.groupBy((F.col("cx") * n + F.col("cy")).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.countDistinct("__e").alias("n_entities"),
        )
    )


def msd_curve(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    max_lag: int = 4,
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """Step-lag mean-squared-displacement curve — the diffusion-law
    probe of mobility physics (MSD ~ lag^alpha: alpha 1 = diffusive,
    2 = ballistic, <1 = confined): for every entity and step lag
    k = 1..max_lag, the exact integer sum of squared micro-degree
    displacements between pings k steps apart and the pair count. The
    ensemble curve is sum(sum_disp2)/sum(n_pairs) per lag downstream;
    per-entity integer sums stay under 2^63 for region-scale extents
    (|d| <= 360e6 => d^2 <= 1.3e17), which is why the rollup is keyed
    by entity and never global here. Returns
    (entity, lag_k, n_pairs, sum_disp2).

    Plan: ONE window exchange+sort per entity serves all max_lag lead
    columns; the per-lag stack is an explode over a codegen'd struct
    array — no joins, no second scan."""
    if not 1 <= max_lag <= 16:
        raise ValueError(f"max_lag must be in [1, 16], got {max_lag}")
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    base = events.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col),
        F.floor(F.col(lat) * F.lit(float(scale))).cast("long").alias("__x"),
        F.floor(F.col(lon) * F.lit(float(scale))).cast("long").alias("__y"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    )
    w = Window.partitionBy("entity").orderBy(*order)
    # generators may not contain window expressions: materialize the
    # lead deltas in one window stage, then explode plain columns
    proj = base.select(
        "entity",
        *[
            (F.lead("__x", k).over(w) - F.col("__x")).alias(f"__dx{k}")
            for k in range(1, max_lag + 1)
        ],
        *[
            (F.lead("__y", k).over(w) - F.col("__y")).alias(f"__dy{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stacked = proj.select(
        "entity",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag_k"),
                        (
                            F.col(f"__dx{k}") * F.col(f"__dx{k}")
                            + F.col(f"__dy{k}") * F.col(f"__dy{k}")
                        ).alias("d2"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("__s"),
    ).select("entity", F.col("__s.lag_k").alias("lag_k"), F.col("__s.d2").alias("d2"))
    return (
        stacked.filter(F.col("d2").isNotNull())
        .groupBy("entity", "lag_k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("d2").alias("sum_disp2"),
        )
    )


def knox_stat(
    events: DataFrame,
    ds_micro: int,
    dt_sec: int,
    id_col: str = "event_id",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
    max_cell: int = 20_000,
) -> DataFrame:
    """Knox space-time interaction statistic (Knox 1964, the classic
    epidemiology cluster test): over all C(n,2) event pairs count those
    close in SPACE (integer micro-degree Chebyshev distance <= ds_micro),
    close in TIME (|epoch seconds| <= dt_sec), and close in BOTH — the
    Knox statistic. Under the independence null the expected joint count
    is ns * nt / C(n,2); the result carries it as the exact rational
    (e_num, e_den) = (2*ns*nt, n*(n-1)) so no float enters the gate.
    Returns ONE row (n_events, ns_pairs, nt_pairs, nst_pairs, e_num,
    e_den). nst >> e_num/e_den signals spatio-temporal clustering
    (outbreaks, bursts that move).

    Plan — never all-pairs, and (r8) never a materialized pair ROW:
    * SPACE: points block into ds-sized cells on SHIFTED non-negative
      micro-degrees (truncating int division == floor only there); one
      side fans over the 3x3 neighbor ring and a COGROUP on the cell key
      hands each cell its fan candidates (the fanned copy hits the
      partner's cell at one offset; id_a < id_b kills the mirror), where
      the exact Chebyshev/time predicates run as chunked NumPy
      broadcasts over Arrow columns, emitting one partial (ns, nst) row
      per cell. Both cogroup sides are hash-partitioned to
      ``kernel_width`` so the cells spread over every core. Per-cell
      occupancy is gated at ``max_cell`` (counted, loud) because the
      pair work is sum of occupancy^2 over cells.
    * TIME: a distinct-timestamp histogram plus one single-partition
      sort + cumsum + searchsorted pass (count over (t, t+dt] per
      distinct t) — O(distinct ts) state, O(n log n) work; same-second
      pairs fold in as C(cnt,2). No pair ever materializes for the time
      margin. (The previous global range window was O(rows x frame):
      Spark re-aggregates sliding range frames from scratch per row.)
    * Counts are exact int64; 2*ns*nt overflows past ~2^63 — ANSI mode
      raises loudly there; widen to DECIMAL(38,0) for corpora past
      ~3e9 close pairs.
    """
    if ds_micro < 1 or dt_sec < 1:
        raise ValueError(
            f"knox_stat: ds_micro and dt_sec must be >= 1, got "
            f"({ds_micro}, {dt_sec})"
        )
    from .spread import kernel_width, scan_spread

    x = micro_deg(lat)
    y = micro_deg(lon)
    pts = events.select(
        F.col(id_col).alias("id"),
        x.alias("x"),
        y.alias("y"),
        F.unix_timestamp(F.col(ts_col)).alias("t"),
    ).withColumns(
        {
            "cx": F.expr(f"div(x + 180000000, {ds_micro})"),
            "cy": F.expr(f"div(y + 180000000, {ds_micro})"),
        }
    )
    # single-row-group fixture scans read as ONE task; rebalance before
    # the checkpoint so the fan/histogram passes parallelize (r8)
    pts = scan_spread(pts)
    if max_cell is not None:
        pts = pts.localCheckpoint(eager=True)
        worst = (
            pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") > max_cell)
            .orderBy(F.col("occ").desc()).limit(1).collect()
        )
        if worst:
            r = worst[0]
            raise ValueError(
                f"knox_stat: cell ({r['cx']},{r['cy']}) holds {r['occ']} "
                f"events (> max_cell={max_cell}); the spatial candidate "
                "join is quadratic in cell occupancy — raise ds_micro "
                "resolution or pre-thin (tile_cap_sample), or raise "
                "max_cell deliberately (None disables the gate)"
            )
    offs = stencil(QUEEN).alias("o")
    fan = pts.select(
        F.col("id").alias("a_id"), F.col("x").alias("a_x"),
        F.col("y").alias("a_y"), F.col("t").alias("a_t"), "cx", "cy", offs
    ).select(
        "a_id", "a_x", "a_y", "a_t",
        (F.col("cx") + F.col("o.dx")).alias("fx"),
        (F.col("cy") + F.col("o.dy")).alias("fy"),
    )
    # SPACE pair counts: the fan-join formulation materialized every
    # candidate (fan row, partner) pair through a sort-merge join —
    # sum-of-occupancy^2 rows (1.2e9 at sf1, >600 s) just to feed two
    # conditional COUNTS. The counts need no pair rows: cogroup the fan
    # side and the cell points per cell key and evaluate the Chebyshev /
    # time predicates as chunked NumPy broadcasts, emitting ONE partial
    # (ns, nst) row per cell (r8). Same candidate set, same predicates,
    # exact integer counts; the only shuffle is the 9x fan of narrow
    # rows into the cogroup.
    def _cell_counts(left, right):
        import pyarrow as pa

        ns = nst = 0
        if left.num_rows and right.num_rows:
            a_id, a_x, a_y, a_t = (
                left.column(c).to_numpy().astype(np.int64, copy=False)
                for c in ("a_id", "a_x", "a_y", "a_t")
            )
            b_id, b_x, b_y, b_t = (
                right.column(c).to_numpy().astype(np.int64, copy=False)
                for c in ("id", "x", "y", "t")
            )
            # chunk the fan side so the pair matrix stays ~10^7 cells even
            # at the max_cell gate limit
            step = max(1, 10_000_000 // len(b_id))
            for i in range(0, len(a_id), step):
                sl = slice(i, i + step)
                near_s = (
                    (a_id[sl, None] < b_id[None, :])
                    & (np.abs(a_x[sl, None] - b_x[None, :]) <= ds_micro)
                    & (np.abs(a_y[sl, None] - b_y[None, :]) <= ds_micro)
                )
                ns += int(near_s.sum())
                nst += int(
                    (near_s & (np.abs(a_t[sl, None] - b_t[None, :]) <= dt_sec)).sum()
                )
        return pa.table({"ns": [ns], "nst": [nst]})

    # both sides pinned to kernel_width on the cogroup key: AQE would
    # coalesce this few-KB exchange to ONE task, and the per-cell NumPy
    # work then runs on one core; the two hash partitionings match, so
    # the cogroup adds no exchange of its own
    kw = kernel_width(events.sparkSession)
    sp = (
        fan.repartition(kw, "fx", "fy").groupBy("fx", "fy")
        .cogroup(pts.repartition(kw, "cx", "cy").groupBy("cx", "cy"))
        .applyInArrow(_cell_counts, schema="ns long, nst long")
        .agg(
            # coalesce: zero candidate pairs must report 0 like the
            # oracle's count(*) FILTER, not NULL (round-7 ADVICE)
            F.coalesce(F.sum("ns"), F.lit(0)).cast("long").alias("ns"),
            F.coalesce(F.sum("nst"), F.lit(0)).cast("long").alias("nst"),
        )
    )
    # TIME margin: the O(distinct ts) histogram is unchanged, but the
    # global range window is gone — Spark re-aggregates a sliding range
    # frame from scratch per row, O(rows x frame), and with dt_sec wide
    # relative to the time span that is O(rows^2) (>600 s at sf1). One
    # single-partition NumPy pass (sort + cumsum + searchsorted) computes
    # the identical per-timestamp "later" counts in O(n log n) (r8).
    hist = pts.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))

    def _nt_kernel(batches):
        import pyarrow as pa

        ts, cs = [], []
        for b in batches:
            ts.append(b.column("t").to_numpy(zero_copy_only=False).astype(np.int64))
            cs.append(b.column("cnt").to_numpy(zero_copy_only=False).astype(np.int64))
        n = nt = 0
        if ts:
            t = np.concatenate(ts)
            c = np.concatenate(cs)
            o = np.argsort(t, kind="stable")
            t, c = t[o], c[o]
            cum = np.cumsum(c)
            # later_i = # events with t in (t_i, t_i + dt_sec]
            hi = np.searchsorted(t, t + dt_sec, side="right") - 1
            later = cum[hi] - cum
            nt = int((c * later).sum() + (c * (c - 1) // 2).sum())
            # the histogram holds every event once: its total is count(*)
            n = int(c.sum())
        yield pa.RecordBatch.from_pydict({"n": [n], "nt": [nt]})

    tm = (
        hist.repartition(1)
        .mapInArrow(_nt_kernel, schema="n long, nt long")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("nt"),
        )
    )
    return (
        tm.crossJoin(sp)
        .select(
            F.col("n").alias("n_events"),
            F.col("ns").alias("ns_pairs"),
            F.col("nt").alias("nt_pairs"),
            F.col("nst").alias("nst_pairs"),
            (F.lit(2) * F.col("ns") * F.col("nt")).alias("e_num"),
            (F.col("n") * (F.col("n") - F.lit(1))).alias("e_den"),
        )
    )


def frechet_dist(
    events: DataFrame,
    pairs: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    max_len: int = 2_000,
    mode: str = "frechet",
) -> DataFrame:
    """Discrete Fréchet distance (Eiter & Mannila 1994) between two
    entities' ORDERED trajectories under the integer micro-degree
    Chebyshev metric — the leash-length similarity that respects visit
    ORDER, where ``cell_hausdorff`` only compares visited SETS (two
    entities walking the same loop in opposite directions are
    Hausdorff-identical but Fréchet-far). Computed for the candidate
    ``pairs`` (typically ``co_visitation`` output, never all entity
    pairs). Returns (a, b, n_a, n_b, frechet_d) with the exact integer
    coupling distance

        c(i,j) = max(d(i,j), min(c(i-1,j), c(i,j-1), c(i-1,j-1))).

    Plan: one window-free sequence assembly (sort_array over
    (ts, event_id) structs — merge-order independent), candidate pins,
    then a per-pair Arrow kernel running the O(n*m) column-sweep DP —
    inherently sequential (the simplify_radial precedent), integers
    only, bounded by the counted ``max_len`` gate: per-pair cost is
    n*m <= max_len^2, so callers size the candidate set, not the
    operator. The DuckDB oracle replays the identical DP as an
    anti-diagonal recursive CTE."""
    if max_len is not None and max_len < 2:
        raise ValueError(f"max_len must be >= 2, got {max_len}")
    if mode not in ("frechet", "dtw"):
        raise ValueError(f"mode must be 'frechet' or 'dtw', got {mode!r}")
    x = micro_deg(lat)
    y = micro_deg(lon)
    seqs = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(id_col).alias("eid"),
                x.alias("x"),
                y.alias("y"),
            ).alias("s"),
        )
        .groupBy("entity")
        .agg(F.sort_array(F.collect_list("s")).alias("seq"))
        .select(
            "entity",
            F.expr("transform(seq, p -> p.x)").alias("xs"),
            F.expr("transform(seq, p -> p.y)").alias("ys"),
        )
    )
    if max_len is not None:
        seqs = seqs.localCheckpoint(eager=True)
        worst = (
            seqs.select("entity", F.size("xs").alias("n"))
            .filter(F.col("n") > max_len)
            .orderBy(F.col("n").desc()).limit(1).collect()
        )
        if worst:
            r = worst[0]
            raise ValueError(
                f"frechet_dist: entity {r['entity']} has {r['n']} points "
                f"(> max_len={max_len}); the per-pair DP is n*m — "
                "resample the trajectory (trajectory_resample) or raise "
                "max_len deliberately (None disables the gate)"
            )
    p = pairs.select("a", "b").localCheckpoint(eager=True)
    j = (
        p.join(
            seqs.select(
                F.col("entity").alias("a"),
                F.col("xs").alias("ax"), F.col("ys").alias("ay"),
            ),
            "a",
        )
        .join(
            seqs.select(
                F.col("entity").alias("b"),
                F.col("xs").alias("bx"), F.col("ys").alias("by"),
            ),
            "b",
        )
    )

    dtw = mode == "dtw"
    out_col = "dtw_d" if dtw else "frechet_d"

    def kernel(batches):
        for pdf in batches:
            recs = []
            for a, b, ax, ay, bx, by in zip(
                pdf["a"], pdf["b"], pdf["ax"], pdf["ay"], pdf["bx"], pdf["by"]
            ):
                axv = np.asarray(ax, dtype=np.int64)
                ayv = np.asarray(ay, dtype=np.int64)
                bxv = np.asarray(bx, dtype=np.int64)
                byv = np.asarray(by, dtype=np.int64)
                n, m = len(axv), len(bxv)
                d = np.maximum(
                    np.abs(axv[:, None] - bxv[None, :]),
                    np.abs(ayv[:, None] - byv[None, :]),
                )
                # column sweep; the i-recurrence is inherently sequential
                col = (np.cumsum(d[:, 0]) if dtw
                       else np.maximum.accumulate(d[:, 0]))
                for jj in range(1, m):
                    pre = col.copy()
                    pre[1:] = np.minimum(col[1:], col[:-1])
                    new = np.empty(n, dtype=np.int64)
                    dj = d[:, jj]
                    prev = dj[0] + col[0] if dtw else max(dj[0], col[0])
                    new[0] = prev
                    for ii in range(1, n):
                        best = min(prev, pre[ii])
                        prev = dj[ii] + best if dtw else max(dj[ii], best)
                        new[ii] = prev
                    col = new
                recs.append((a, b, n, m, int(col[-1])))
            yield pd.DataFrame(
                recs, columns=["a", "b", "n_a", "n_b", out_col]
            )

    return j.mapInPandas(
        kernel,
        schema=f"a long, b long, n_a long, n_b long, {out_col} long",
    )


def dtw_dist(
    events: DataFrame,
    pairs: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    max_len: int = 2_000,
) -> DataFrame:
    """Dynamic-time-warping trajectory distance — ``frechet_dist``'s
    sum-semiring sibling (Berndt & Clifford 1994): the minimal SUMMED
    integer Chebyshev cost over all monotone couplings,

        c(i,j) = d(i,j) + min(c(i-1,j), c(i,j-1), c(i-1,j-1)),

    where Fréchet takes the max. DTW rewards overall shape agreement
    (one bad moment doesn't dominate), Fréchet bounds the worst moment —
    curation pipelines use DTW for clustering commute patterns and
    Fréchet for guarantee-style dedup. Same sequence assembly, counted
    ``max_len`` gate, per-pair Arrow kernel and recursive-CTE oracle
    shape; path sums stay under 2^63 to ~4e11 steps at worst-case
    planetary Chebyshev spans. Returns (a, b, n_a, n_b, dtw_d)."""
    return frechet_dist(
        events, pairs, entity_col=entity_col, ts_col=ts_col, id_col=id_col,
        lat=lat, lon=lon, max_len=max_len, mode="dtw",
    )


def variogram_anisotropy(
    points: DataFrame,
    res: int,
    lag: int = 1,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Directional ANISOTROPY of the density field: the lag-``lag``
    semivariance computed separately along the E-W and N-S axes over
    occupied cells, plus their ratio as an exact rational — the
    geostatistics screening test for direction-dependent spatial
    structure (a coastline or a commuting corridor makes one axis
    noisier than the other; isotropy means ratio ~ 1, and fitting an
    isotropic variogram (``semivariogram``) to anisotropic data
    understates one axis' variance). Returns ONE row
    (lag, n_ew, sse_ew, n_ns, sse_ns, aniso_num, aniso_den) with
    gamma_ew / gamma_ns = aniso_num / aniso_den = (sse_ew * n_ns) /
    (sse_ns * n_ew) — the 2s cancel.

    Plan: one map-side-combined histogram, one self-equi-join per axis
    offset (each unordered pair exactly once — positive offsets only),
    two single-row aggregates cross-joined. Histogram-scale everywhere."""
    check_res(res)
    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    gx, gy = grid_ixy(lat, lon, res)
    hist = (
        points.select(
            gx.alias("ix"),
            gy.alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # two self-joins share one evaluation
    )

    def _axis(dx: int, dy: int, nn: str, ss: str) -> DataFrame:
        a = hist.select(
            F.col("ix").alias("ax"), F.col("iy").alias("ay"),
            F.col("cnt").alias("ca"),
        )
        b = hist.select(
            F.col("ix").alias("bx"), F.col("iy").alias("by"),
            F.col("cnt").alias("cb"),
        )
        d = F.col("ca") - F.col("cb")
        return (
            a.join(
                b,
                (F.col("bx") == F.col("ax") + dx)
                & (F.col("by") == F.col("ay") + dy),
            )
            .agg(
                F.count(F.lit(1)).alias(nn),
                F.coalesce(F.sum(d * d), F.lit(0)).alias(ss),
            )
        )
    ew = _axis(lag, 0, "n_ew", "sse_ew")
    ns = _axis(0, lag, "n_ns", "sse_ns")
    return (
        ew.crossJoin(ns)
        .select(
            F.lit(lag).cast("long").alias("lag"),
            "n_ew", "sse_ew", "n_ns", "sse_ns",
            (F.col("sse_ew") * F.col("n_ns")).alias("aniso_num"),
            (F.col("sse_ns") * F.col("n_ew")).alias("aniso_den"),
        )
    )


def simplify_dp(
    events: DataFrame,
    eps_micro: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    max_len: int = 50_000,
) -> DataFrame:
    """Douglas-Peucker polyline simplification per entity — THE classic
    cartographic generalization (Douglas & Peucker 1973), exact-integer
    flavor: keep both endpoints, find the interior point farthest from
    the chord by PERPENDICULAR distance, split there when it exceeds
    ``eps_micro``, recurse. All comparisons are exact:
    dev_perp > eps  <=>  cross^2 > eps^2 * |chord|^2 with
    cross = dx*(py-ay) - dy*(px-ax) in micro-degrees (arbitrary
    precision Python ints in the kernel — cross^2 exceeds int64 at
    continental spans); a zero-length chord degrades to squared
    euclidean point distance. Ties keep the SMALLEST index — the
    deterministic stand-in for implementation-defined argmax. Returns
    the kept points (entity, idx, x, y) with idx the 0-based position
    in the (ts, event_id)-ordered trajectory.

    Where ``simplify_radial`` drops points by chained distance (O(n),
    no lookback), DP preserves SHAPE extremes — the standard trade.
    Plan: one sequence assembly, counted ``max_len`` gate, then a
    per-entity bounded Arrow kernel (inherently sequential recursion,
    the simplify_radial precedent; worst case O(n^2) per entity). The
    DuckDB oracle replays the recursion as a segment-splitting
    recursive CTE with an exact lexicographic (dev^2, -idx) argmax."""
    if eps_micro < 0:
        raise ValueError(f"eps_micro must be >= 0, got {eps_micro}")
    if max_len is not None and max_len < 2:
        raise ValueError(f"max_len must be >= 2, got {max_len}")
    x = micro_deg(lat)
    y = micro_deg(lon)
    seqs = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(id_col).alias("eid"),
                x.alias("x"),
                y.alias("y"),
            ).alias("s"),
        )
        .groupBy("entity")
        .agg(F.sort_array(F.collect_list("s")).alias("seq"))
        .select(
            "entity",
            F.expr("transform(seq, p -> p.x)").alias("xs"),
            F.expr("transform(seq, p -> p.y)").alias("ys"),
        )
    )
    if max_len is not None:
        seqs = seqs.localCheckpoint(eager=True)
        worst = (
            seqs.select("entity", F.size("xs").alias("n"))
            .filter(F.col("n") > max_len)
            .orderBy(F.col("n").desc()).limit(1).collect()
        )
        if worst:
            r = worst[0]
            raise ValueError(
                f"simplify_dp: entity {r['entity']} has {r['n']} points "
                f"(> max_len={max_len}); the split recursion is O(n^2) "
                "worst case — pre-thin (trajectory_resample) or raise "
                "max_len deliberately (None disables the gate)"
            )
    eps2 = int(eps_micro) * int(eps_micro)

    def kernel(batches):
        for pdf in batches:
            recs = []
            for ent, xs, ys in zip(pdf["entity"], pdf["xs"], pdf["ys"]):
                px = [int(v) for v in xs]
                py = [int(v) for v in ys]
                n = len(px)
                keep = [False] * n
                keep[0] = keep[-1] = True
                stack = [(0, n - 1)]
                while stack:
                    i0, i1 = stack.pop()
                    if i1 - i0 < 2:
                        continue
                    ax, ay, bx, by = px[i0], py[i0], px[i1], py[i1]
                    dx, dy = bx - ax, by - ay
                    l2 = dx * dx + dy * dy
                    best, bestv = -1, -1
                    for i in range(i0 + 1, i1):
                        if l2:
                            c = dx * (py[i] - ay) - dy * (px[i] - ax)
                            v = c * c
                        else:
                            ex, ey = px[i] - ax, py[i] - ay
                            v = ex * ex + ey * ey
                        if v > bestv:
                            bestv, best = v, i
                    if bestv > (eps2 * l2 if l2 else eps2):
                        keep[best] = True
                        stack.append((i0, best))
                        stack.append((best, i1))
                recs.extend(
                    (ent, i, px[i], py[i]) for i in range(n) if keep[i]
                )
            yield pd.DataFrame(recs, columns=["entity", "idx", "x", "y"])

    return seqs.mapInPandas(
        kernel, schema="entity long, idx long, x long, y long"
    )


def path_crossings(
    events: DataFrame,
    pairs: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Route-crossing census for candidate entity pairs: how many times
    do two trajectories PROPERLY cross (segment interiors intersect, the
    exact computational-geometry predicate — four integer cross-product
    orientation tests, strict signs, so touching endpoints and collinear
    overlap deterministically do NOT count)? Crossing paths with few
    shared cells signal perpendicular flows (bridges, gates) that
    co-visitation misses. Returns (a, b, n_seg_pairs, n_crossings).

    Plan: per-entity consecutive segments from one lag window in integer
    micro-degrees, candidate pins, then a within-pair segment equi-join
    — cost is sum over pairs of n_a * n_b segment pairs, so callers
    bound the candidate slice (the frechet_dist contract). Everything is
    a column expression (JVM codegen, no kernel); the oracle replays the
    identical predicate."""
    from pyspark.sql import Window

    x = micro_deg(lat)
    y = micro_deg(lon)
    w = Window.partitionBy("entity").orderBy("ts", "eid")
    segs = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("eid"),
            x.alias("x2"),
            y.alias("y2"),
        )
        .withColumns(
            {
                "x1": F.lag("x2").over(w),
                "y1": F.lag("y2").over(w),
            }
        )
        .filter(F.col("x1").isNotNull())
        .select("entity", "x1", "y1", "x2", "y2")
    )
    p = pairs.select("a", "b").localCheckpoint(eager=True)
    sa = segs.select(
        F.col("entity").alias("a"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.col("x2").alias("ax2"), F.col("y2").alias("ay2"),
    )
    sb = segs.select(
        F.col("entity").alias("b"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"), F.col("y2").alias("by2"),
    )

    def cross(ox, oy, px_, py_, qx, qy):
        return (F.col(px_) - F.col(ox)) * (F.col(qy) - F.col(oy)) - (
            F.col(py_) - F.col(oy)
        ) * (F.col(qx) - F.col(ox))

    d1 = cross("bx1", "by1", "bx2", "by2", "ax1", "ay1")
    d2 = cross("bx1", "by1", "bx2", "by2", "ax2", "ay2")
    d3 = cross("ax1", "ay1", "ax2", "ay2", "bx1", "by1")
    d4 = cross("ax1", "ay1", "ax2", "ay2", "bx2", "by2")
    crossing = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )
    return (
        p.join(sa, "a")
        .join(sb, "b")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_seg_pairs"),
            F.sum(F.when(crossing, F.lit(1)).otherwise(F.lit(0)))
            .cast("long").alias("n_crossings"),
        )
    )


def map_match_viterbi(
    events: DataFrame,
    polygons: DataFrame,
    lambda_switch: int,
    top_c: int = 3,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    broadcast_threshold: int = 100_000,
    max_len: int = 50_000,
) -> DataFrame:
    """HMM map matching (Newson & Krumm 2009, integer-exact flavor):
    instead of snapping every point independently to its nearest
    boundary segment (``snap_to_boundary``, which ping-pongs between
    near-parallel borders on noisy traces), choose per ENTITY the
    segment sequence minimizing

        sum of snap d2 (emission)  +  lambda_switch per segment change
        (transition)

    over the ``top_c`` nearest candidate segments per point — the
    Viterbi decode of the standard sticky-matching HMM. All costs are
    exact integers (the snap_to_boundary d2 contract); every tie is
    broken deterministically: candidate rank by (d2, polygon_id,
    seg_idx), predecessor by min cost then min "pid#seg" key, terminal
    state by (cost, polygon_id, seg_idx). Returns one row per event:
    (entity, eid, polygon_id, seg_idx, d2).

    Plan: candidate scoring is the broadcast segment cross-join + one
    per-event top-c window (boundary dims are small by nature — counted
    and gated like snap_to_boundary); the decode is a per-entity Arrow
    kernel over top_c^2 * n transitions (inherently sequential, the
    coupling-DP precedent), with the counted ``max_len`` gate. The
    DuckDB oracle replays the decode as a forward recursive CTE with
    argmin backpointers plus a backward path-following recursion."""
    from pyspark.sql import Window

    if lambda_switch < 0:
        raise ValueError(f"lambda_switch must be >= 0, got {lambda_switch}")
    if top_c < 1:
        raise ValueError(f"top_c must be >= 1, got {top_c}")
    segs_raw = polygons.select(
        "polygon_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(ring) - 1), i -> struct("
                "ring[i].lat AS y1, ring[i].lon AS x1, "
                "ring[CAST((i + 1) % size(ring) AS INT)].lat AS y2, "
                "ring[CAST((i + 1) % size(ring) AS INT)].lon AS x2))"
            )
        ).alias("seg_idx", "__s"),
    ).select(
        "polygon_id", "seg_idx",
        micro_deg("__s.x1").alias("x1"),
        micro_deg("__s.y1").alias("y1"),
        micro_deg("__s.x2").alias("x2"),
        micro_deg("__s.y2").alias("y2"),
    )
    n_segs = segs_raw.count()
    if n_segs > broadcast_threshold:
        raise ValueError(
            f"map_match_viterbi: {n_segs} segments exceed the broadcast "
            f"threshold {broadcast_threshold}; band segments to cells "
            "for huge road graphs"
        )
    pts = events.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("eid"),
        micro_deg(lon).alias("x0"),
        micro_deg(lat).alias("y0"),
    )
    if max_len is not None:
        worst = (
            pts.groupBy("entity").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_len)
            .orderBy(F.col("n").desc()).limit(1).collect()
        )
        if worst:
            r = worst[0]
            raise ValueError(
                f"map_match_viterbi: entity {r['entity']} has {r['n']} "
                f"points (> max_len={max_len}); decode state is "
                "per-entity sequential — split trajectories or raise "
                "max_len deliberately (None disables the gate)"
            )
    j = pts.crossJoin(F.broadcast(segs_raw))
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    l2 = dx * dx + dy * dy
    tn = (F.col("x0") - F.col("x1")) * dx + (F.col("y0") - F.col("y1")) * dy
    d2_a = (F.col("x0") - F.col("x1")) * (F.col("x0") - F.col("x1")) + (
        F.col("y0") - F.col("y1")
    ) * (F.col("y0") - F.col("y1"))
    d2_b = (F.col("x0") - F.col("x2")) * (F.col("x0") - F.col("x2")) + (
        F.col("y0") - F.col("y2")
    ) * (F.col("y0") - F.col("y2"))
    cross = (F.col("x0") - F.col("x1")) * dy - (F.col("y0") - F.col("y1")) * dx
    d2_mid = F.expr(
        "CAST(CAST(__cross AS decimal(38,0)) * __cross div __l2 AS BIGINT)"
    )
    rk = Window.partitionBy("entity", "eid").orderBy(
        "d2", "polygon_id", "seg_idx"
    )
    cand = (
        j.withColumn("__l2", l2)
        .withColumn("__tn", tn)
        .withColumn("__cross", cross)
        .withColumn(
            "d2",
            F.when((F.col("__l2") == 0) | (F.col("__tn") <= 0), d2_a)
            .when(F.col("__tn") >= F.col("__l2"), d2_b)
            .otherwise(d2_mid),
        )
        .withColumn("__rn", F.row_number().over(rk))
        .filter(F.col("__rn") <= top_c)
        .select("entity", "ts", "eid", "polygon_id", "seg_idx", "d2")
    )
    grouped = (
        cand.select(
            "entity",
            F.struct(
                F.col("ts"), F.col("eid"), F.col("d2"),
                F.col("polygon_id").alias("pid"), F.col("seg_idx").alias("seg"),
            ).alias("c"),
        )
        .groupBy("entity")
        .agg(F.sort_array(F.collect_list("c")).alias("cs"))
    )
    lam = int(lambda_switch)

    def kernel(batches):
        for pdf in batches:
            recs = []
            for ent, cs in zip(pdf["entity"], pdf["cs"]):
                # rebuild per-point candidate groups in (ts, eid) order
                points = []
                for c in cs:
                    if not points or points[-1][0] != c["eid"]:
                        points.append((c["eid"], []))
                    points[-1][1].append(
                        (str(c["pid"]), int(c["seg"]), int(c["d2"]))
                    )
                # forward pass
                prev = {}
                paths = []
                for k, (eid, cands) in enumerate(points):
                    cur = {}
                    back = {}
                    for pid, seg, d2 in cands:
                        if k == 0:
                            cur[(pid, seg)] = d2
                            back[(pid, seg)] = None
                            continue
                        best_tc, best_key = None, None
                        for (ppid, pseg), pc in prev.items():
                            tc = pc + (0 if (ppid, pseg) == (pid, seg)
                                       else lam)
                            key = f"{ppid}#{pseg:06d}"
                            if best_tc is None or tc < best_tc or (
                                tc == best_tc and key < best_key
                            ):
                                best_tc, best_key = tc, key
                                bp = (ppid, pseg)
                        cur[(pid, seg)] = best_tc + d2
                        back[(pid, seg)] = bp
                    paths.append((eid, back))
                    prev = cur
                # terminal argmin by (cost, pid, seg)
                state = min(prev, key=lambda s: (prev[s], s[0], s[1]))
                chosen = []
                for eid, back in reversed(paths):
                    chosen.append((eid, state))
                    state = back[state] if back[state] is not None else state
                d2map = {
                    (c["eid"], (str(c["pid"]), int(c["seg"]))): int(c["d2"])
                    for c in cs
                }
                recs.extend(
                    (ent, eid, s[0], s[1], d2map[(eid, s)])
                    for eid, s in chosen
                )
            yield pd.DataFrame(
                recs,
                columns=["entity", "eid", "polygon_id", "seg_idx", "d2"],
            )

    return grouped.mapInPandas(
        kernel,
        schema="entity long, eid long, polygon_id string, seg_idx int, "
               "d2 long",
    )


def heading_persistence(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Directional PERSISTENCE per entity: the lag-1 dot-product
    statistics of consecutive displacement vectors in integer
    micro-degrees — cos(turn angle) weighted by step lengths, summed
    exactly: a ballistic mover (commuter on a highway) has
    sum_dot ~ +sum of |v|^2 while Brownian wandering cancels to ~0 and
    back-and-forth pacing goes negative. The float-free sibling of a
    turning-angle histogram: persistence = sum_dot / sqrt(sum_v2a *
    sum_v2b) stays a consumer-side ratio; the engine emits only exact
    integers (n_turns, sum_dot, sum_v2a, sum_v2b). Zero-length steps
    contribute zero dot — they are kept (they genuinely mean 'stayed
    put').

    Plan: two chained lag windows per entity (one pass, no joins), one
    rollup. Magnitudes: |v| <= ~3.6e8 micro, dot <= 1.3e17, summed over
    per-entity steps — int64 to ~70 steps at full antipodal span and
    ~1e6 steps at city scale; the fixture sits far below both."""
    from pyspark.sql import Window

    x = micro_deg(lat)
    y = micro_deg(lon)
    w = Window.partitionBy("entity").orderBy("ts", "eid")
    pts = events.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("eid"),
        x.alias("x"),
        y.alias("y"),
    ).withColumns(
        {
            "vx": F.col("x") - F.lag("x").over(w),
            "vy": F.col("y") - F.lag("y").over(w),
        }
    ).withColumns(
        {
            "pvx": F.lag("vx").over(w),
            "pvy": F.lag("vy").over(w),
        }
    ).filter(F.col("pvx").isNotNull() & F.col("vx").isNotNull())
    return pts.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(
            F.col("vx") * F.col("pvx") + F.col("vy") * F.col("pvy")
        ).alias("sum_dot"),
        F.sum(
            F.col("pvx") * F.col("pvx") + F.col("pvy") * F.col("pvy")
        ).alias("sum_v2a"),
        F.sum(
            F.col("vx") * F.col("vx") + F.col("vy") * F.col("vy")
        ).alias("sum_v2b"),
    )


def pair_contact_time(
    events: DataFrame,
    pairs: DataFrame,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """CONTACT TIME for candidate entity pairs: total seconds two
    entities were simultaneously present in the same tile — the
    epidemiological contact metric (co_visitation counts shared
    cell-DAYS; this integrates actual overlap). Presence is the
    step-function interpretation of a point stream: an entity occupies
    the tile of its latest event from that event's timestamp until its
    next event (the final event closes the trace — no open-ended
    interval). Exact integer seconds:

        contact = sum over same-tile interval pairs of
                  max(0, min(e_a, e_b) - max(s_a, s_b))

    Returns (a, b, n_overlaps, contact_sec) with n_overlaps the count
    of strictly-positive overlaps.

    Plan: one lead window per entity builds the interval table (one
    shuffle on the entity key), candidate pins, then a within-pair
    SAME-TILE equi-join with the overlap predicate — cost is bounded by
    co-located interval pairs of the candidate slice, never a global
    interval join. All column expressions; the oracle replays verbatim."""
    from pyspark.sql import Window

    iv = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.unix_timestamp(F.col(ts_col)).alias("s"),
            F.col(id_col).alias("eid"),
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        )
        .withColumn("e", F.lead("s").over(
            Window.partitionBy("entity").orderBy("s", "eid")
        ))
        .filter(F.col("e").isNotNull() & (F.col("e") > F.col("s")))
        .select("entity", "tile", "s", "e")
    )
    p = pairs.select("a", "b").localCheckpoint(eager=True)
    ia = iv.select(
        F.col("entity").alias("a"), F.col("tile"),
        F.col("s").alias("sa"), F.col("e").alias("ea"),
    )
    ib = iv.select(
        F.col("entity").alias("__b"), F.col("tile").alias("tb"),
        F.col("s").alias("sb"), F.col("e").alias("eb"),
    )
    ov = (
        F.least(F.col("ea"), F.col("eb"))
        - F.greatest(F.col("sa"), F.col("sb"))
    )
    return (
        p.join(ia, "a")
        .join(
            ib,
            (F.col("b") == F.col("__b"))
            & (F.col("tile") == F.col("tb"))
            & (F.col("sa") < F.col("eb"))
            & (F.col("sb") < F.col("ea")),
        )
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum(ov).alias("contact_sec"),
        )
    )
