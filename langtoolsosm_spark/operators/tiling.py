"""Tile assignment, per-cell histograms, salted repartition, adaptive
cell-splitting — the engine's skew-management layer.

Reference analogue: Overpass quadtile (`qt`) output ordering
(/root/reference/lib/osm_utils.py:46-48) and the 200-edit changeset cap
(lib/osm_utils.py:155-165) are the reference's only "partitioning"; the
engine makes partitioning explicit per BASELINE.json:north_star ("skew from
dense urban cells is handled explicitly with salted repartitioning and
adaptive cell-splitting").

Design notes for 100 TB scale:
* tile assignment is a pure column expression (WholeStageCodegen, no UDF,
  no shuffle) — it degenerates to a computed partition key (SURVEY.md §2.3
  "tile-assignment join").
* the histogram is one map-side-combined groupBy; its output (distinct
  cells) is tiny relative to the fact table and is safe to broadcast.
* salting multiplies only the HOT keys' partition count; cold keys keep
  salt 0, so the extra shuffle fan-out is bounded by n_hot * buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.cells import (
    _norm_ixy, check_res, grid_ixy, in_grid, micro_deg, stencil, tile_ixy, tile_key_col,
)


def assign_tiles(
    df: DataFrame, res: int, lat: str = "lat", lon: str = "lon", out: str = "tile"
) -> DataFrame:
    """Add the flat tile key at resolution ``res`` (pure column expr)."""
    return df.withColumn(out, tile_key_col(F.col(lat), F.col(lon), res))


def cell_histogram(df: DataFrame, cell_col: str = "tile") -> DataFrame:
    """Per-cell row counts (map-side combine; output is the distinct-cell
    set — small, broadcastable)."""
    return df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n_rows"))


def tile_pyramid(
    df: DataFrame, max_res: int = 8, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    """Multi-resolution per-tile counts — the map-tile-serving pyramid —
    in ONE scan: aggregate at ``max_res`` first (the scan-side work is a
    single map-side-combined groupBy whose output is at most 4^max_res
    cells), then explode only that tiny histogram over the level sequence
    and roll coarser keys up by bit shifts (integer floor-div composes:
    floor(x * 2^(r-1)) == floor(x * 2^r) >> 1, and the edge clamp commutes
    with the shift). The fact table is scanned once with zero fan-out;
    the (max_res + 1)x explode touches only histogram rows, so the second
    shuffle carries O(4^max_res) partials. The naive alternatives —
    assign_tiles + groupBy per level (max_res + 1 scans) or exploding
    every fact row over the levels (scan-side CPU x (max_res + 1)) — both
    lose at scale. Returns (res, tile, n_rows)."""
    ix, iy = grid_ixy(lat, lon, max_res)
    hist = (
        df.select(ix.alias("__ix"), iy.alias("__iy"))
        .groupBy("__ix", "__iy")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    lev = hist.select(
        F.posexplode(F.sequence(F.lit(0), F.lit(max_res))).alias("__p", "res"),
        "__ix",
        "__iy",
        "__n",
    )
    key = F.expr(
        f"shiftleft(shiftright(__ix, {max_res} - res), res)"
        f" + shiftright(__iy, {max_res} - res)"
    )
    return lev.groupBy(F.col("res"), key.alias("tile")).agg(
        F.sum("__n").alias("n_rows")
    )


def hot_cells(df: DataFrame, cell_col: str = "tile", threshold: int = 10_000) -> DataFrame:
    return cell_histogram(df, cell_col).filter(F.col("n_rows") > threshold)


def add_salt(
    df: DataFrame,
    cell_col: str = "tile",
    threshold: int = 10_000,
    buckets: int = 16,
    max_rows: int | None = None,
) -> DataFrame:
    """``df`` plus an int ``salt`` column: a row hash mod ``buckets`` in
    cells holding more than ``threshold`` rows, 0 elsewhere. One broadcast
    join against the hot-cell list, no shuffle of the rows — for callers
    whose next step already hash-partitions on a key built from
    (cell, salt), such as a snapshot write.

    A cell holds more than ``threshold`` rows only if the whole frame
    does: given ``max_rows``, an upper bound on ``df``'s rows, at or under
    ``threshold``, every salt is 0 and no histogram job or broadcast runs
    (columns in the join's order, the cell first)."""
    if max_rows is not None and max_rows <= threshold:
        rest = [c for c in df.columns if c != cell_col]
        return df.select(cell_col, *rest).withColumn("salt", F.lit(0))
    hot = hot_cells(df, cell_col, threshold).select(cell_col, F.lit(True).alias("__hot"))
    return (
        df.join(F.broadcast(hot), cell_col, "left")
        .withColumn(
            "salt",
            F.when(
                F.col("__hot").isNotNull(),
                F.pmod(F.abs(F.hash(*[F.col(c) for c in df.columns])), F.lit(buckets)),
            ).otherwise(F.lit(0)),
        )
        .drop("__hot")
    )


def salted_repartition(
    df: DataFrame,
    cell_col: str = "tile",
    threshold: int = 10_000,
    buckets: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Repartition by (cell, salt) where salt > 0 only for hot cells
    (:func:`add_salt`).

    One broadcast join against the hot-cell list + one shuffle; downstream
    per-tile work (applyInPandas transforms, snapshot writes) then sees
    bounded partition sizes even when one urban cell holds 20% of rows.
    """
    salted = add_salt(df, cell_col, threshold, buckets)
    if num_partitions:
        return salted.repartition(num_partitions, cell_col, "salt")
    return salted.repartition(cell_col, "salt")


def adaptive_split(
    df: DataFrame,
    base_res: int,
    max_rows: int = 10_000,
    max_res: int = 20,
    lat: str = "lat",
    lon: str = "lon",
    out: str = "acell",
) -> DataFrame:
    """Adaptive cell-splitting: every row gets the coarsest tile (>=
    base_res) whose population is <= max_rows (dense cells recurse to
    children, SURVEY.md §4 item 3); cells still oversized at max_res stay
    at max_res.

    Single-pass declarative plan (no driver iteration): explode each row
    into its cell at every res in [base_res, max_res] (a narrow
    (res, cell) projection, not the full row), build one per-(res, cell)
    histogram, mark admissible cells, and pick the smallest admissible res
    per row. Two shuffles total, independent of how deep the splitting
    recurses — the iterative-join formulation re-evaluated its whole
    lineage per level and collapsed at scale.

    Admissibility is hierarchical by construction: child cell counts are
    <= parent counts, so count(res) is non-increasing in res and "coarsest
    admissible" is well-defined.
    """
    if max_res < base_res:
        raise ValueError("max_res must be >= base_res")
    R = max_res
    nR = F.lit(1 << R).cast("long")

    def ancestor(mcell, r: int):
        """Flat tile key at res r from the max_res key (pure arithmetic:
        mcell = ix * 2^R + iy; ancestor = (ix >> (R-r)) * 2^r + (iy >> (R-r)))."""
        d = R - r
        ix = F.shiftright((mcell / nR).cast("long"), d)
        iy = F.shiftright(F.pmod(mcell, nR).cast("long"), d)
        return (ix * F.lit(1 << r).cast("long") + iy).cast("long")

    pts = df.withColumn("__mcell", tile_key_col(F.col(lat), F.col(lon), R))
    # one histogram at max_res; every coarser count is a pure rollup of it
    hist_r = pts.groupBy("__mcell").agg(F.count(F.lit(1)).alias("__n"))
    # per-(res, cell) counts for all levels from the single max_res histogram
    lv = None
    for r in range(base_res, R + 1):
        part = hist_r.groupBy(ancestor(F.col("__mcell"), r).alias("cell")).agg(
            F.sum("__n").alias("__n")
        ).withColumn("res", F.lit(r))
        lv = part if lv is None else lv.unionByName(part)
    ok = lv.filter((F.col("__n") <= max_rows) | (F.col("res") == R)).select("res", "cell")
    # chosen assignment per occupied max_res cell: coarsest admissible level
    anc = hist_r.select(
        "__mcell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("res"), ancestor(F.col("__mcell"), r).alias("cell")
                    )
                    for r in range(base_res, R + 1)
                ]
            )
        ).alias("rt"),
    ).select("__mcell", "rt.res", "rt.cell")
    dim = (
        anc.join(ok, ["res", "cell"], "inner")
        .groupBy("__mcell")
        .agg(F.min(F.struct("res", "cell")).alias("pick"))
        .select(
            "__mcell",
            F.col("pick.cell").alias(out),
            F.col("pick.res").alias(f"{out}_res"),
        )
    )
    return pts.join(dim, "__mcell", "inner").drop("__mcell")


def merge_tile_histogram(
    base_hist: DataFrame,
    delta_points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
    sign_col: str = "sign",
    cell_col: str = "tile",
) -> DataFrame:
    """Incremental maintenance of a materialized tile rollup: merge a
    signed delta stream (+1 insert, -1 delete per point) into an
    existing (tile, n_rows) histogram without touching the base fact
    table — the CDC path that keeps a 100-TB rollup current from a
    day's deltas instead of a full recompute. Tiles whose count reaches
    zero drop out; a NEGATIVE final count raises nothing here but
    cannot arise from a consistent delta (deletes of rows that exist) —
    the invariant the oracle cross-checks by full recompute.

    Plan: the delta aggregates map-side to (tile, signed partial), then
    ONE union + groupBy sum against the (already tiny) base histogram —
    cost scales with |delta| + |occupied tiles|, never with the base
    fact table.
    """
    delta_hist = (
        assign_tiles(delta_points, res=res, lat=lat, lon=lon, out=cell_col)
        .groupBy(cell_col)
        .agg(F.sum(sign_col).alias("n_rows"))
    )
    return (
        base_hist.select(cell_col, "n_rows")
        .unionByName(delta_hist)
        .groupBy(cell_col)
        .agg(F.sum("n_rows").alias("n_rows"))
        .filter(F.col("n_rows") > 0)
    )


def coverage_gaps(
    df: DataFrame,
    res: int,
    lat0: float,
    lat1: float,
    lon0: float,
    lon1: float,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Acquisition-planning anti-join: every grid cell at ``res`` whose
    index window intersects [lat0, lat1] x [lon0, lon1] and contains ZERO
    input rows — (ix, iy, tile), the "where do we have no imagery" query.

    The lattice is GENERATED (one ``spark.range`` over the bbox'd index
    window — never 4^res cells globally), and the occupied side is the
    map-side-combined cell histogram, bounded by min(n_rows, bbox cells).
    The left_anti join therefore touches two histogram-sized inputs no
    matter how large the fact table is; the fact scan itself reads only
    the two coordinate columns (column pruning) and combines map-side.
    Same global equirectangular index math as ``tile_pyramid`` (floor of
    double products — replayed bit-identically by the DuckDB oracle);
    ``tile = ix << res | iy``.
    """
    if lat0 > lat1 or lon0 > lon1:
        # loud-guard convention (hex_bin, with_hilbert): an inverted bbox
        # would yield an empty lattice and silently report "no gaps"
        raise ValueError(
            f"coverage_gaps: inverted bbox (lat0={lat0} > lat1={lat1}"
            if lat0 > lat1
            else f"coverage_gaps: inverted bbox (lon0={lon0} > lon1={lon1}"
        )

    (ix0, ix1), (iy0, iy1) = (
        v.tolist() for v in _norm_ixy([lat0, lat1], [lon0, lon1], res)
    )
    nx, ny = ix1 - ix0 + 1, iy1 - iy0 + 1

    spark = df.sparkSession
    lattice = spark.range(nx * ny).select(
        (F.lit(ix0) + F.col("id") % nx).alias("ix"),
        (F.lit(iy0) + (F.col("id") / nx).cast("long")).alias("iy"),
    )
    gx, gy = grid_ixy(lat, lon, res)
    occupied = (
        df.select(
            gx.alias("ix"),
            gy.alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select("ix", "iy")
    )
    return lattice.join(occupied, ["ix", "iy"], "left_anti").select(
        "ix", "iy",
        (F.shiftleft(F.col("ix"), res) + F.col("iy")).alias("tile"),
    )


def kring_smooth(
    df: DataFrame,
    res: int,
    k: int = 1,
    lat: str = "lat",
    lon: str = "lon",
    hist: DataFrame | None = None,
) -> DataFrame:
    """k-ring neighborhood density smoothing — the H3 ``kRing`` analogue
    on the quad grid: each tile's smoothed value is the sum of point
    counts over all tiles within Chebyshev distance ``k`` (the full
    (2k+1)^2 box, clipped at the grid edge). Used to de-noise per-cell
    coverage before hotspot thresholds and to feed border-aware rollups
    where a cell's neighbors matter as much as the cell.

    Plan: ONE map-side-combined histogram over the fact table, then a
    (2k+1)^2 offset fan-out of ONLY the histogram rows (never the facts)
    and a second histogram-sized groupBy. The fact scan reads two
    columns; everything after it is bounded by occupied-cells x (2k+1)^2.
    Returns (tile, ring_sum) for every tile with >= 1 point in its
    k-ring — i.e. the k-dilated occupancy raster.

    Callers that already aggregated the same (ix, iy, __n) histogram
    (``getis_gi``) pass it via ``hist`` so the shared subtree plans once
    (Spark's exchange reuse then scans the fact table a single time)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = 1 << res
    if hist is None:
        gx, gy = grid_ixy(lat, lon, res)
        hist = (
            df.select(
                gx.alias("ix"),
                gy.alias("iy"),
            )
            .groupBy("ix", "iy")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
    fan = (
        hist.select(
            "ix", "iy", "__n",
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("dx"),
        )
        .select(
            "ix", "iy", "__n", "dx",
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("dy"),
        )
        .select(
            (F.col("ix") + F.col("dx")).alias("tx"),
            (F.col("iy") + F.col("dy")).alias("ty"),
            "__n",
        )
        .filter(in_grid("tx", "ty", n))
    )
    return fan.groupBy(
        (F.col("tx") * F.lit(n) + F.col("ty")).alias("tile")
    ).agg(F.sum("__n").alias("ring_sum"))


def st_cube(
    events: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
    ts: str = "ts",
) -> DataFrame:
    """Space-time CUBE: event counts over every subset of
    (tile, day-of-week, hour-of-day) — all 8 grouping sets in ONE pass
    (Spark expands grouping sets map-side; the fact table is scanned
    once), the OLAP dashboard backing "where and when" drill-downs.
    NULL marks a rolled-up level, as in ANSI CUBE.

    Day-of-week is derived arithmetically from the epoch
    (``(days + 4) % 7``, 0 = Sunday) rather than calendar functions —
    Spark's dayofweek() is 1-based and DuckDB's 0-based, so arithmetic
    is the only dialect-safe spelling. Returns (tile, dow, hour, n).
    """
    tile = tile_key_col(F.col(lat), F.col(lon), res)
    ep = F.unix_timestamp(F.col(ts))
    dow = ((ep / F.lit(86400)).cast("long") + 4) % 7
    hour = (F.pmod(ep, F.lit(86400)) / F.lit(3600)).cast("long")
    return (
        events.select(tile.alias("tile"), dow.alias("dow"), hour.alias("hour"))
        .cube("tile", "dow", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tile_retention(
    events: DataFrame,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Day-over-day visitor retention per tile — the product-analytics
    cohort question with a spatial key: of the distinct entities seen in
    tile t on day d, how many came back to the SAME tile on day d+1?
    Returns (tile, day, n_users, n_retained, retained_milli) for every
    (tile, day) with at least one visitor; days are epoch-day ints
    (engine-portable arithmetic, no calendar functions).

    Plan: one distinct on (tile, day, entity) — the only fact-sized
    shuffle — then a self equi-join on (tile, entity, day+1) between
    two projections of that deduped set, and one rollup. The deduped
    presence set is |tiles x active users| — the natural cohort-table
    size every retention system materializes anyway.
    """
    tile = tile_key_col(F.col(lat), F.col(lon), res)
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    pres = events.select(
        tile.alias("tile"), day.alias("day"), F.col(entity_col).alias("entity")
    ).distinct()
    nxt = pres.select(
        F.col("tile").alias("__t2"),
        (F.col("day") - 1).alias("__d2"),
        F.col("entity").alias("__e2"),
    )
    joined = pres.join(
        nxt,
        (pres["tile"] == nxt["__t2"]) & (pres["day"] == nxt["__d2"])
        & (pres["entity"] == nxt["__e2"]),
        "left",
    ).select("tile", "day", "entity", F.col("__e2").isNotNull().alias("__ret"))
    return joined.groupBy("tile", "day").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("__ret").cast("long")).alias("n_retained"),
        F.expr("CAST(1000 * sum(CAST(__ret AS LONG)) AS BIGINT) div count(1)").alias(
            "retained_milli"
        ),
    )


def tile_anomaly(
    events: DataFrame,
    res: int,
    window_days: int = 7,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-tile daily volume anomaly vs the trailing mean: for every
    (tile, day) with activity, the day's event count next to the mean of
    the PRECEDING ``window_days`` observed days and the exact per-mille
    excess ``1000 * (cnt * n_prev - prev_sum) div prev_sum`` (negative =
    quieter than trend; NULL when the tile has no history yet). The
    burst/outage detector for spatial event streams.

    Integer end to end: the trailing mean never materializes as a float
    — the excess compares ``cnt * n_prev`` against ``prev_sum``
    cross-multiplied. One histogram groupBy (fact-sized shuffle), one
    window over each tile's observed-day series (history-sized).
    Trailing window is ROWS over observed days, the standard sparse
    formulation (quiet days don't dilute the trend).
    """
    tile = tile_key_col(F.col(lat), F.col(lon), res)
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    hist = (
        events.select(tile.alias("tile"), day.alias("day"))
        .groupBy("tile", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("tile")
        .orderBy("day")
        .rowsBetween(-window_days, -1)
    )
    trailed = hist.select(
        "tile",
        "day",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("prev_sum"),
        F.count("cnt").over(w).alias("n_prev"),
    )
    return trailed.withColumn(
        "excess_milli",
        F.when(
            F.col("n_prev") > 0,
            F.expr("CAST(1000 * (cnt * n_prev - prev_sum) AS BIGINT) div prev_sum"),
        ),
    )


def user_home_tile(
    events: DataFrame,
    res: int,
    entity_col: str = "user_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Home-location inference: each entity's modal tile (most visits;
    ties -> the smaller tile key, so the answer is deterministic) plus
    its visit count and share of the entity's events in exact per-mille.
    The standard first step of mobility analysis and privacy review.

    One (entity, tile) histogram, then a struct-max aggregation —
    ``max(struct(cnt, -tile))`` picks the modal tile in the same
    map-side-combined pass that counts totals; no window, no second
    shuffle on the raw facts.
    """
    tile = tile_key_col(F.col(lat), F.col(lon), res)
    hist = (
        events.select(F.col(entity_col).alias("entity"), tile.alias("tile"))
        .groupBy("entity", "tile")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = F.max(F.struct(F.col("cnt"), (-F.col("tile")).alias("nt"))).alias("b")
    return hist.groupBy("entity").agg(
        best,
        F.sum("cnt").alias("n_events"),
    ).select(
        "entity",
        (-F.col("b.nt")).alias("home_tile"),
        F.col("b.cnt").alias("home_visits"),
        "n_events",
        F.expr("CAST(1000 * b.cnt AS BIGINT) div n_events").alias("home_milli"),
    )


def co_visitation(
    events: DataFrame,
    res: int,
    min_days: int = 2,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
    max_occupancy: int = 10_000,
) -> DataFrame:
    """Co-visitation contact pairs: entity pairs that shared the same
    tile on at least ``min_days`` distinct days — the contact-graph /
    companion-detection primitive. Returns (a, b, n_codays) with a < b.

    Plan (r8): the distinct (tile, day, entity) presence set (the same
    cohort table ``tile_retention`` builds) is fanned to entity-block
    pairs, and per (block pair, day) a boolean presence-matrix product
    over the day's tiles marks which pairs co-occurred — n_codays
    accumulates in an integer matrix, qualifying (a < b) pairs are read
    off once at the end. No occupancy^2 pair row ever materializes (the
    previous within-(tile, day) self-join built sum-of-C(occ, 2) rows —
    2.49e9 at sf1 — just to feed countDistinct). The fan shuffles
    |pres| x n_blocks narrow rows; block size bounds the per-task count
    matrix at ~1500^2 ints and n_blocks is capped at 64 (beyond that,
    prune empty block pairs before fanning).

    Pair work is still sum over (tile, day) of occupancy^2 bit-ops —
    quadratic in exactly the cell-days where co-presence stops being
    evidence of companionship (stadiums, festivals). The counted gate
    raises (the ``hex_bin`` loud-failure pattern) when any cell-day
    exceeds ``max_occupancy`` BEFORE the quadratic work can run;
    pre-thin hot cell-days with ``tile_cap_sample`` and re-run, or
    raise the cap deliberately.
    """
    tile = tile_key_col(F.col(lat), F.col(lon), res)
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    pres = events.select(
        tile.alias("tile"), day.alias("day"), F.col(entity_col).alias("entity")
    ).distinct()
    if max_occupancy is not None:
        pres = pres.persist()
        hot = (
            pres.groupBy("tile", "day")
            .agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") > max_occupancy)
        )
        worst = hot.orderBy(F.col("occ").desc()).limit(1).collect()
        if worst:
            r = worst[0]
            pres.unpersist()
            raise ValueError(
                f"co_visitation: cell-day (tile={r['tile']}, day={r['day']}) "
                f"holds {r['occ']} entities (> max_occupancy={max_occupancy}); "
                "the pair join is quadratic in occupancy — pre-thin hot "
                "cell-days with tile_cap_sample, or pass a higher "
                "max_occupancy deliberately (None disables the gate)"
            )
    # Pair rollup (r8): the within-(tile, day) self-join materialized
    # sum-of-C(occupancy, 2) pair rows (2.49e9 at sf1) into a
    # countDistinct aggregate. The counts need no pair rows: partition
    # ENTITIES into hash blocks, route each presence row to the B block
    # pairs containing its block, and intersect per-day presence
    # matrices with one boolean BLAS matmul per (block pair, day) —
    # n_codays accumulates in an integer matrix, qualifying pairs are
    # read off at the end. Same pair set, same distinct-day counts;
    # the only shuffle is the B-way fan of the (already distinct,
    # narrow) presence table. Block size bounds the count matrix
    # (~block^2 ints); B = ceil(n_entities / block) bounds the fan.
    import numpy as np
    import pandas as pd

    # null tile/day/entity rows can never satisfy the pair-join
    # equalities — drop them before the fan (output-equivalent)
    pres = pres.filter(
        F.col("tile").isNotNull()
        & F.col("day").isNotNull()
        & F.col("entity").isNotNull()
    )
    n_ent = pres.agg(F.countDistinct("entity")).collect()[0][0] or 0
    blk_target = 1500
    n_blocks = int(min(64, max(1, -(-n_ent // blk_target))))
    etype = dict(pres.dtypes)["entity"]
    fan = (
        pres.withColumn(
            "__g", F.pmod(F.xxhash64(F.col("entity")), F.lit(n_blocks))
        )
        .select(
            "tile", "day", "entity", "__g",
            F.explode(
                F.array(*[F.lit(h) for h in range(n_blocks)])
            ).alias("__h"),
        )
        .select(
            F.least("__g", "__h").alias("__bi"),
            F.greatest("__g", "__h").alias("__bj"),
            "tile", "day", "entity", "__g",
        )
    )

    def _block_pairs(key, pdf):
        bi, bj = key
        ent = pdf["entity"].to_numpy()
        blk = pdf["__g"].to_numpy(np.int64)
        day = pdf["day"].to_numpy(np.int64)
        tile = pdf["tile"].to_numpy(np.int64)
        ui = np.unique(ent[blk == bi])
        uj = ui if bi == bj else np.unique(ent[blk == bj])
        if ui.size == 0 or uj.size == 0:
            return pd.DataFrame(
                {"a": ui[:0], "b": ui[:0],
                 "n_codays": np.array([], dtype=np.int64)}
            )
        count = np.zeros((ui.size, uj.size), dtype=np.int32)
        order = np.argsort(day, kind="stable")
        bounds = np.flatnonzero(np.diff(day[order])) + 1
        for rows in np.split(order, bounds):
            dt = tile[rows]
            de = ent[rows]
            db = blk[rows]
            tiles, tinv = np.unique(dt, return_inverse=True)
            hit = np.zeros((ui.size, uj.size), dtype=bool)
            # chunk tiles so the presence matrices stay bounded
            for c0 in range(0, tiles.size, 512):
                csel = (tinv >= c0) & (tinv < c0 + 512)
                mi_rows = csel & (db == bi)
                mj_rows = csel & (db == bj)
                if not mi_rows.any() or not mj_rows.any():
                    continue
                width = min(512, tiles.size - c0)
                Mi = np.zeros((ui.size, width), dtype=np.float32)
                Mi[
                    np.searchsorted(ui, de[mi_rows]), tinv[mi_rows] - c0
                ] = 1.0
                if bi == bj:
                    Mj = Mi
                else:
                    Mj = np.zeros((uj.size, width), dtype=np.float32)
                    Mj[
                        np.searchsorted(uj, de[mj_rows]), tinv[mj_rows] - c0
                    ] = 1.0
                hit |= (Mi @ Mj.T) > 0.0
            count += hit
        ii, jj = np.nonzero(count >= min_days)
        if bi == bj:
            # same-block matrix holds (x, y) AND (y, x); ui is sorted,
            # so ii < jj selects each unordered pair exactly once as a < b
            keep = ii < jj
            a, b = ui[ii[keep]], uj[jj[keep]]
            cd = count[ii[keep], jj[keep]]
        else:
            # cross-block entries are unique unordered pairs; order ids
            a, b = ui[ii], uj[jj]
            cd = count[ii, jj]
            lo = np.minimum(a, b)
            b = np.maximum(a, b)
            a = lo
        return pd.DataFrame(
            {"a": a, "b": b, "n_codays": cd.astype(np.int64)}
        )

    return fan.groupBy("__bi", "__bj").applyInPandas(
        _block_pairs, schema=f"a {etype}, b {etype}, n_codays long"
    )


def radius_of_gyration(
    events: DataFrame,
    entity_col: str = "user_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Radius of gyration per entity — THE standard mobility-range metric
    (Gonzalez/Hidalgo/Barabasi 2008): rg^2 = mean squared distance of an
    entity's positions from their centroid. Because the centroid is
    fractional, rg^2 is emitted as the EXACT rational

        rg2_num / rg2_den = (n*(Sxx+Syy) - Sx^2 - Sy^2) / n^2

    over micro-degree integer coordinates (x = floor(lat*1e6)), with all
    sums in DECIMAL(38,0) — no float ever enters, so the oracle matches
    bit-for-bit (the hotspot_gi contract). Returns
    (entity, n_events, rg2_num, rg2_den).

    One map-side-combined groupBy; the per-entity moment algebra is
    five sums — linear scan, shuffle keyed by entity."""
    dec = "decimal(38,0)"
    x = micro_deg(lat)
    y = micro_deg(lon)
    g = (
        events.select(F.col(entity_col).alias("entity"), x.alias("x"), y.alias("y"))
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum(F.col("y").cast(dec)).alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        )
    )
    return g.select(
        "entity",
        F.col("n").cast("long").alias("n_events"),
        (
            F.col("n") * (F.col("sxx") + F.col("syy"))
            - F.col("sx") * F.col("sx")
            - F.col("sy") * F.col("sy")
        ).cast(dec).alias("rg2_num"),
        (F.col("n") * F.col("n")).cast(dec).alias("rg2_den"),
    )


def dwell_time(
    events: DataFrame,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-tile dwell accounting: each consecutive per-entity segment's
    duration (epoch seconds, exact integers) is attributed to the tile
    the segment STARTS in — "how long do people stay here", the
    complement of the od_flows transition counts. Returns
    (tile, total_dwell_s, n_segments, n_entities).

    One lag window (entity-key shuffle of two narrow columns) + one
    map-side-combined groupBy on the tile key."""
    from pyspark.sql import Window

    # walk by the full ts, then the tiebreak: the streaming twin's order
    order = [F.col("__ts").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    seg = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.col(ts_col).alias("__ts"),
            F.unix_timestamp(F.col(ts_col)).alias("__ep"),
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            *([F.col(order_tiebreak)] if order_tiebreak else []),
        )
        .withColumn("__next", F.lead("__ep").over(
            Window.partitionBy("entity").orderBy(*order)
        ))
        .filter(F.col("__next").isNotNull())
    )
    return seg.groupBy("tile").agg(
        F.sum(F.col("__next") - F.col("__ep")).alias("total_dwell_s"),
        F.count(F.lit(1)).alias("n_segments"),
        F.countDistinct("entity").alias("n_entities"),
    )


def visit_concentration(
    events: DataFrame,
    res: int,
    entity_col: str = "user_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-entity spatial concentration: the Herfindahl index of the
    entity's tile-visit distribution as an exact rational
    (hhi_num / n_events^2 with hhi_num = sum of squared per-tile counts)
    plus the modal tile share in exact milli units — the
    integer-arithmetic stand-in for visit entropy (log parity across
    engines is not bit-stable; ratios of counts are). Returns
    (entity, n_events, n_tiles, hhi_num, top_milli).

    Two map-side-combined aggregates over (entity, tile) histograms —
    never the raw events twice (the per-entity rollup consumes the
    histogram)."""
    hist = (
        events.select(
            F.col(entity_col).alias("entity"),
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        )
        .groupBy("entity", "tile")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return hist.groupBy("entity").agg(
        F.sum("cnt").alias("n_events"),
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("hhi_num"),
        F.expr("CAST(1000 * max(cnt) AS BIGINT) div sum(cnt)").alias("top_milli"),
    )


def tile_first_seen(
    events: DataFrame,
    res: int,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Coverage-novelty audit: per tile, the first epoch-day any event
    landed in it, how many distinct days it has been active, and its
    total events — the "what did this batch newly cover" primitive
    (filter first_day = today downstream). Returns
    (tile, first_day, n_days, n_events); one map-side-combined
    groupBy."""
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    return (
        events.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            day.alias("day"),
        )
        .groupBy("tile")
        .agg(
            F.min("day").alias("first_day"),
            F.countDistinct("day").alias("n_days"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def binomial_smooth(
    df: DataFrame,
    res: int,
    k: int = 1,
    lat: str = "lat",
    lon: str = "lon",
    hist: DataFrame | None = None,
) -> DataFrame:
    """Binomial-kernel raster smoothing — the exact-integer analogue of a
    Gaussian blur (the separable binomial kernel C(2k, k+d) per axis is
    the standard integer approximation; k=1 is the classic 1-2-1). Where
    ``kring_smooth`` box-sums, this weights by distance, so hotspot
    edges fade smoothly instead of stepping. Returns (tile, smooth_sum)
    over the k-dilated occupancy; all arithmetic is integer-exact.

    Plan: identical shape to kring_smooth — ONE histogram (or a shared
    prebuilt one), a (2k+1)^2 weighted offset fan-out of histogram rows
    only, one histogram-sized groupBy."""
    import math

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = 1 << res
    if hist is None:
        gx, gy = grid_ixy(lat, lon, res)
        hist = (
            df.select(
                gx.alias("ix"),
                gy.alias("iy"),
            )
            .groupBy("ix", "iy")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
    w = [math.comb(2 * k, k + d) for d in range(-k, k + 1)]
    offs = [
        (dx, dy, F.lit(w[dx + k] * w[dy + k]).cast("long"))
        for dx in range(-k, k + 1)
        for dy in range(-k, k + 1)
    ]
    fan = hist.select(
        "ix", "iy", "__n", stencil(offs, ("dx", "dy", "wt")).alias("o")
    ).select(
        (F.col("ix") + F.col("o.dx")).alias("tx"),
        (F.col("iy") + F.col("o.dy")).alias("ty"),
        (F.col("__n") * F.col("o.wt")).alias("__w"),
    ).filter(in_grid("tx", "ty", n))
    return fan.groupBy(
        (F.col("tx") * F.lit(n) + F.col("ty")).alias("tile")
    ).agg(F.sum("__w").alias("smooth_sum"))


def tile_gini(
    df: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Occupancy-inequality audit: the Gini coefficient of the per-tile
    event distribution over OCCUPIED tiles, as the exact rational

        gini = (2 * sum_i i*x_(i) - (n+1) * sum x) / (n * sum x)

    (x ascending, ranks 1-based) plus its truncated milli value — "is
    our coverage a few megacities or spread out", the skew headline
    number that decides salting budgets. Returns ONE row
    (n_tiles, total, gini_num, gini_den, gini_milli), all integers.

    The rank window sorts only the HISTOGRAM (occupied cells), never the
    facts — the single-partition sort is bounded by distinct tiles, the
    same size class every other raster op's driver-facing output has."""
    hist = (
        df.select(tile_key_col(F.col(lat), F.col(lon), res).alias("tile"))
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("x").asc(), F.col("tile").asc())
    ranked = hist.withColumn("i", F.row_number().over(w))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("x").alias("total"),
        F.sum(F.col("i").cast("long") * F.col("x")).alias("__ix"),
    )
    num = F.lit(2) * F.col("__ix") - (F.col("n_tiles") + 1) * F.col("total")
    den = F.col("n_tiles") * F.col("total")
    return agg.select(
        "n_tiles", "total",
        num.alias("gini_num"),
        den.alias("gini_den"),
        F.expr(
            "CAST(1000 * (2 * __ix - (n_tiles + 1) * total) AS BIGINT) "
            "div (n_tiles * total)"
        ).alias("gini_milli"),
    )


def tile_burstiness(
    events: DataFrame,
    res: int,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Temporal burstiness per tile — the Fano factor (variance-to-mean
    ratio) of the tile's DAILY event counts over the data's full
    calendar span, as an exact rational: with D the global number of
    calendar days (empty days count as zero via closed-form folding,
    the moran_i device) and x_d the per-day counts,

        fano = var/mean = (D * sum x^2 - (sum x)^2) / (D * sum x)

    fano >> 1 flags bursty venues (events, incidents); ~1 is Poisson
    background. Returns (tile, n_days_active, total, fano_num,
    fano_den, fano_milli) — integers only.

    Plan: one (tile, day) histogram, one tile rollup, one single-row
    global day-span aggregate broadcast by cross join."""
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    hist = (
        events.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            day.alias("day"),
        )
        .groupBy("tile", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    span = hist.agg(
        (F.max("day") - F.min("day") + 1).alias("d_span")
    )
    per_tile = hist.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_days_active"),
        F.sum("x").alias("total"),
        F.sum(F.col("x") * F.col("x")).alias("__sq"),
    )
    j = per_tile.crossJoin(F.broadcast(span))
    num = F.col("d_span") * F.col("__sq") - F.col("total") * F.col("total")
    den = F.col("d_span") * F.col("total")
    return j.select(
        "tile", "n_days_active", "total",
        num.alias("fano_num"),
        den.alias("fano_den"),
        F.expr(
            "CAST(1000 * (d_span * __sq - total * total) AS BIGINT) "
            "div (d_span * total)"
        ).alias("fano_milli"),
    )


def weekday_contrast(
    events: DataFrame,
    res: int,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Weekday-vs-weekend usage contrast per tile: counts split by the
    arithmetic day-of-week ((epoch_days + 4) % 7, 0 = Sunday — the
    dialect-safe spelling st_cube established) and the weekday share in
    exact milli units. Office districts read ~1000, nightlife/leisure
    tiles drop toward 500. Returns (tile, n_weekday, n_weekend,
    weekday_milli); one map-side-combined groupBy."""
    ep = F.unix_timestamp(F.col(ts_col))
    dow = ((ep / F.lit(86400)).cast("long") + 4) % 7
    is_we = (dow == 0) | (dow == 6)
    return (
        events.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            F.when(is_we, 1).otherwise(0).alias("__we"),
        )
        .groupBy("tile")
        .agg(
            F.sum(F.lit(1) - F.col("__we")).alias("n_weekday"),
            F.sum("__we").alias("n_weekend"),
        )
        .select(
            "tile",
            F.col("n_weekday").cast("long").alias("n_weekday"),
            F.col("n_weekend").cast("long").alias("n_weekend"),
            F.expr(
                "CAST(1000 * n_weekday AS BIGINT) div (n_weekday + n_weekend)"
            ).alias("weekday_milli"),
        )
    )


def tile_changepoint(
    events: DataFrame,
    res: int,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Largest day-over-day activity jump per tile: consecutive-calendar
    deltas over the (tile, day) histogram with missing days COUNTING AS
    ZERO (a gap from 50 events to none is a -50 jump, materialized only
    at the gap edges — two extra synthetic deltas per gap, never a dense
    calendar). Returns (tile, jump_day, jump, prev_cnt, day_cnt) for
    each tile's maximal |jump| (ties to the earliest day).

    Plan: one histogram + one lag window keyed by tile over histogram
    rows; gap edges come from the same lag (day distance > 1)."""
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    hist = (
        events.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            day.alias("day"),
        )
        .groupBy("tile", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("tile").orderBy(F.col("day").asc())
    lagged = hist.withColumn("pd", F.lag("day").over(w)).withColumn(
        "px", F.lag("x").over(w)
    )
    # three delta kinds: adjacent-day (x - px), fall-to-zero at a gap's
    # start (0 - px on day pd+1), rise-from-zero at its end (x - 0)
    adjacent = lagged.filter(F.col("pd") == F.col("day") - 1).select(
        "tile", F.col("day").alias("jump_day"),
        (F.col("x") - F.col("px")).alias("jump"),
        F.col("px").alias("prev_cnt"), F.col("x").alias("day_cnt"),
    )
    gap_fall = lagged.filter(
        F.col("pd").isNotNull() & (F.col("pd") < F.col("day") - 1)
    ).select(
        "tile", (F.col("pd") + 1).alias("jump_day"),
        (-F.col("px")).alias("jump"),
        F.col("px").alias("prev_cnt"), F.lit(0).cast("long").alias("day_cnt"),
    )
    gap_rise = lagged.filter(
        F.col("pd").isNotNull() & (F.col("pd") < F.col("day") - 1)
    ).select(
        "tile", F.col("day").alias("jump_day"),
        F.col("x").alias("jump"),
        F.lit(0).cast("long").alias("prev_cnt"), F.col("x").alias("day_cnt"),
    )
    deltas = adjacent.unionByName(gap_fall).unionByName(gap_rise)
    best = deltas.groupBy("tile").agg(
        F.max(
            F.struct(
                F.abs(F.col("jump")).alias("a"),
                (-F.col("jump_day")).alias("nd"),
                "jump", "prev_cnt", "day_cnt",
            )
        ).alias("b")
    )
    return best.select(
        "tile", (-F.col("b.nd")).alias("jump_day"), F.col("b.jump").alias("jump"),
        F.col("b.prev_cnt").alias("prev_cnt"), F.col("b.day_cnt").alias("day_cnt"),
    )


def activity_streaks(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-active-day streak per entity — the classic
    gaps-and-islands pattern (day - dense_rank is constant within an
    island), the retention/engagement headline. Returns
    (entity, n_active_days, n_streaks, longest_streak,
    longest_streak_start).

    Plan: distinct (entity, day), one rank window keyed by entity, one
    island rollup, one entity rollup — all on day-distinct rows."""
    from pyspark.sql import Window

    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    d = (
        events.select(F.col(entity_col).alias("entity"), day.alias("day"))
        .distinct()
    )
    w = Window.partitionBy("entity").orderBy(F.col("day").asc())
    grp = d.withColumn(
        "__g", F.col("day") - F.row_number().over(w)
    )
    islands = grp.groupBy("entity", "__g").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("start"),
    )
    rolled = islands.groupBy("entity").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        # longest island, ties to the earliest start (struct-max idiom)
        F.max(F.struct(F.col("len"), (-F.col("start")).alias("ns"))).alias("__b"),
    )
    return rolled.select(
        "entity", "n_active_days", "n_streaks",
        F.col("__b.len").alias("longest_streak"),
        (-F.col("__b.ns")).alias("longest_streak_start"),
    )


def colocation_lift(
    events: DataFrame,
    cat_col: str,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Market-basket co-location lift between event categories, with
    tiles as the baskets: for every unordered category pair the exact
    contingency counts (tiles containing a, containing b, containing
    both, total occupied tiles) plus the cross-multiplied lift as an
    exact integer rational ``lift_num / lift_den`` =
    (n_both * n_tiles) / (n_a * n_b) — lift > 1 means the categories
    co-occur spatially more than independence predicts. No float math
    in the engine; consumers divide. Returns
    (cat_a, cat_b, n_a, n_b, n_both, n_tiles, lift_num, lift_den).

    Plan: one scan -> distinct (tile, category) presence (map-side
    partial distinct bounds the shuffle by occupied tiles x categories,
    not events) -> per-category tile counts (category-cardinality rows,
    broadcast) -> presence self-join on tile for the pair counts (the
    only non-trivial shuffle, keyed by tile; per-tile fan-out is
    C(n_cats, 2), a constant) -> one-row total folded in by crossJoin
    (the moran_i pattern). At 100x the events the presence frame grows
    with occupied tiles only; category counts stay a broadcast dim.
    """
    pres = (
        events.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            F.col(cat_col).alias("cat"),
        )
        .distinct()
    )
    per_cat = pres.groupBy("cat").agg(F.count(F.lit(1)).alias("n_cat"))
    total = pres.select("tile").distinct().agg(
        F.count(F.lit(1)).alias("n_tiles")
    )
    a = pres.select("tile", F.col("cat").alias("cat_a"))
    b = pres.select("tile", F.col("cat").alias("cat_b"))
    both = (
        a.join(b, "tile")
        .filter(F.col("cat_a") < F.col("cat_b"))
        .groupBy("cat_a", "cat_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = per_cat.select(F.col("cat").alias("cat_a"), F.col("n_cat").alias("n_a"))
    cb = per_cat.select(F.col("cat").alias("cat_b"), F.col("n_cat").alias("n_b"))
    return (
        both.join(F.broadcast(ca), "cat_a")
        .join(F.broadcast(cb), "cat_b")
        .crossJoin(F.broadcast(total))
        .select(
            "cat_a", "cat_b", "n_a", "n_b", "n_both", "n_tiles",
            (F.col("n_both") * F.col("n_tiles")).alias("lift_num"),
            (F.col("n_a") * F.col("n_b")).alias("lift_den"),
        )
    )


def compact_cells(
    df: DataFrame,
    res: int,
    res_min: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Hierarchical cell-cover compaction (the H3 ``compactCells``
    analogue on the quad grid): starting from the occupied cells at
    ``res``, every complete sibling quad (all 4 children present) is
    replaced by its parent, recursively up to ``res_min`` — the minimal
    mixed-resolution cover of the occupied set. Exactly the index-
    maintenance step a tile-serving layer runs so dense regions are
    addressed by a few coarse cells while sparse fringes stay fine.
    Returns (res, ix, iy); a cell appears at the coarsest level whose
    whole subtree is occupied.

    Plan: one map-side-combined distinct over the fact table produces
    the level-``res`` occupied set (histogram-sized — nothing after
    this sees a fact row). Each of the (res - res_min) bounded rounds
    is a groupBy on the parent key (promotion = HAVING count = 4; the
    input is distinct so the count IS the sibling count) plus one
    broadcastable anti-join for the cells emitted at that level; the
    shrinking frontier is localCheckpoint'd per round (the
    shortest_paths idiom) so lineage stays flat. Round count is fixed
    by the resolution gap, never by data size.
    """
    check_res(res)
    if not 0 <= res_min <= res:
        raise ValueError(f"res_min must be in [0, res], got {res_min}")
    ix, iy = tile_ixy("tile", 1 << res)
    cur = (
        assign_tiles(df, res, lat=lat, lon=lon)
        .select(ix.alias("ix"), iy.alias("iy"))
        .distinct()
    )
    outs = []
    for r in range(res, res_min, -1):
        cur = cur.localCheckpoint(eager=True)
        px = (F.col("ix") / 2).cast("long")
        py = (F.col("iy") / 2).cast("long")
        promoted = (
            cur.groupBy(px.alias("px"), py.alias("py"))
            .agg(F.count(F.lit(1)).alias("__k"))
            .filter(F.col("__k") == 4)
            .select("px", "py")
        )
        emitted = cur.join(
            F.broadcast(promoted),
            (px == F.col("px")) & (py == F.col("py")),
            "left_anti",
        ).select(F.lit(r).alias("res"), "ix", "iy")
        outs.append(emitted)
        cur = promoted.select(F.col("px").alias("ix"), F.col("py").alias("iy"))
    outs.append(cur.select(F.lit(res_min).alias("res"), "ix", "iy"))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def tile_coverage_curve(
    df: DataFrame,
    res: int = 8,
    deciles: int = 10,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Workload-concentration curve — the skew audit behind every
    salting/bucketing decision: for each mass decile d, the minimum
    number of top tiles (by row count, ties to the smaller tile id)
    whose cumulative count reaches d/``deciles`` of all rows, plus the
    exact count they cover. A uniform layer needs ~d% of tiles for d%
    of mass; a skewed one reaches 50% of mass in a handful of cells —
    this is the number that says whether ``salted_repartition`` is
    worth its shuffle. Returns (decile, n_tiles, covered_rows,
    total_rows) with exact integer threshold math
    (cum * deciles >= total * d — no float division).

    Plan: one map-side-combined histogram off the fact table, then a
    single global-order window over the HISTOGRAM (occupied tiles, not
    rows — acceptable single-partition work for the same reason the
    quantile sketch's register sort is: it is sketch-sized), a constant
    ``deciles``-way fan-out and a min-rank rollup.
    """
    if deciles < 1:
        raise ValueError(f"deciles must be >= 1, got {deciles}")
    from pyspark.sql import Window

    hist = (
        assign_tiles(df, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("tile").asc())
    ranked = hist.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    total = hist.agg(F.sum("n").alias("total_rows"))
    dec = F.explode(
        F.array(*[F.lit(i) for i in range(1, deciles + 1)])
    ).alias("decile")
    fan = ranked.crossJoin(F.broadcast(total)).select(
        "rank", "cum", "total_rows", dec
    )
    return (
        fan.filter(F.col("cum") * deciles >= F.col("total_rows") * F.col("decile"))
        .groupBy("decile")
        .agg(
            F.min("rank").alias("n_tiles"),
            F.min(F.struct("rank", "cum", "total_rows")).alias("__b"),
        )
        .select(
            "decile", "n_tiles",
            F.col("__b.cum").alias("covered_rows"),
            F.col("__b.total_rows").alias("total_rows"),
        )
    )


def wait_time_hist(
    events: DataFrame,
    res: int,
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-tile inter-arrival (wait-time) audit rolled into a global
    log2-bucket histogram: within each tile, order events by epoch
    second and bucket every successive gap by its binary digit count
    (bucket b = length(bin(gap)), so b=1 covers {0,1}s and b>=2 covers
    [2^(b-1), 2^b) — exact integer bucketing, no float log). The
    histogram answers "how bursty is arrival at a cell" for
    refresh-rate/TTL tuning. Returns (bucket, n_gaps, total_gap_s,
    max_gap_s).

    Plan: one lag window partitioned by the TILE key (narrow
    two-column frame; partition width is bounded per cell the same way
    every per-tile window here is — at 100x a pathologically hot cell
    is exactly what ``salted_repartition``'s audit upstream flags) +
    one map-side-combined groupBy on <=64 bucket keys."""
    from pyspark.sql import Window

    order = [F.col("__ep").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy("tile").orderBy(*order)
    gaps = (
        events.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            F.unix_timestamp(F.col(ts_col)).alias("__ep"),
            *([F.col(order_tiebreak)] if order_tiebreak else []),
        )
        .withColumn("__prev", F.lag("__ep").over(w))
        .filter(F.col("__prev").isNotNull())
        .select((F.col("__ep") - F.col("__prev")).alias("gap"))
    )
    return (
        gaps.select(F.length(F.bin(F.col("gap"))).cast("int").alias("bucket"), "gap")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap").alias("total_gap_s"),
            F.max("gap").alias("max_gap_s"),
        )
    )


def exploration_curve(
    events: DataFrame,
    res: int,
    deciles: int = 10,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Population exploration curve (Song et al. 2010 novelty decay):
    for each entity, walk its events in time order and count the
    cumulative number of DISTINCT tiles seen; checkpoint that count at
    each event-index decile and sum across entities. Early deciles near
    the per-decile event budget mean explorers; a flat tail means
    returners. Returns (decile, sum_tiles, n_entities) — exact
    integers, decile d holds each entity's distinct-tile count after
    its first ceil(d/``deciles``) fraction of events.

    Plan: three windows over the SAME per-entity partitioning (one
    shuffle: first-visit flag via row_number per (entity, tile),
    event rank + running novelty sum per entity), then two map-side
    combined groupBys (entity x decile, then decile)."""
    if deciles < 1:
        raise ValueError(f"deciles must be >= 1, got {deciles}")
    from pyspark.sql import Window

    order = [F.col("__ep").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    base = events.select(
        F.col(entity_col).alias("entity"),
        F.unix_timestamp(F.col(ts_col)).alias("__ep"),
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    )
    # one shuffle for BOTH windows and the (entity, decile) rollup:
    # HashPartitioning(entity) satisfies the (entity, tile) window's
    # clustered distribution (subset key), so pinning the exchange to
    # the entity key up front removes the (entity, tile) exchange the
    # planner would otherwise insert (3 exchanges -> 2, plan-asserted)
    base = base.repartition(F.col("entity"))
    w_ent = Window.partitionBy("entity").orderBy(*order)
    w_tile = Window.partitionBy("entity", "tile").orderBy(*order)
    flagged = base.select(
        "entity",
        "__ep",
        *([F.col(order_tiebreak)] if order_tiebreak else []),
        F.when(F.row_number().over(w_tile) == 1, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    walked = flagged.select(
        "entity",
        F.row_number().over(w_ent).cast("long").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("entity")).alias("n"),
        F.sum("is_new")
        .over(w_ent.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_tiles"),
    )
    per_decile = (
        walked.select(
            "entity",
            "cum_tiles",
            F.expr(f"((r - 1) * {deciles}) div n").alias("__d0"),
        )
        .select("entity", "cum_tiles", (F.col("__d0") + 1).cast("int").alias("decile"))
        .groupBy("entity", "decile")
        .agg(F.max("cum_tiles").alias("tiles_at"))
    )
    return per_decile.groupBy("decile").agg(
        F.sum("tiles_at").alias("sum_tiles"),
        F.count(F.lit(1)).alias("n_entities"),
    )


def daily_motifs(
    events: DataFrame,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Daily mobility-motif census (Schneider et al. 2013): reduce each
    (entity, UTC-day) tile walk to its motif class — distinct tiles
    visited, tile-to-tile transitions taken, and whether the day
    returned home (first tile == last tile) — then count entity-days
    per class. The handful of dominant classes ("stay put",
    "commute-and-return", "tour") is the population's routine
    signature. Returns (n_tiles, n_transitions, home_return,
    n_entity_days, total_events) — exact integers.

    Plan: one lag window per (entity, day) partition (bounded by a
    day's events), ONE groupBy producing every per-day feature in a
    single pass (first/last tile via lexicographic struct min/max on
    the unique (ep, tiebreak) key — no second window), then a
    map-side-combined rollup on the tiny motif-class key."""
    from pyspark.sql import Window

    order = [F.col("__ep").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    base = events.select(
        F.col(entity_col).alias("entity"),
        F.unix_timestamp(F.col(ts_col)).alias("__ep"),
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    ).withColumn("day", F.expr("__ep div 86400"))
    w = Window.partitionBy("entity", "day").orderBy(*order)
    key = [F.col("__ep"), *([F.col(order_tiebreak)] if order_tiebreak else [])]
    stepped = base.withColumn("__prev", F.lag("tile").over(w))
    per_day = stepped.groupBy("entity", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("tile").alias("n_tiles"),
        F.sum(
            F.when(
                F.col("__prev").isNotNull() & (F.col("__prev") != F.col("tile")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("n_transitions"),
        F.min(F.struct(*key, F.col("tile"))).alias("__first"),
        F.max(F.struct(*key, F.col("tile"))).alias("__last"),
    )
    return (
        per_day.select(
            "n_tiles",
            "n_transitions",
            (F.col("__first.tile") == F.col("__last.tile"))
            .cast("long")
            .alias("home_return"),
            "n_events",
        )
        .groupBy("n_tiles", "n_transitions", "home_return")
        .agg(
            F.count(F.lit(1)).alias("n_entity_days"),
            F.sum("n_events").alias("total_events"),
        )
    )


def pyramid_gaps(
    df: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Pyramid-completeness audit — the complement of ``compact_cells``:
    parents at res-1 whose quad is PARTIALLY occupied (1-3 of 4
    children hold rows). A serving pyramid renders these parents from
    incomplete child sets, so they are exactly the cells where a
    mosaic shows seams or a rollup under-counts. Returns
    (parent_tile, n_children, n_rows) for partial parents only.

    Plan: one map-side-combined child histogram, one arithmetic parent
    key (pure codegen, no join) and one rollup on the parent — output
    bounded by occupied parents."""
    if res < 1:
        raise ValueError(f"res must be >= 1 (parents live at res-1), got {res}")
    n = 1 << res
    half = n >> 1
    hist = (
        assign_tiles(df, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    parent = (
        F.expr(f"(tile div {n}) div 2") * F.lit(half)
        + F.expr(f"(tile % {n}) div 2")
    )
    per = hist.groupBy(parent.alias("parent_tile")).agg(
        F.count(F.lit(1)).alias("n_children"),
        F.sum("n").alias("n_rows"),
    )
    return per.filter((F.col("n_children") >= 1) & (F.col("n_children") <= 3))


def visit_regularity(
    events: DataFrame,
    res: int,
    min_gaps: int = 2,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per (entity, cell) visit-rhythm audit: the exact integer moments
    of the entity's inter-visit gaps at that cell — n gaps, their sum,
    and the scaled population variance numerator
    ``n * sum(g^2) - (sum g)^2`` (variance = var_num / n^2; var_num = 0
    means metronome-regular visits, the commuter signature;
    cross-multiplied, so no float and merge-order independent).
    Computed in DECIMAL(38,0) and emitted as BIGINT (fixture spans keep
    every moment far below 2^63; at larger spans widen the output to
    the decimal). Returns (entity, tile, n_gaps, sum_gap, var_num)
    for pairs with at least ``min_gaps`` gaps.

    Plan: one lag window over the (entity, cell) partitioning, then one
    map-side-combined rollup on the same key — the shuffle is shared
    between the two."""
    if min_gaps < 1:
        raise ValueError(f"min_gaps must be >= 1, got {min_gaps}")
    from pyspark.sql import Window

    order = [F.col("__ep").asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    base = events.select(
        F.col(entity_col).alias("entity"),
        F.unix_timestamp(F.col(ts_col)).alias("__ep"),
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    )
    w = Window.partitionBy("entity", "tile").orderBy(*order)
    gaps = (
        base.withColumn("__prev", F.lag("__ep").over(w))
        .filter(F.col("__prev").isNotNull())
        .select("entity", "tile", (F.col("__ep") - F.col("__prev")).alias("g"))
    )
    dec = "decimal(38,0)"
    per = gaps.groupBy("entity", "tile").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("g").alias("sum_gap"),
        F.sum((F.col("g") * F.col("g")).cast(dec)).alias("__sq"),
    )
    var_num = (
        F.col("n_gaps").cast(dec) * F.col("__sq")
        - F.col("sum_gap").cast(dec) * F.col("sum_gap").cast(dec)
    )
    return per.filter(F.col("n_gaps") >= min_gaps).select(
        "entity", "tile", "n_gaps", "sum_gap",
        var_num.cast("long").alias("var_num"),
    )


def kanon_cells(
    events: DataFrame,
    res: int,
    k: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """k-anonymity release audit for mobility rollups: every
    (cell, epoch-hour) cohort whose distinct-entity count is below
    ``k`` — the rows that would re-identify users if the per-cell-hour
    histogram were published, and therefore the exact suppression list
    a release pipeline must drop or generalize (coarser cell / wider
    hour) before export. Returns (tile, hour, n_entities, n_events)
    for violating cohorts only.

    Plan: ONE map-side-combined groupBy on the (cell, hour) key with a
    distinct-entity count (standard two-phase expand) and a codegen'd
    filter — output bounded by violating cohorts."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hour = F.expr(f"unix_timestamp({ts_col}) div 3600")
    return (
        events.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            hour.alias("hour"),
            F.col(entity_col).alias("entity"),
        )
        .groupBy("tile", "hour")
        .agg(
            F.countDistinct("entity").alias("n_entities"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_entities") < k)
    )


def balanced_ranges(
    df: DataFrame,
    res: int,
    buckets: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Equal-mass range-partition planner — the number every 100 TB
    ingest needs before writing range-clustered files: walking the
    cell histogram in tile-key order, emit for each of ``buckets``
    cumulative-mass targets the first cell where cum * buckets >=
    total * k (exact integer thresholds, the ``tile_coverage_curve``
    device on the KEY order instead of the mass order). Feeding these
    cut cells to a range repartitioner yields partitions within one
    cell of equal row mass regardless of skew. Returns
    (bucket, cut_tile, cum_rows, total_rows).

    Plan: one map-side-combined histogram, one global-order window
    over the HISTOGRAM (sketch-sized, same justification as
    tile_coverage_curve), a constant ``buckets``-way fan and a
    min-rank rollup."""
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    from pyspark.sql import Window

    hist = (
        assign_tiles(df, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("tile").asc())
    ranked = hist.select(
        "tile",
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    total = hist.agg(F.sum("n").alias("total_rows"))
    ks = F.explode(
        F.array(*[F.lit(i) for i in range(1, buckets + 1)])
    ).alias("bucket")
    fan = ranked.crossJoin(F.broadcast(total)).select(
        "tile", "cum", "total_rows", ks
    )
    return (
        fan.filter(F.col("cum") * buckets >= F.col("total_rows") * F.col("bucket"))
        .groupBy("bucket")
        .agg(F.min(F.struct("tile", "cum", "total_rows")).alias("__b"))
        .select(
            "bucket",
            F.col("__b.tile").alias("cut_tile"),
            F.col("__b.cum").alias("cum_rows"),
            F.col("__b.total_rows").alias("total_rows"),
        )
    )


def user_cohorts(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    period_s: int = 604_800,
) -> DataFrame:
    """Cohort retention triangle — the standard activation/retention
    audit over any event stream: entities grouped by their first active
    period (epoch-week by default), then for each (cohort, periods
    since activation) the distinct entities still active. Read row-wise
    it is the classic retention triangle; column 0 is cohort size.
    Returns (cohort_period, periods_since, n_active) — exact integers.

    Plan: one (entity, period) distinct pass, an entity-keyed min
    window OVER THE SAME partitioning as the distinct's exchange (no
    extra shuffle), then one map-side-combined rollup on the tiny
    (cohort, delta) key."""
    if period_s < 1:
        raise ValueError(f"period_s must be >= 1, got {period_s}")
    from pyspark.sql import Window

    active = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.expr(f"unix_timestamp({ts_col}) div {period_s}").alias("period"),
        )
        .distinct()
    )
    w = Window.partitionBy("entity")
    cohorted = active.withColumn("cohort", F.min("period").over(w))
    return (
        cohorted.groupBy(
            F.col("cohort").alias("cohort_period"),
            (F.col("period") - F.col("cohort")).alias("periods_since"),
        )
        .agg(F.countDistinct("entity").alias("n_active"))
    )


def tile_diversity(
    events: DataFrame,
    res: int,
    type_col: str = "event_type",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-cell activity-mix diversity as the exact rational Simpson
    index: simpson_num / simpson_den = sum of squared per-type counts
    over the squared total — 1 means a single-use cell, 1/k means k
    perfectly balanced types (the integer-exact stand-in for type
    entropy, same contract as ``visit_concentration``). Returns
    (tile, n_events, n_types, simpson_num, simpson_den).

    Plan: one (cell, type) histogram, one map-side-combined cell
    rollup over it — the shuffle key of the second agg is a prefix of
    the first's, so the exchange is reused."""
    hist = (
        events.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            F.col(type_col).alias("t"),
        )
        .groupBy("tile", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return hist.groupBy("tile").agg(
        F.sum("cnt").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("simpson_num"),
        (F.sum("cnt") * F.sum("cnt")).alias("simpson_den"),
    )


def coverage_growth(
    events: DataFrame,
    res: int,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Coverage-growth curve — the ingest dashboard's "are we still
    discovering new places" number: per epoch-day, how many res-cells
    were seen for the FIRST time that day, plus the running cumulative.
    A flattening curve says the crawl saturated its region; a jump
    says a new feed came online. Returns (day, new_tiles, cum_tiles).

    Plan: reuses the ``tile_first_seen`` rollup (one histogram pass),
    then a day rollup and one global-order cumulative window over the
    DAY series (calendar-sized, the sketch-window justification)."""
    per_tile = tile_first_seen(events, res, ts_col=ts_col, lat=lat, lon=lon)
    from pyspark.sql import Window

    days = per_tile.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_tiles")
    )
    w = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return days.select(
        "day", "new_tiles", F.sum("new_tiles").over(w).alias("cum_tiles")
    )


def stay_home_index(
    events: DataFrame,
    res: int,
    entity_col: str = "user_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Stay-at-home index per entity: the share of the entity's events
    falling in its modal (home) cell, in exact milli units (1000 *
    home_count div total — no float ratio; ties to the smaller cell id,
    the ``user_home_tile`` convention). The population distribution of
    this number is the standard mobility-reduction dashboard metric.
    Returns (entity, home_tile, n_events, home_events, home_milli).

    Plan: one (entity, cell) histogram, one struct-max rollup on the
    entity key — the second exchange key is a prefix of the first's, so
    the planner reuses the exchange."""
    hist = (
        events.select(
            F.col(entity_col).alias("entity"),
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        )
        .groupBy("entity", "tile")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = hist.groupBy("entity").agg(
        F.sum("cnt").alias("n_events"),
        F.max(F.struct(F.col("cnt"), (-F.col("tile")).alias("nt"))).alias("__b"),
    )
    return best.select(
        "entity",
        (-F.col("__b.nt")).alias("home_tile"),
        "n_events",
        F.col("__b.cnt").alias("home_events"),
        F.expr("CAST(1000 * __b.cnt AS BIGINT) div n_events").alias("home_milli"),
    )


def dist_transform(
    df: DataFrame,
    res: int,
    max_d: int = 3,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Bounded Chebyshev distance transform of the occupancy raster:
    for every cell within ``max_d`` rings of an occupied cell, the
    exact distance to the NEAREST occupied cell (0 for occupied cells
    themselves) — the proximity raster behind "how far is anywhere
    from coverage", the service-area complement of ``coverage_gaps``.
    Cells farther than ``max_d`` are absent (unbounded transforms don't
    exist at 4^res scale; widen max_d deliberately). Returns
    (tile, dist, n_sources) where n_sources counts the occupied cells
    attaining that minimum.

    Plan: one map-side-combined occupancy pass, a (2*max_d+1)^2 offset
    fan of OCCUPIED cells only (each row carries its Chebyshev ring),
    one min-struct rollup per target cell — no lattice materialization,
    no joins."""
    if not 1 <= max_d <= 8:
        raise ValueError(f"max_d must be in [1, 8], got {max_d}")
    n = 1 << res
    occ = (
        assign_tiles(df, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select("tile")
    )
    ix, iy = tile_ixy("tile", n)
    ds = range(-max_d, max_d + 1)
    off = stencil(
        [(dx, dy, max(abs(dx), abs(dy))) for dx in ds for dy in ds], ("dx", "dy", "d")
    ).alias("o")
    fan = occ.select("tile", off).select(
        (ix + F.col("o.dx")).alias("nx"),
        (iy + F.col("o.dy")).alias("ny"),
        F.col("o.d").alias("d"),
    ).filter(in_grid("nx", "ny", n))
    counted = (
        fan.select(
            (F.col("nx") * F.lit(n) + F.col("ny")).alias("tile"), "d"
        )
        .groupBy("tile", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # ONE fan pass: the (tile, d) histogram is rolled up once; the
    # per-tile minimum falls out of a struct-min over the tiny
    # histogram rows (d <= max_d distinct values per tile)
    return (
        counted.groupBy("tile")
        .agg(F.min(F.struct(F.col("d"), F.col("cnt"))).alias("__b"))
        .select(
            "tile",
            F.col("__b.d").cast("int").alias("dist"),
            F.col("__b.cnt").alias("n_sources"),
        )
    )


def voronoi_assign(
    points: DataFrame,
    seeds: DataFrame,
    res: int,
    max_d: int = 3,
    lat: str = "lat",
    lon: str = "lon",
    seed_lat: str = "lat",
    seed_lon: str = "lon",
) -> DataFrame:
    """Discrete Voronoi allocation of the activity raster among
    facility cells: every occupied point cell within ``max_d``
    Chebyshev rings of a seed cell is assigned to its NEAREST seed
    cell (ties to the smaller seed id) together with the cell's point
    mass — the rasterized nearest-facility partition behind
    service-area balancing, the cell-granular analogue of the
    reference's nearest-named-feature lookup (LangToolsOSM enriches
    each entity from its closest candidate; here whole cells are
    allocated). Cells farther than ``max_d`` from every seed stay
    unassigned and are absent from the result (pair with
    ``dist_transform`` to audit them).

    Returns (tile, n_points, seed_tile, dist).

    Plan: two map-side-combined occupancy passes (points and seeds),
    a (2*max_d+1)^2 offset fan of SEED cells only carrying
    (seed_tile, ring), one lexicographic struct-min per covered cell,
    and one cell-granular join against the point histogram — no
    lattice materialization, no point-level shuffle; both join sides
    are bounded by the occupied-cell count (<= 4^res), not the row
    count, so the shape is unchanged at 10^12 points."""
    if not 1 <= max_d <= 8:
        raise ValueError(f"max_d must be in [1, 8], got {max_d}")
    n = 1 << res
    seed_cells = (
        assign_tiles(seeds, res, lat=seed_lat, lon=seed_lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(F.col("tile").alias("seed_tile"))
    )
    pts = (
        assign_tiles(points, res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    ix, iy = tile_ixy("seed_tile", n)
    ds = range(-max_d, max_d + 1)
    off = stencil(
        [(dx, dy, max(abs(dx), abs(dy))) for dx in ds for dy in ds], ("dx", "dy", "d")
    ).alias("o")
    fan = (
        seed_cells.select("seed_tile", off)
        .select(
            (ix + F.col("o.dx")).alias("nx"),
            (iy + F.col("o.dy")).alias("ny"),
            F.col("o.d").alias("d"),
            "seed_tile",
        )
        .filter(in_grid("nx", "ny", n))
    )
    best = (
        fan.select(
            (F.col("nx") * F.lit(n) + F.col("ny")).alias("tile"),
            "d",
            "seed_tile",
        )
        .groupBy("tile")
        .agg(F.min(F.struct(F.col("d"), F.col("seed_tile"))).alias("__b"))
        .select(
            "tile",
            F.col("__b.seed_tile").alias("seed_tile"),
            F.col("__b.d").cast("int").alias("dist"),
        )
    )
    return pts.join(best, "tile").select("tile", "n_points", "seed_tile", "dist")


def majority_pyramid(
    df: DataFrame,
    cat_col: str,
    res_hi: int,
    res_lo: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Categorical-raster pyramid by MAJORITY rule — the land-use /
    class-map downsampling path (``tile_pyramid`` sums counts; a class
    raster must vote instead): the res_hi base assigns each occupied
    cell its modal category from raw rows, then each coarser level's
    cell takes the majority of its CHILD CELLS' modes (one vote per
    occupied child; ties to the lexicographically smaller category —
    the deterministic stand-in for GDAL's visit order). Returns the
    res_lo level: (tile, mode, n_children, n_votes) where n_children
    counts occupied child cells one level up.

    Plan: one map-side-combined (cell, cat) histogram, one struct-min
    argmax per level, and parent-index arithmetic between levels —
    every frame is bounded by occupied cells, the promotion rounds are
    res_hi - res_lo fixed metadata-free aggregations (no joins)."""
    if not 0 <= res_lo < res_hi:
        raise ValueError(
            f"need 0 <= res_lo < res_hi, got res_lo={res_lo} res_hi={res_hi}"
        )

    def _mode(votes: DataFrame, n: int):
        return (
            votes.groupBy("tile")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("votes")).alias("nv"), F.col("mode").alias("c")
                    )
                ).alias("__b"),
                F.sum("votes").alias("n_children"),
            )
            .select(
                "tile",
                F.col("__b.c").alias("mode"),
                "n_children",
                (-F.col("__b.nv")).alias("n_votes"),
            )
        )

    base = (
        assign_tiles(df.select(cat_col, lat, lon), res_hi, lat=lat, lon=lon)
        .groupBy("tile", F.col(cat_col).alias("mode"))
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    cur = _mode(base, 1 << res_hi)
    for r in range(res_hi, res_lo, -1):
        n, m = 1 << r, 1 << (r - 1)
        ix, iy = tile_ixy("tile", n)
        parent = (ix / 2).cast("long") * m + (iy / 2).cast("long")
        votes = cur.select(parent.alias("tile"), "mode").groupBy(
            "tile", "mode"
        ).agg(F.count(F.lit(1)).alias("votes"))
        cur = _mode(votes, m)
    return cur


def tile_autocov(
    df: DataFrame,
    res: int,
    max_lag: int = 3,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-cell temporal autocovariance of the DAILY count series at
    lags 1..max_lag — the rhythm detector (weekly commuting beats,
    one-off bursts) behind ``tile_burstiness``'s blind spot: burstiness
    sees dispersion, autocovariance sees PERIOD. Missing days are real
    zeros; they never materialize — with the global day span
    [d0, d1], D = d1 - d0 + 1 and per tile/lag

        cov_num = (D-k) * sum_t(c_t * c_{t+k}) - head_sum * tail_sum,
        cov_den = (D-k)^2

    where head/tail are the lag-aligned marginal sums (days <= d1-k /
    >= d0+k): the exact integer numerator of the standard aligned-
    segment covariance estimator, zeros contributing only through the
    span arithmetic. Returns (tile, lag_k, n_terms, sum_prod,
    head_sum, tail_sum, cov_num).

    Plan: ONE (cell, day) histogram pinned (it feeds the lag self-join
    twice and both marginals), a broadcast 2-value span frame, one
    lag-offset equi-join, three cell-keyed rollups stitched by left
    joins over the occupied-cell x lag base — per-cell work is linear
    in occupied days, never in the day span."""
    if not 1 <= max_lag <= 16:
        raise ValueError(f"max_lag must be in [1, 16], got {max_lag}")
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    h = (
        assign_tiles(df.select(ts_col, lat, lon), res, lat=lat, lon=lon)
        .select("tile", day.alias("day"))
        .groupBy("tile", "day")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    span = h.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    ks = F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)])).alias(
        "lag_k"
    )
    hk = h.select("tile", "day", "c", ks)
    prod = (
        hk.alias("a")
        .join(
            h.alias("b"),
            (F.col("b.tile") == F.col("a.tile"))
            & (F.col("b.day") == F.col("a.day") + F.col("a.lag_k")),
        )
        .groupBy(F.col("a.tile").alias("tile"), F.col("a.lag_k").alias("lag_k"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("sum_prod"))
    )
    withspan = hk.crossJoin(F.broadcast(span))
    head = (
        withspan.filter(F.col("day") <= F.col("d1") - F.col("lag_k"))
        .groupBy("tile", "lag_k")
        .agg(F.sum("c").alias("head_sum"))
    )
    tail = (
        withspan.filter(F.col("day") >= F.col("d0") + F.col("lag_k"))
        .groupBy("tile", "lag_k")
        .agg(F.sum("c").alias("tail_sum"))
    )
    base = h.select("tile").distinct().select("tile", ks).crossJoin(
        F.broadcast(span)
    )
    out = (
        base.join(prod, ["tile", "lag_k"], "left")
        .join(head, ["tile", "lag_k"], "left")
        .join(tail, ["tile", "lag_k"], "left")
        .select(
            "tile",
            "lag_k",
            (F.col("d1") - F.col("d0") + 1 - F.col("lag_k")).alias("n_terms"),
            F.coalesce(F.col("sum_prod"), F.lit(0)).alias("sum_prod"),
            F.coalesce(F.col("head_sum"), F.lit(0)).alias("head_sum"),
            F.coalesce(F.col("tail_sum"), F.lit(0)).alias("tail_sum"),
        )
    )
    return out.withColumn(
        "cov_num",
        F.col("n_terms") * F.col("sum_prod")
        - F.col("head_sum") * F.col("tail_sum"),
    )


def tile_trend(
    df: DataFrame,
    res: int,
    value_col: str = "value",
    ts_col: str = "ts",
    q_scale: int = 1000,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-cell temporal TREND of a measure — the OLS slope of
    quantized value against event day as an exact rational:

        slope = slope_num / slope_den,
        slope_num = n * sum(t*y) - sum(t) * sum(y),
        slope_den = n * sum(t^2) - sum(t)^2

    over y = round(value * q_scale) integers and t = epoch day (the
    slope is shift-invariant in t, so raw epoch days are used; with
    day ~ 2e4, y <= ~1e6 and per-cell n <= ~1e6 every term stays under
    2^63 — widen to DECIMAL only past that). A positive slope is a
    heating cell, negative a cooling one; ``tile_changepoint`` finds
    WHERE a shift happens, this ranks cells by sustained drift.
    Returns (tile, n_events, sum_t, sum_y, slope_num, slope_den).

    Timestamps are assumed NON-NEGATIVE epoch (>= 1970): the day/hour
    bucketing here (and in tile_bimodality / the hour helpers) uses
    Spark's toward-zero integer division, which matches the oracle's
    DuckDB ``//`` floor division only for non-negative epochs — a
    pre-1970 timestamp would bucket differently in the two engines
    (round-7 ADVICE; all mobility fixtures and real capture data are
    post-1970).

    Plan: one map-side-combined five-sum rollup per cell — no joins,
    no second scan, merge-order independent (integer sums)."""
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    yq = F.round(F.col(value_col).cast("double") * q_scale).cast("long")
    base = assign_tiles(
        df.select(value_col, ts_col, lat, lon), res, lat=lat, lon=lon
    ).select("tile", day.alias("t"), yq.alias("y"))
    agg = base.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("t").alias("sum_t"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("t") * F.col("y")).alias("__sty"),
        F.sum(F.col("t") * F.col("t")).alias("__stt"),
    )
    return agg.select(
        "tile", "n_events", "sum_t", "sum_y",
        (
            F.col("n_events") * F.col("__sty")
            - F.col("sum_t") * F.col("sum_y")
        ).alias("slope_num"),
        (
            F.col("n_events") * F.col("__stt")
            - F.col("sum_t") * F.col("sum_t")
        ).alias("slope_den"),
    )


def tile_bimodality(
    df: DataFrame,
    res: int,
    ts_col: str = "ts",
    min_events: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-cell hour-of-day BIMODALITY — the commuter-cell detector: a
    cell whose activity clumps at two rush hours scores high on Sarle's
    bimodality coefficient b = (skew^2 + 1) / kurtosis, while a
    uniform-traffic cell sits near 5/9 and a single-peak cell below it.
    Computed EXACTLY from the integer raw-moment sums s1..s4 of the hour
    value y in 0..23 via the scaled central moments

        M2 = n*s2 - s1^2            (= n^2 * m2)
        M3 = n^2*s3 - 3n*s1*s2 + 2*s1^3     (= n^3 * m3)
        M4 = n^3*s4 - 4n^2*s1*s3 + 6n*s1^2*s2 - 3*s1^4   (= n^4 * m4)

    so b = (M3^2 + M2^3) / (M2 * M4) — every n-power cancels. Raw sums
    stay int64 to n ~ 3e13 per cell; the M3^2/M2^3 products are done in
    DECIMAL(38,0) (exact to n ~ 1e5 per cell; the ANSI overflow raise is
    the loud bound beyond). Returns (tile, n_events, m2n, bc_milli) with
    bc quantized to exact milli (NULL when M2 = 0 — a single-hour cell
    has no defined kurtosis). Plan: one map-side-combined five-sum
    rollup, closed-form algebra after — no joins, no second scan."""
    if min_events < 1:
        raise ValueError(f"min_events must be >= 1, got {min_events}")
    ep = F.unix_timestamp(F.col(ts_col))
    base = assign_tiles(
        df.select(ts_col, lat, lon), res, lat=lat, lon=lon
    ).select("tile", ep.alias("__ep")).select(
        "tile", F.expr("(__ep % 86400) div 3600").alias("y")
    )
    agg = (
        base.groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("s1"),
            F.sum(F.col("y") * F.col("y")).alias("s2"),
            F.sum(F.col("y") * F.col("y") * F.col("y")).alias("s3"),
            F.sum(F.col("y") * F.col("y") * F.col("y") * F.col("y")).alias("s4"),
        )
        .filter(F.col("n") >= min_events)
    )
    dec = "decimal(38,0)"
    m2 = F.expr(f"CAST(n AS {dec}) * s2 - CAST(s1 AS {dec}) * s1")
    m3 = F.expr(
        f"CAST(n AS {dec}) * n * s3 - 3 * CAST(n AS {dec}) * s1 * s2"
        f" + 2 * CAST(s1 AS {dec}) * s1 * s1"
    )
    m4 = F.expr(
        f"CAST(n AS {dec}) * n * n * s4 - 4 * CAST(n AS {dec}) * n * s1 * s3"
        f" + 6 * CAST(n AS {dec}) * s1 * s1 * s2"
        f" - 3 * CAST(s1 AS {dec}) * s1 * s1 * s1"
    )
    wd = agg.withColumns({"__m2": m2, "__m3": m3, "__m4": m4})
    return wd.select(
        "tile",
        F.col("n").alias("n_events"),
        F.col("__m2").cast("long").alias("m2n"),
        F.when(
            F.col("__m2") != 0,
            F.expr(
                "CAST((1000 * (__m3 * __m3 + __m2 * __m2 * __m2))"
                " div (__m2 * __m4) AS BIGINT)"
            ),
        ).alias("bc_milli"),
    )



def grid_histogram(
    df: DataFrame, res: int, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    """(ix, iy, cnt): the clamped integer-grid occupancy histogram every
    raster operator starts from — ONE map-side-combined rollup whose
    output is bounded by occupied cells, never facts. Shared by
    lacunarity_curve / raster_slope_aspect / hotspot_profile /
    tile_isolation (and mirrored verbatim by their oracles)."""
    gx, gy = grid_ixy(lat, lon, res)
    return (
        df.select(gx.alias("ix"), gy.alias("iy"))
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lacunarity_curve(
    df: DataFrame,
    res: int,
    box_sizes: tuple = (1, 2, 4),
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Gliding-box LACUNARITY of the occupancy raster (Allain & Cloitre
    1991) — the texture/gappiness signature fractal geography uses to
    tell clumped from evenly-spread point fields at each scale: for every
    box size r, slide an r x r window over the occupied bounding box and
    score Lambda(r) = n_boxes * sum(S^2) / sum(S)^2 over the window sums
    S. Lambda ~ 1 means translation-invariant mass; big Lambda means
    gaps and clumps at that scale. Exact integers: returns one row per
    box size (box_r, n_boxes, sum_s, sum_s2, lac_num, lac_den) with
    lac = lac_num / lac_den.

    Plan: ONE map-side-combined (ix, iy, cnt) histogram; each occupied
    cell fans over the r^2 window origins that contain it (only
    non-empty windows ever materialize — empty windows contribute S = 0
    to no sum and enter only the closed-form n_boxes from the bbox
    dims); one rollup per (r, window), one per r. Fan-out is
    sum(r^2) * occupied cells — histogram-scale, never fact-scale."""
    for r in box_sizes:
        if r < 1:
            raise ValueError(f"box sizes must be >= 1, got {r}")
    hist = grid_histogram(df, res, lat=lat, lon=lon)
    bbox = hist.agg(
        F.min("ix").alias("x0"), F.max("ix").alias("x1"),
        F.min("iy").alias("y0"), F.max("iy").alias("y1"),
    )
    fan = (
        hist.select(
            "ix", "iy", "cnt",
            F.explode(F.array(*[F.lit(int(r)) for r in box_sizes])).alias("r"),
        )
        .select(
            "ix", "iy", "cnt", "r",
            F.explode(F.sequence(F.lit(0), F.col("r") - 1)).alias("dx"),
        )
        .select(
            "ix", "iy", "cnt", "r", "dx",
            F.explode(F.sequence(F.lit(0), F.col("r") - 1)).alias("dy"),
        )
        .select(
            "r", "cnt",
            (F.col("ix") - F.col("dx")).alias("wx"),
            (F.col("iy") - F.col("dy")).alias("wy"),
        )
    )
    wins = (
        fan.crossJoin(F.broadcast(bbox))
        .filter(
            (F.col("wx") >= F.col("x0"))
            & (F.col("wx") <= F.col("x1") - F.col("r") + 1)
            & (F.col("wy") >= F.col("y0"))
            & (F.col("wy") <= F.col("y1") - F.col("r") + 1)
        )
        .groupBy("r", "wx", "wy")
        .agg(F.sum("cnt").alias("s"))
    )
    per_r = wins.groupBy("r").agg(
        F.sum("s").alias("sum_s"),
        F.sum(F.col("s") * F.col("s")).alias("sum_s2"),
    )
    return (
        per_r.crossJoin(F.broadcast(bbox))
        .select(
            F.col("r").alias("box_r"),
            (
                (F.col("x1") - F.col("x0") - F.col("r") + 2)
                * (F.col("y1") - F.col("y0") - F.col("r") + 2)
            ).alias("n_boxes"),
            "sum_s", "sum_s2",
        )
        .filter(F.col("n_boxes") > 0)
        .withColumns(
            {
                "lac_num": F.col("n_boxes") * F.col("sum_s2"),
                "lac_den": F.col("sum_s") * F.col("sum_s"),
            }
        )
    )


# integer atan2 octant of a gradient (gx east, gy north): one shared SQL
# literal evaluated by BOTH Spark (F.expr) and the DuckDB oracle, so the
# sector boundaries cannot drift between engines. Sectors are half-open,
# counterclockwise from east; -1 = flat.
GRAD_OCTANT_SQL = """CASE
  WHEN gx = 0 AND gy = 0 THEN -1
  WHEN gx > 0 AND gy >= 0 AND gx > gy THEN 0
  WHEN gy > 0 AND gx > 0 AND gy >= gx THEN 1
  WHEN gy > 0 AND gx <= 0 AND gy > -gx THEN 2
  WHEN gx < 0 AND gy > 0 AND -gx >= gy THEN 3
  WHEN gx < 0 AND gy <= 0 AND -gx > -gy THEN 4
  WHEN gy < 0 AND gx < 0 AND -gy >= -gx THEN 5
  WHEN gy < 0 AND gx >= 0 AND -gy > gx THEN 6
  ELSE 7 END"""

# Horn 1981 stencil: source cell at relative (rx, ry) from the target
# contributes cnt * cx to gx and cnt * cy to gy
_HORN_COEFS = (
    (1, 1, 1, 1), (1, 0, 2, 0), (1, -1, 1, -1),
    (0, 1, 0, 2), (0, -1, 0, -2),
    (-1, 1, -1, 1), (-1, 0, -2, 0), (-1, -1, -1, -1),
)


def raster_slope_aspect(
    df: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Slope/aspect of the density raster — Horn's (1981) 3x3 finite
    difference, the DEM operator every terrain stack ships, applied to
    the point-count surface: per OCCUPIED cell the integer gradient
    (gx east, gy north) with absent neighbors as 0, the squared
    magnitude (monotone in slope — no sqrt enters the gate), and the
    aspect octant 0..7 counterclockwise from east (-1 = flat). Density
    gradients rank where activity falls off fastest and point downhill
    toward quiet zones — the raster sibling of ``semantic_drift``.

    Plan: ONE map-side-combined histogram; each occupied cell fans over
    the 8 Horn coefficient slots of its neighbors (histogram rows only),
    one rollup per target cell, inner-join back to the histogram to keep
    occupied cells. The octant is a shared SQL literal (GRAD_OCTANT_SQL)
    evaluated identically by Spark and the oracle."""
    hist = grid_histogram(df, res, lat=lat, lon=lon)
    coefs = stencil(_HORN_COEFS, ("rx", "ry", "cx", "cy")).alias("c")
    grad = (
        hist.select("ix", "iy", "cnt", coefs)
        .select(
            (F.col("ix") - F.col("c.rx")).alias("tx"),
            (F.col("iy") - F.col("c.ry")).alias("ty"),
            (F.col("cnt") * F.col("c.cx")).alias("px"),
            (F.col("cnt") * F.col("c.cy")).alias("py"),
        )
        .groupBy("tx", "ty")
        .agg(F.sum("px").alias("gx"), F.sum("py").alias("gy"))
    )
    return (
        hist.join(
            grad,
            (F.col("ix") == F.col("tx")) & (F.col("iy") == F.col("ty")),
            "left",
        )
        .select(
            "ix", "iy", "cnt",
            F.coalesce("gx", F.lit(0)).alias("gx"),
            F.coalesce("gy", F.lit(0)).alias("gy"),
        )
        .withColumns(
            {
                "mag2": F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy"),
                "octant": F.expr(GRAD_OCTANT_SQL).cast("int"),
            }
        )
    )


def hotspot_profile(
    df: DataFrame,
    res: int,
    top_k: int = 20,
    max_ring: int = 3,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Radial DENSITY PROFILE around the top-k hottest cells: for each
    hot cell and each Chebyshev ring r = 0..max_ring, the number of
    occupied cells and total events on that ring — the decay signature
    that separates a point anomaly (all mass at r=0) from a district
    (gentle decay) and the input a center-vs-sprawl classifier needs.
    Hot cells are the top ``top_k`` by (count DESC, ix ASC, iy ASC) —
    the deterministic tie-break every ranking op here uses. Returns
    (hot_ix, hot_iy, hot_cnt, ring, n_cells, sum_cnt); rings with zero
    occupied cells are absent (ring 0 always present).

    Plan: one map-side-combined histogram; the top-k is a k-row sort of
    histogram rows; the ring census is hot-cells x (2*max_ring+1)^2
    offsets equi-joined back to the histogram — k * constant, never
    fact-scale."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if max_ring < 0:
        raise ValueError(f"max_ring must be >= 0, got {max_ring}")
    hist = grid_histogram(df, res, lat=lat, lon=lon).localCheckpoint(
        eager=True
    )  # feeds both the top-k and the census
    hot = (
        hist.orderBy(F.col("cnt").desc(), F.col("ix").asc(), F.col("iy").asc())
        .limit(top_k)
        .select(
            F.col("ix").alias("hot_ix"), F.col("iy").alias("hot_iy"),
            F.col("cnt").alias("hot_cnt"),
        )
    )
    ds = range(-max_ring, max_ring + 1)
    offs = stencil([(dx, dy) for dx in ds for dy in ds]).alias("o")
    fan = hot.select("hot_ix", "hot_iy", "hot_cnt", offs).select(
        "hot_ix", "hot_iy", "hot_cnt",
        (F.col("hot_ix") + F.col("o.dx")).alias("nx"),
        (F.col("hot_iy") + F.col("o.dy")).alias("ny"),
        F.greatest(F.abs(F.col("o.dx")), F.abs(F.col("o.dy"))).alias("ring"),
    )
    # the fan is k * (2*max_ring+1)^2 rows — always the broadcast side;
    # the histogram can be millions of cells at 100x and stays partitioned
    return (
        hist.join(
            F.broadcast(fan),
            (F.col("nx") == F.col("ix")) & (F.col("ny") == F.col("iy")),
        )
        .groupBy("hot_ix", "hot_iy", "hot_cnt", "ring")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("cnt").alias("sum_cnt"),
        )
    )


def centroid_drift(
    df: DataFrame,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Day-over-day ACTIVITY-CENTER drift: per day the exact integer
    centroid moments (n, sum_x, sum_y in micro-degrees) of all events,
    plus the displacement from the previous observed day as the exact
    rational (dx, dy) = (sx/n - psx/pn, sy/n - psy/pn) cross-multiplied:

        dx_num = sx * pn - psx * n,   dy_num = sy * pn - psy * n,
        den    = n * pn

    — the event-field version of a population-center time series; a
    sudden centroid jump flags a data outage in one region, a festival,
    or an ingest bug faster than any per-cell monitor. First observed
    day reports NULL drift. Returns (day, n_events, sum_x, sum_y,
    dx_num, dy_num, drift_den).

    Plan: one map-side-combined daily rollup (output is at most the
    distinct-day count), one lag window over those few rows. int64
    holds while daily_events * coord * prev_daily_events < 2^63 —
    ~5e9 events/day at city scale; widen to DECIMAL beyond."""
    from pyspark.sql import Window

    base = df.select(
        F.expr(
            f"div(unix_timestamp({ts_col}), 86400)"
        ).alias("day"),
        micro_deg(lat).alias("x"),
        micro_deg(lon).alias("y"),
    )
    daily = base.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
    )
    w = Window.orderBy("day")
    return (
        daily.withColumns(
            {
                "__pn": F.lag("n_events").over(w),
                "__px": F.lag("sum_x").over(w),
                "__py": F.lag("sum_y").over(w),
            }
        )
        .select(
            "day", "n_events", "sum_x", "sum_y",
            (
                F.col("sum_x") * F.col("__pn")
                - F.col("__px") * F.col("n_events")
            ).alias("dx_num"),
            (
                F.col("sum_y") * F.col("__pn")
                - F.col("__py") * F.col("n_events")
            ).alias("dy_num"),
            (F.col("n_events") * F.col("__pn")).alias("drift_den"),
        )
    )


def tile_isolation(
    df: DataFrame,
    res: int,
    max_r: int = 4,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Nearest-occupied-neighbor distance per cell — the raster
    Clark-Evans ingredient: for every occupied cell, the smallest
    Chebyshev ring 1..``max_r`` containing another occupied cell, or
    ``max_r + 1`` when none is that close (right-censored, reported
    explicitly — isolated outposts are exactly the interesting rows:
    data-entry outliers, lone sensors, spoofed coordinates). Returns
    (ix, iy, cnt, nnd).

    Plan: one map-side-combined histogram; each occupied cell fans over
    the (2*max_r+1)^2 - 1 neighbor offsets (histogram rows only), one
    min-rollup per cell, then a left join back to tag censored cells —
    histogram x constant, never fact-scale."""
    if max_r < 1:
        raise ValueError(f"max_r must be >= 1, got {max_r}")
    hist = grid_histogram(df, res, lat=lat, lon=lon).localCheckpoint(
        eager=True
    )  # fan side and probe side share it
    ds = range(-max_r, max_r + 1)
    offs = stencil([(dx, dy) for dx in ds for dy in ds if dx or dy]).alias("o")
    fan = hist.select("ix", "iy", offs).select(
        (F.col("ix") + F.col("o.dx")).alias("nx"),
        (F.col("iy") + F.col("o.dy")).alias("ny"),
        F.col("ix").alias("six"), F.col("iy").alias("siy"),
        F.greatest(F.abs(F.col("o.dx")), F.abs(F.col("o.dy"))).alias("ring"),
    )
    near = (
        fan.join(
            hist.select(F.col("ix").alias("nx"), F.col("iy").alias("ny")),
            ["nx", "ny"],
        )
        .groupBy("six", "siy")
        .agg(F.min("ring").alias("__nnd"))
    )
    return (
        hist.join(
            near,
            (F.col("ix") == F.col("six")) & (F.col("iy") == F.col("siy")),
            "left",
        )
        .select(
            "ix", "iy", "cnt",
            F.coalesce(F.col("__nnd"), F.lit(max_r + 1))
            .cast("long").alias("nnd"),
        )
    )


def temporal_drift(
    df: DataFrame,
    res: int,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Temporal-REGIME drift between adjacent cells: for every occupied
    cell and its east / north occupied neighbor, the exact integer
    sufficient statistics of the cosine between their 24-bin
    hour-of-day activity histograms — (dot, na2, nb2) with
    cos = dot / sqrt(na2 * nb2) left to the consumer. A low cosine
    across a shared edge marks a temporal-regime boundary (an office
    park beside a nightlife block); ``semantic_drift`` is the embedding
    sibling, this is the rhythm sibling. Returns
    (ix, iy, dir, dot, na2, nb2) with dir 'E' or 'N'.

    Plan: ONE map-side-combined (cell, hour) histogram feeding both
    join sides (pinned), two hour-aligned equi-joins over the +1
    offsets, one rollup per edge — histogram-scale; missing hours
    contribute zero to every sum, so the inner join on hour is exact."""
    gx, gy = grid_ixy(lat, lon, res)
    hist = (
        df.select(
            gx.alias("ix"),
            gy.alias("iy"),
            F.expr(f"(unix_timestamp({ts_col}) % 86400) div 3600").alias("h"),
        )
        .groupBy("ix", "iy", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    norms = hist.groupBy("ix", "iy").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("n2")
    )
    out = []
    for dname, dx, dy in (("E", 1, 0), ("N", 0, 1)):
        # edges = occupied cell x occupied neighbor (norms pair); the
        # dot LEFT-joins so orthogonal profiles (no shared hour — the
        # sharpest regime boundary) report dot = 0, never vanish
        b = hist.select(
            (F.col("ix") - F.lit(dx)).alias("ix"),
            (F.col("iy") - F.lit(dy)).alias("iy"),
            F.col("h"), F.col("cnt").alias("cnt_b"),
        )
        dots = (
            hist.join(b, ["ix", "iy", "h"])
            .groupBy("ix", "iy")
            .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("dot"))
        )
        nb = norms.select(
            (F.col("ix") - F.lit(dx)).alias("ix"),
            (F.col("iy") - F.lit(dy)).alias("iy"),
            F.col("n2").alias("nb2"),
        )
        out.append(
            norms.join(nb, ["ix", "iy"])
            .join(dots, ["ix", "iy"], "left")
            .select(
                "ix", "iy", F.lit(dname).alias("dir"),
                F.coalesce("dot", F.lit(0)).alias("dot"),
                F.col("n2").alias("na2"), "nb2",
            )
        )
    return out[0].unionByName(out[1])


def tile_peak_hour(
    df: DataFrame,
    res: int,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-cell PEAK HOUR map: the hour of day with the most activity
    (ties to the SMALLEST hour — deterministic) and its share of the
    cell's events in exact milli — the one-glance commute signature a
    tile server renders (morning-peak cells vs evening-peak vs flat).
    Returns (tile, peak_hour, peak_cnt, n_events, share_milli).

    Plan: one map-side-combined (tile, hour) histogram, one max-struct
    rollup per tile — argmax by (cnt, -hour) lexicographic so the tie
    rule is an expression, not an ORDER BY."""
    ep = F.expr(f"(unix_timestamp({ts_col}) % 86400) div 3600")
    base = assign_tiles(
        df.select(ts_col, lat, lon), res, lat=lat, lon=lon
    ).select("tile", ep.alias("h"))
    hist = base.groupBy("tile", "h").agg(F.count(F.lit(1)).alias("cnt"))
    agg = hist.groupBy("tile").agg(
        F.max(
            F.struct(F.col("cnt").alias("c"), (-F.col("h")).alias("nh"))
        ).alias("m"),
        F.sum("cnt").alias("n_events"),
    )
    return agg.select(
        "tile",
        (-F.col("m.nh")).alias("peak_hour"),
        F.col("m.c").alias("peak_cnt"),
        "n_events",
        F.expr("1000 * m.c div n_events").alias("share_milli"),
    )


def od_weekend_shift(
    events: DataFrame,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Weekend-vs-weekday OD REGIME SHIFT: the exact cross-multiplied L1
    distance between the weekend and weekday origin-destination flow
    distributions,

        shift_num = sum over OD pairs |c_we * N_wd - c_wd * N_we|,
        shift_den = N_we * N_wd

    (0 = identical mobility structure, 2*den = disjoint) — the one-number
    answer to "does this city move differently on weekends", feeding
    schedule-aware routing and anomaly baselines. A transition is
    weekend iff its DESTINATION timestamp falls on arithmetic dow 0/6
    ((days + 4) %% 7, 0 = Sunday — the st_cube dialect-safe spelling).
    Returns ONE row (n_we, n_wd, shift_num, shift_den).

    Plan: one lag window on the entity key, one OD rollup with two
    conditional counts, one single-row combine. int64 holds while
    per-pair count * total < 2^63 (~1e9 trips against 1e9 totals needs
    DECIMAL — far past any fixture)."""
    from pyspark.sql import Window

    w = Window.partitionBy("entity").orderBy("ts", "eid")
    ep = F.unix_timestamp(F.col(ts_col))
    dow = ((ep / F.lit(86400)).cast("long") + 4) % 7
    base = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("eid"),
            tile_key_col(F.col(lat), F.col(lon), res).alias("to_tile"),
            F.when(dow.isin(0, 6), F.lit(1)).otherwise(F.lit(0)).alias("we"),
        )
        .withColumn("from_tile", F.lag("to_tile").over(w))
        .filter(F.col("from_tile").isNotNull())
    )
    od = base.groupBy("from_tile", "to_tile").agg(
        F.sum("we").alias("c_we"),
        F.sum(F.lit(1) - F.col("we")).alias("c_wd"),
    )
    tot = od.agg(
        F.sum("c_we").alias("n_we"), F.sum("c_wd").alias("n_wd")
    )
    return (
        od.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n_we").alias("n_we"),
            F.first("n_wd").alias("n_wd"),
            F.sum(
                F.abs(
                    F.col("c_we") * F.col("n_wd")
                    - F.col("c_wd") * F.col("n_we")
                )
            ).alias("shift_num"),
        )
        .withColumn("shift_den", F.col("n_we") * F.col("n_wd"))
    )


def od_concentration(
    events: DataFrame,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-origin FLOW CONCENTRATION: the exact Herfindahl of each
    origin cell's outgoing destination distribution —
    hhi = hhi_num / hhi_den with hhi_num = sum of per-destination trip
    counts squared and hhi_den = (total outgoing)^2; 1/n_dests <= hhi
    <= 1. A commuter dormitory (everyone goes to the same station)
    scores near 1, a mixed-use district spreads low — the routing-cache
    and transit-demand signal ``visit_concentration`` gives per entity,
    lifted to the grid. Returns (from_tile, n_dests, n_out, hhi_num,
    hhi_den).

    Plan: one lag window on the entity key, one OD rollup, one
    per-origin rollup — all map-side combined; int64 holds while the
    busiest origin's total outgoing stays under ~3e9 trips."""
    from pyspark.sql import Window

    w = Window.partitionBy("entity").orderBy("ts", "eid")
    base = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("eid"),
            tile_key_col(F.col(lat), F.col(lon), res).alias("to_tile"),
        )
        .withColumn("from_tile", F.lag("to_tile").over(w))
        .filter(F.col("from_tile").isNotNull())
    )
    od = base.groupBy("from_tile", "to_tile").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        od.groupBy("from_tile")
        .agg(
            F.count(F.lit(1)).alias("n_dests"),
            F.sum("c").alias("n_out"),
            F.sum(F.col("c") * F.col("c")).alias("hhi_num"),
        )
        .withColumn("hhi_den", F.col("n_out") * F.col("n_out"))
    )


def hour_type_mix(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Hour-of-day x event-type INDEPENDENCE residuals: for every
    (hour, type) cell of the contingency table, the observed count and
    the exact cross-multiplied deviation from the independence
    expectation n_hour * n_type / N:

        res_num = obs * N - n_hour * n_type,   res_den = N

    (positive = over-represented: purchases clustering at lunch, errors
    at the nightly batch window — the behavioral-mix audit behind
    alerting baselines). Returns (hour, etype, obs, n_hour, n_type,
    res_num, res_den); chi-square consumers square/divide downstream.

    Plan: one map-side-combined (hour, type) rollup, two broadcast
    marginals joined back, one single-row total — output is
    |hours| x |types|, constant. int64 holds to ~3e9 events."""
    base = df.select(
        F.expr(f"(unix_timestamp({ts_col}) % 86400) div 3600").alias("hour"),
        F.col(type_col).alias("etype"),
    )
    obs = base.groupBy("hour", "etype").agg(F.count(F.lit(1)).alias("obs"))
    mh = obs.groupBy("hour").agg(F.sum("obs").alias("n_hour"))
    mt = obs.groupBy("etype").agg(F.sum("obs").alias("n_type"))
    tot = obs.agg(F.sum("obs").alias("n_total"))
    return (
        obs.join(F.broadcast(mh), "hour")
        .join(F.broadcast(mt), "etype")
        .crossJoin(F.broadcast(tot))
        .select(
            "hour", "etype", "obs", "n_hour", "n_type",
            (
                F.col("obs") * F.col("n_total")
                - F.col("n_hour") * F.col("n_type")
            ).alias("res_num"),
            F.col("n_total").alias("res_den"),
        )
    )
