"""Density heatmap rasterization: point sets -> per-tile pixel
histograms -> rendered PNG raster tiles.

The raster<->vector bridge in the opposite direction from
``operators/spatial.py rasterize_polygons``: instead of burning vector
geometry into tile ids, this burns point DENSITY into tile IMAGES — the
standard web-map heatmap layer (the reference renders its results as
MediaWiki tables, src/write_osm_objects_report.py; a tiled image layer is
the engine's at-scale visualization analogue).

Plan shape: one JVM-side projection derives (tile, px, py) from each
point with pure floor/shift arithmetic (the pixel grid at resolution
``res`` with ``tile_px`` pixels per tile edge is just the flat tile grid
at a finer scale, so ``gx >> log2(tile_px)`` is the tile and
``gx & (tile_px - 1)`` the pixel — whole-stage codegen, SQL-parity);
one groupBy (map-side partial) builds the sparse histogram; rendering is
one ``applyInPandas`` per tile over the (already tiny) histogram rows.
Nothing driver-side, nothing quadratic: the histogram is bounded by
min(n_points, tiles * tile_px^2) rows regardless of input size, and only
NON-EMPTY tiles materialize.

Intensity mapping is ``min(255, count)`` (saturating linear) so the
rendered byte is a pure per-pixel function of the count — deterministic,
and the DuckDB oracle can aggregate the exact same expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.cells import check_res, gidx, tile_key_col


def _grid_cols(lat_col, lon_col, res: int, tile_px: int):
    """(tile, px, py) pure-column expressions on the res-grid with
    tile_px^2 pixels per tile. ``tile_px`` must be a power of two so the
    tile/pixel split is exact bit arithmetic (and so the fine grid nests
    exactly inside the tile grid)."""
    if tile_px < 1 or tile_px & (tile_px - 1):
        raise ValueError(f"tile_px must be a power of two, got {tile_px}")
    check_res(res)
    shift = tile_px.bit_length() - 1
    n = 1 << res
    nn = n * tile_px
    gx, gy = gidx(lon_col, 180.0, 360.0, nn), gidx(lat_col, 90.0, 180.0, nn)
    tile = (F.shiftright(gx, shift) * F.lit(n) + F.shiftright(gy, shift)).cast("long")
    px = gx.bitwiseAND(F.lit(tile_px - 1))
    py = gy.bitwiseAND(F.lit(tile_px - 1))
    return tile, px, py


def pixel_histogram(
    points: DataFrame,
    res: int,
    tile_px: int = 64,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Sparse per-pixel density: (tile, px, py, n). px runs west->east,
    py south->north (grid orientation; the PNG renderer flips py to image
    rows). One projection + one aggregation — the partial aggregate
    combines map-side, so the shuffle carries at most one row per
    distinct non-empty pixel."""
    tile, px, py = _grid_cols(F.col(lat), F.col(lon), res, tile_px)
    return (
        points.select(tile.alias("tile"), px.alias("px"), py.alias("py"))
        .groupBy("tile", "px", "py")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def heatmap_stats(
    points: DataFrame,
    res: int,
    tile_px: int = 64,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-tile rollup of the pixel histogram — the SQL-exact core the
    driver oracle gates: (tile, n_points, n_px, max_px, intensity_sum)
    where intensity_sum totals the SAME saturating min(255, n) bytes the
    PNG renderer writes (render/decode parity is pytest-gated —
    tests/test_spatial_family.py)."""
    return tile_rollup(pixel_histogram(points, res, tile_px, lat, lon))


def tile_rollup(hist: DataFrame) -> DataFrame:
    """Per-tile stats over a (tile, px, py, n) pixel histogram — shared
    by the batch path above and the streaming parity gate
    (streaming/microbatch.py run_heatmap_stream_once), so the intensity
    formula lives in exactly one place."""
    return hist.groupBy("tile").agg(
        F.sum("n").alias("n_points"),
        F.count(F.lit(1)).alias("n_px"),
        F.max("n").alias("max_px"),
        F.sum(F.least(F.col("n"), F.lit(255))).alias("intensity_sum"),
    )


def render_heatmap_tiles(
    points: DataFrame,
    res: int,
    tile_px: int = 64,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Render every non-empty tile's density as a grayscale PNG:
    (tile, n_points, png). Pixel value = min(255, count); image row 0 is
    the tile's NORTH edge (standard raster orientation), so
    ``row = tile_px - 1 - py``. The per-tile render kernel is one NumPy
    scatter over the tile's (sparse) histogram rows — work is proportional
    to non-empty pixels, not tile area, except the final dense
    (tile_px, tile_px) buffer itself."""
    from ..functions.imagecodec import encode_png

    h = pixel_histogram(points, res, tile_px, lat, lon)

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        img = np.zeros((tile_px, tile_px, 3), dtype=np.uint8)
        v = np.minimum(pdf["n"].to_numpy(), 255).astype(np.uint8)
        rows = tile_px - 1 - pdf["py"].to_numpy()
        cols = pdf["px"].to_numpy()
        img[rows, cols, :] = v[:, None]
        return pd.DataFrame(
            {
                "tile": [int(pdf["tile"].iloc[0])],
                "n_points": [int(pdf["n"].sum())],
                "png": [encode_png(img)],
            }
        )

    return h.groupBy("tile").applyInPandas(
        lambda _k, pdf: render(pdf), "tile long, n_points long, png binary"
    )


def mosaic_parent_tiles(
    tiles: DataFrame, res: int, tile_px: int = 64
) -> DataFrame:
    """One zoom-out step of a raster tile pyramid: compose each parent
    tile at ``res - 1`` from its (up to) four children at ``res``,
    2x2-integer-mean downsampled into quadrants:
    (tile, n_points, png) -> (tile, n_points, png).

    Input rows are (tile, n_points, png) as produced by
    ``render_heatmap_tiles`` at ``res``. Parent/child/quadrant keys are
    pure bit arithmetic on the flat tile key (codegen); the compose
    kernel is one ``applyInPandas`` per parent over at most 4 rows.
    Downsampling is ``(a+b+c+d) // 4`` on uint16 — deterministic integer
    math, no float rounding ambiguity. Missing children stay black
    (zero density). Iterating this op res times yields the full pyramid;
    each level's row count shrinks 4x, so the total work is a geometric
    series dominated by the finest level.
    """
    from ..functions.imagecodec import decode_png, encode_png

    if res < 1:
        raise ValueError(f"res must be >= 1 to have a parent level, got {res}")
    if tile_px < 2 or tile_px & (tile_px - 1):
        raise ValueError(f"tile_px must be a power of two >= 2, got {tile_px}")
    n = 1 << res
    # flat key = ix * 2^res + iy, so the split is exact bit arithmetic
    ix = F.shiftright(F.col("tile"), res)
    iy = F.col("tile").bitwiseAND(F.lit(n - 1))
    parent = (F.shiftright(ix, 1) * F.lit(n >> 1) + F.shiftright(iy, 1)).cast("long")
    quad_x = ix.bitwiseAND(F.lit(1))
    quad_y = iy.bitwiseAND(F.lit(1))
    half = tile_px // 2

    def compose(pdf: pd.DataFrame) -> pd.DataFrame:
        img = np.zeros((tile_px, tile_px, 3), dtype=np.uint8)
        for _, row in pdf.iterrows():
            child = decode_png(bytes(row["png"]))
            small = (
                child.astype(np.uint16)
                .reshape(half, 2, half, 2, 3)
                .sum(axis=(1, 3))
                // 4
            ).astype(np.uint8)
            r0 = 0 if row["qy"] == 1 else half  # north children on top
            c0 = 0 if row["qx"] == 0 else half  # west children on the left
            img[r0 : r0 + half, c0 : c0 + half] = small
        return pd.DataFrame(
            {
                "tile": [int(pdf["ptile"].iloc[0])],
                "n_points": [int(pdf["n_points"].sum())],
                "png": [encode_png(img)],
            }
        )

    return (
        tiles.select(
            parent.alias("ptile"),
            quad_x.alias("qx"),
            quad_y.alias("qy"),
            "n_points",
            "png",
        )
        .groupBy("ptile")
        .applyInPandas(
            lambda _k, pdf: compose(pdf), "tile long, n_points long, png binary"
        )
    )


def decayed_tiles(
    events: DataFrame,
    res: int,
    anchor_epoch: int,
    halflife_s: int,
    max_halvings: int = 16,
    lat: str = "lat",
    lon: str = "lon",
    ts: str = "ts",
) -> DataFrame:
    """Recency-weighted density heatmap: each event contributes an EXACT
    integer weight ``2^(max_halvings - min(age // halflife_s, K))`` —
    power-of-two decay instead of float ``exp(-age/tau)``, so per-tile
    sums are associative-exact, engine-portable, and mergeable into the
    incremental rollup machinery (a float decay would make the rollup
    merge order-dependent). ``age`` clamps at 0 for events after the
    anchor, and the weight floors at 1 after ``max_halvings`` halflives
    (old events stay countable, just maximally discounted).

    One scan, one map-side-combined groupBy — the same plan shape as
    ``heatmap_stats``; the decay is a pure column expression on the
    event timestamp. Returns (tile, decayed_sum, n_points, newest_age_s)
    per occupied tile; rank by decayed_sum for "what is hot NOW" tiles,
    n_points for all-time density.
    """
    if halflife_s < 1:
        raise ValueError(f"halflife_s must be >= 1, got {halflife_s}")
    if not 0 <= max_halvings <= 62:
        raise ValueError(f"max_halvings must be in [0, 62], got {max_halvings}")
    tile = tile_key_col(F.col(lat), F.col(lon), res)
    age = F.greatest(
        F.lit(anchor_epoch).cast("long") - F.unix_timestamp(F.col(ts)), F.lit(0)
    )
    # long / int -> double, cast long truncates toward zero == floor here
    # (age >= 0); the quotient is < 2^31/halflife, far inside the double
    # mantissa, so the truncation can't straddle an integer boundary
    k = F.least((age / F.lit(halflife_s)).cast("long"), F.lit(max_halvings))
    # pow is double-typed but every 2^m is exactly representable, and the
    # long cast is lossless for m <= 62; shiftleft won't take a column
    # bit count
    weight = F.pow(F.lit(2.0), (F.lit(max_halvings) - k)).cast("long")
    return (
        events.select(tile.alias("tile"), age.alias("__age"), weight.alias("__w"))
        .groupBy("tile")
        .agg(
            F.sum("__w").alias("decayed_sum"),
            F.count(F.lit(1)).alias("n_points"),
            F.min("__age").alias("newest_age_s"),
        )
    )
