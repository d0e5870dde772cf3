"""H3-style hierarchical cell index — from-scratch, vectorized NumPy.

Replaces the reference's server-side spatial addressing (Overpass ``qt``
quadtile ordering + ``area(...)`` containment, /root/reference/lib/
osm_utils.py:24-48) with an explicit quadtree cell grid over (lat, lon):

* resolution r in [0, 26]; the grid at res r is 2^r x 2^r cells over
  lon in [-180, 180), lat in [-90, 90).
* ``cell id`` packs (res, ix, iy) into an int64:
  ``(r << 58) | (ix << 29) | iy`` — trivially invertible, and the flat
  per-resolution tile key ``ix * 2^r + iy`` (used by SQL oracles) is a
  pure-arithmetic projection of the same grid.
* ``morton`` (Z-order) interleaves ix/iy bits for spatial sort locality —
  the engine's analogue of Overpass quadtile ordering
  (/root/reference/lib/osm_utils.py:46-48).

All kernels are NumPy-vectorized array->array functions; their Spark
twins below are column expressions (no per-row Python).

Grid format. This module is the one place the grid rule lives; every
operator builds its cell expressions from the helpers below instead of
re-deriving them. At res r the grid has n = 2^r cells per axis, and

* ``ix = clamp(floor((lon + 180) / 360 * n), 0, n - 1)``, ``iy`` likewise
  with ``(lat + 90) / 180`` (:func:`gidx` per axis, :func:`grid_ixy` for
  the pair; NumPy twin :func:`_norm_ixy`);
* the flat tile key is ``ix * n + iy`` (:func:`tile_key_col`), decoded by
  :func:`tile_ixy`; a neighbour (x, y) is kept iff :func:`in_grid`;
* neighbour fan-outs explode a literal offset table (:func:`stencil`,
  with the :data:`QUEEN` 3x3 and :data:`ROOK` 4-offset tables);
* integer geometry quantizes degrees with :func:`micro_deg`
  (``floor(x * 1e6)``), and every ``res`` argument passes :func:`check_res`.

The DuckDB oracles replay the same arithmetic bit for bit, so these
helpers build exactly the expressions the operators built inline before.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

MAX_RES = 26
_RES_SHIFT = 58
_IX_SHIFT = 29


def check_res(res: int) -> None:
    """Raise ``ValueError`` unless ``res`` is a grid resolution in
    [0, MAX_RES]."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")


def _norm_ixy(lat: np.ndarray, lon: np.ndarray, res: int):
    """lat/lon -> integer grid coords at resolution res (clamped)."""
    n = np.int64(1) << res
    fx = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0
    fy = (np.asarray(lat, dtype=np.float64) + 90.0) / 180.0
    ix = np.floor(fx * n).astype(np.int64)
    iy = np.floor(fy * n).astype(np.int64)
    np.clip(ix, 0, n - 1, out=ix)
    np.clip(iy, 0, n - 1, out=iy)
    return ix, iy


def cell_encode(lat, lon, res: int) -> np.ndarray:
    """Vectorized (lat, lon) -> packed int64 cell id at resolution res."""
    check_res(res)
    ix, iy = _norm_ixy(lat, lon, res)
    return (np.int64(res) << _RES_SHIFT) | (ix << _IX_SHIFT) | iy


def cell_decode(cid) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (res, ix, iy)."""
    cid = np.asarray(cid, dtype=np.int64)
    res = cid >> _RES_SHIFT
    ix = (cid >> _IX_SHIFT) & ((np.int64(1) << _RES_SHIFT - _IX_SHIFT) - 1)
    iy = cid & ((np.int64(1) << _IX_SHIFT) - 1)
    return res, ix, iy


def tile_key(lat, lon, res: int) -> np.ndarray:
    """SQL-parity flat tile key at res: ix * 2^res + iy (int64).

    Exactly expressible in ANSI SQL as
    ``floor((lon+180)/360*pow(2,r))*pow(2,r) + floor((lat+90)/180*pow(2,r))``
    (with clamping), which is how the DuckDB oracle reproduces it.
    """
    ix, iy = _norm_ixy(lat, lon, res)
    return ix * (np.int64(1) << res) + iy


def cell_to_tile_key(cid) -> np.ndarray:
    res, ix, iy = cell_decode(cid)
    return ix * (np.int64(1) << res.astype(np.int64)) + iy


def cell_center(cid) -> tuple[np.ndarray, np.ndarray]:
    """cell id -> (lat, lon) of cell center."""
    res, ix, iy = cell_decode(cid)
    n = (np.int64(1) << res).astype(np.float64)
    lon = (ix.astype(np.float64) + 0.5) / n * 360.0 - 180.0
    lat = (iy.astype(np.float64) + 0.5) / n * 180.0 - 90.0
    return lat, lon


def cell_bounds(cid) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (south, west, north, east) bbox arrays."""
    res, ix, iy = cell_decode(cid)
    n = (np.int64(1) << res).astype(np.float64)
    west = ix.astype(np.float64) / n * 360.0 - 180.0
    east = (ix.astype(np.float64) + 1.0) / n * 360.0 - 180.0
    south = iy.astype(np.float64) / n * 180.0 - 90.0
    north = (iy.astype(np.float64) + 1.0) / n * 180.0 - 90.0
    return south, west, north, east


def cell_parent(cid, parent_res: int | None = None) -> np.ndarray:
    """cell id -> ancestor cell id at parent_res (default: res-1)."""
    res, ix, iy = cell_decode(cid)
    if parent_res is None:
        pres = np.maximum(res - 1, 0)
    else:
        pres = np.full_like(res, parent_res)
    shift = (res - pres).astype(np.int64)
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return (pres << _RES_SHIFT) | ((ix >> shift) << _IX_SHIFT) | (iy >> shift)


def cell_children(cid: int) -> np.ndarray:
    """Scalar cell id -> its 4 children at res+1."""
    res, ix, iy = cell_decode(np.asarray([cid]))
    r, x, y = int(res[0]), int(ix[0]), int(iy[0])
    if r >= MAX_RES:
        raise ValueError("cannot split below MAX_RES")
    kids = []
    for dx in (0, 1):
        for dy in (0, 1):
            kids.append(
                (np.int64(r + 1) << _RES_SHIFT)
                | (np.int64((x << 1) | dx) << _IX_SHIFT)
                | np.int64((y << 1) | dy)
            )
    return np.array(kids, dtype=np.int64)


def cell_ring(cid, k: int) -> np.ndarray:
    """All cells at grid-distance exactly k (Chebyshev ring) from each cid.

    Returns a 2-D array (len(cid), ring_size) of cell ids; out-of-grid
    cells are -1. Ring 0 is the cell itself. This drives the kNN
    ring-expansion join (SURVEY.md §2.3 "kNN join").
    """
    cid = np.atleast_1d(np.asarray(cid, dtype=np.int64))
    res, ix, iy = cell_decode(cid)
    n = np.int64(1) << res.astype(np.int64)
    if k == 0:
        return cid[:, None].copy()
    offs = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if max(abs(dx), abs(dy)) == k:
                offs.append((dx, dy))
    offs = np.array(offs, dtype=np.int64)  # (R, 2)
    nx = ix[:, None] + offs[:, 0][None, :]
    ny = iy[:, None] + offs[:, 1][None, :]
    # wrap longitude (x), clamp latitude (y) out-of-range to invalid
    nx = np.mod(nx, n[:, None])
    valid = (ny >= 0) & (ny < n[:, None])
    out = (res[:, None] << _RES_SHIFT) | (nx << _IX_SHIFT) | ny
    out = np.where(valid, out, np.int64(-1))
    return out


def cell_disk(cid: int, k: int) -> np.ndarray:
    """Scalar cell id -> all cells within grid-distance k (filled disk)."""
    rings = [cell_ring(np.asarray([cid]), r)[0] for r in range(k + 1)]
    disk = np.concatenate(rings)
    return disk[disk >= 0]


def morton_interleave(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """Bit-interleave two <=26-bit int arrays into a Z-order key (int64)."""
    def spread(v: np.ndarray) -> np.ndarray:
        v = v.astype(np.uint64)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return (spread(np.asarray(ix)) | (spread(np.asarray(iy)) << np.uint64(1))).astype(
        np.int64
    )


def morton_key(lat, lon, res: int = MAX_RES) -> np.ndarray:
    """lat/lon -> Z-order key for spatially-local sort/partition order."""
    ix, iy = _norm_ixy(lat, lon, res)
    return morton_interleave(ix, iy)


# ---------------------------------------------------------------------------
# Spark boundary: the column-expression twins of the kernels above
# (building a Column needs no JVM until it is used).
# ---------------------------------------------------------------------------

def _col(c):
    return F.col(c) if isinstance(c, str) else c


def gidx(col, offset: float, span: float, n: int):
    """Clamped cell index of ``col`` on one axis of an n-cell grid:
    ``floor((col + offset) / span * n)`` clipped to [0, n - 1], a long.
    ``offset``/``span`` are 180/360 for longitude and 90/180 for
    latitude."""
    g = F.floor((_col(col) + F.lit(offset)) / F.lit(span) * F.lit(float(n)))
    return F.least(F.greatest(g, F.lit(0)), F.lit(n - 1)).cast("long")


def grid_ixy(lat_col, lon_col, res: int):
    """(ix, iy) long columns of the cell holding (lat, lon) at ``res``."""
    n = 1 << res
    return gidx(lon_col, 180.0, 360.0, n), gidx(lat_col, 90.0, 180.0, n)


def tile_key_col(lat_col, lon_col, res: int):
    """Pure-column-expression tile key (JVM-side, codegen'd — preferred on
    the hot path over the pandas UDF; bit-identical to :func:`tile_key`).

    floor/clamp arithmetic only, so Catalyst keeps it inside
    WholeStageCodegen and the same formula is the DuckDB oracle.
    """
    ix, iy = grid_ixy(lat_col, lon_col, res)
    return (ix * F.lit(1 << res) + iy).cast("long")


def tile_ixy(tile, n: int):
    """Flat tile key ``ix * n + iy`` -> its (ix, iy) long columns."""
    t = _col(tile)
    return (t / F.lit(n)).cast("long"), t % F.lit(n)


def in_grid(x, y, n: int):
    """True where cell (x, y) lies inside the n x n grid (no wrap)."""
    x, y = _col(x), _col(y)
    return (x >= 0) & (x < n) & (y >= 0) & (y < n)


QUEEN = tuple((dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
ROOK = ((-1, 0), (1, 0), (0, -1), (0, 1))


def stencil(rows, fields=("dx", "dy")):
    """Explode a literal offset table: one struct of ``fields`` per row of
    ``rows`` (e.g. :data:`QUEEN`, or (dx, dy, weight) triples with
    ``fields=("dx", "dy", "wt")``). A value may be a Column, e.g.
    ``F.lit(w).cast("long")`` to fix its type. Callers alias the result
    and read ``o.dx``/``o.dy``."""
    return F.explode(
        F.array(
            *[F.struct(*[F.lit(v).alias(f) for f, v in zip(fields, row)]) for row in rows]
        )
    )


def micro_deg(col):
    """Degrees -> integer micro-degrees: ``floor(col * 1e6)`` as a long,
    the quantization of the integer-geometry operators (DuckDB
    ``floor(x * 1e6)``)."""
    return F.floor(_col(col) * F.lit(1_000_000.0)).cast("long")


# ---------------------------------------------------------------------------
# Hilbert curve (locality-preserving alternative to Morton for range
# clustering: no Z-order "seam jumps", so 1-D key ranges map to more
# compact 2-D regions). Classic xy2d bit-fold (public domain, e.g. the
# Wikipedia "Hilbert curve" reference implementation), expressed two ways
# that must agree bit-for-bit: a NumPy kernel and per-level SQL CASE
# arithmetic shared verbatim by the Spark plan and the DuckDB oracle
# (only %, *, +, - and CASE — no div/xor, whose dialects differ).
# ---------------------------------------------------------------------------

def hilbert_key_np(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    """(ix, iy) grid indices in [0, 2^res) -> distance along the order-
    ``res`` Hilbert curve (int64). Vectorized transcription of the
    classic xy2d loop."""
    x = np.asarray(ix, dtype=np.int64).copy()
    y = np.asarray(iy, dtype=np.int64).copy()
    n = np.int64(1 << res)
    d = np.zeros_like(x)
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: flip when ry==0 & rx==1, then swap x/y
        flip = (ry == 0) & (rx == 1)
        x2 = np.where(flip, n - 1 - x, x)
        y2 = np.where(flip, n - 1 - y, y)
        x, y = np.where(ry == 1, x, y2), np.where(ry == 1, y, x2)
        s >>= 1
    return d


def hilbert_level_exprs(s: int, n: int, x: str, y: str) -> tuple[str, str, str]:
    """One xy2d level as dialect-shared SQL: returns (d_increment,
    x_next, y_next) expression strings over column names ``x``/``y``.
    The bit tests are spelled ``v % 2s >= s`` and the quadrant value
    ``(3*rx)^ry`` as ``CASE rx WHEN 1 THEN 3-ry ELSE ry`` so the same
    text parses and evaluates identically in Spark SQL and DuckDB."""
    rx = f"(CASE WHEN {x} % {2 * s} >= {s} THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN {y} % {2 * s} >= {s} THEN 1 ELSE 0 END)"
    # s*s must be BIGINT before the x3: at res >= 16, s*s = 2^30 and the
    # int32 product overflows (Spark ANSI raises; found via the CLI
    # compact job clustering a res-8 tile key on the res-16 curve)
    dinc = (
        f"CAST({s * s} AS BIGINT) * "
        f"(CASE WHEN {rx} = 1 THEN 3 - {ry} ELSE {ry} END)"
    )
    xn = (
        f"(CASE WHEN {ry} = 1 THEN {x} "
        f"WHEN {rx} = 1 THEN {n - 1} - {y} ELSE {y} END)"
    )
    yn = (
        f"(CASE WHEN {ry} = 1 THEN {y} "
        f"WHEN {rx} = 1 THEN {n - 1} - {x} ELSE {x} END)"
    )
    return dinc, xn, yn


def quadkey_col(lat_col, lon_col, res: int):
    """Bing-maps quadkey STRING of the tile at ``res`` (digit k =
    x-bit + 2*y-bit at level k, most significant first) — the
    string-keyed tile id interop format (joins against XYZ/Bing tile
    services, prefix-match = ancestor containment, lexicographic sort =
    Z-order locality). Pure concat/bit expressions, codegen'd; the
    DuckDB oracle spells the identical digit arithmetic."""
    ix, iy = grid_ixy(lat_col, lon_col, res)
    digits = [
        (
            F.shiftright(ix, res - 1 - k).bitwiseAND(F.lit(1))
            + F.shiftleft(F.shiftright(iy, res - 1 - k).bitwiseAND(F.lit(1)), 1)
        ).cast("string")
        for k in range(res)
    ]
    return F.concat(*digits)
