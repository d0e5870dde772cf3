"""Base-32 geohash codec — pure-codegen encode, NumPy kernels, SQL twin.

The reference addresses space with Overpass quadtiles + bbox filters
(/root/reference/lib/osm_utils.py:24-48); the engine's native index is
the quadtree cell grid (functions/cells.py). Geohash is the interchange
form the wider geo ecosystem speaks (Elasticsearch, Redis, Uber ringpop,
OSM tooling), so the engine exposes it as a first-class scalar family:

* ``geohash_col(lat, lon, p)`` — a pure Spark Column expression tree
  (floor/shift/mask/element_at only), so encoding stays inside
  WholeStageCodegen on the hot path: no UDF, no Python, no shuffle.
* ``geohash_sql(lat_sql, lon_sql, p)`` — the SAME formula emitted as
  DuckDB SQL, so oracle parity is by construction: both engines compute
  ``floor((lon+180)/360 * 2^lonbits)`` over IEEE doubles with an
  identical expression shape, then integer-only bit plumbing.
* ``geohash_encode`` / ``geohash_decode`` — vectorized NumPy twins for
  property tests and driver-side use (decode returns the cell bbox;
  encode(decode_center) == original is the roundtrip invariant).

Bit layout (standard geohash): the 5p-bit code interleaves longitude and
latitude bins MSB-first starting with longitude — bit 0 (MSB) is the lon
bin's MSB, bit 1 the lat bin's MSB, ... With T = 5p total bits the lon
bin has ceil(T/2) bits and the lat bin floor(T/2).

Scale: encoding is embarrassingly parallel scan-side work; a groupBy on a
geohash prefix is the classic proximity-bucketing shuffle key (prefix
length picks the cell size). ``substring(geohash, 1, k)`` of this column
is exactly the geohash of the same point at lower precision — no
re-encode needed for coarser rollups.
"""

from __future__ import annotations

import numpy as np

ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
MAX_PRECISION = 12  # 60 bits < int64


def _bit_splits(precision: int) -> tuple[int, int, int]:
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError(
            f"precision must be in [1, {MAX_PRECISION}], got {precision}"
        )
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    return total, lon_bits, lat_bits


def _bins_np(lat, lon, precision: int):
    total, lon_bits, lat_bits = _bit_splits(precision)
    nlon = np.int64(1) << lon_bits
    nlat = np.int64(1) << lat_bits
    # identical expression shape to the SQL/Column twins:
    # (coord + shift) / span first, THEN * n, then floor
    fx = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0
    fy = (np.asarray(lat, dtype=np.float64) + 90.0) / 180.0
    ix = np.floor(fx * np.float64(nlon)).astype(np.int64)
    iy = np.floor(fy * np.float64(nlat)).astype(np.int64)
    np.clip(ix, 0, nlon - 1, out=ix)
    np.clip(iy, 0, nlat - 1, out=iy)
    return total, lon_bits, lat_bits, ix, iy


def geohash_encode(lat, lon, precision: int = 7) -> np.ndarray:
    """Vectorized (lat, lon) -> geohash string array at ``precision``."""
    total, lon_bits, lat_bits, ix, iy = _bins_np(lat, lon, precision)
    g = np.zeros_like(ix)
    for i in range(lon_bits):
        g |= ((ix >> np.int64(lon_bits - 1 - i)) & 1) << np.int64(
            total - 1 - 2 * i
        )
    for j in range(lat_bits):
        g |= ((iy >> np.int64(lat_bits - 1 - j)) & 1) << np.int64(
            total - 2 - 2 * j
        )
    alpha = np.frombuffer(ALPHABET.encode(), dtype=np.uint8)
    chars = np.empty((len(g), precision), dtype=np.uint8)
    for k in range(precision):
        chars[:, k] = alpha[(g >> np.int64(total - 5 * (k + 1))) & 31]
    return chars.view(f"S{precision}").ravel().astype(str)


def geohash_decode(gh) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Geohash string array -> cell bbox (lat_s, lat_n, lon_w, lon_e)."""
    gh = np.asarray(gh, dtype=str)
    if gh.size == 0:
        e = np.empty(0, dtype=np.float64)
        return e, e.copy(), e.copy(), e.copy()
    precision = len(gh[0])
    total, lon_bits, lat_bits = _bit_splits(precision)
    lut = np.full(128, -1, dtype=np.int64)
    for i, c in enumerate(ALPHABET):
        lut[ord(c)] = i
    raw = gh.astype(f"S{precision}").view(np.uint8).reshape(len(gh), precision)
    vals = lut[raw]
    if (vals < 0).any():
        raise ValueError("invalid geohash character")
    g = np.zeros(len(gh), dtype=np.int64)
    for k in range(precision):
        g = (g << np.int64(5)) | vals[:, k]
    ix = np.zeros(len(gh), dtype=np.int64)
    iy = np.zeros(len(gh), dtype=np.int64)
    for b in range(total):
        bit = (g >> np.int64(total - 1 - b)) & 1
        if b % 2 == 0:
            ix = (ix << np.int64(1)) | bit
        else:
            iy = (iy << np.int64(1)) | bit
    nlon = float(1 << lon_bits)
    nlat = float(1 << lat_bits)
    lon_w = ix / nlon * 360.0 - 180.0
    lon_e = (ix + 1) / nlon * 360.0 - 180.0
    lat_s = iy / nlat * 180.0 - 90.0
    lat_n = (iy + 1) / nlat * 180.0 - 90.0
    return lat_s, lat_n, lon_w, lon_e


def geohash_col(lat_col, lon_col, precision: int = 7):
    """Pure-column geohash encode (JVM-side, codegen'd; no UDF).

    floor + shift/mask + element_at over a constant 32-char array — the
    whole expression stays inside WholeStageCodegen.
    """
    from pyspark.sql import functions as F

    from .cells import gidx

    total, lon_bits, lat_bits = _bit_splits(precision)
    ix = gidx(lon_col, 180.0, 360.0, 1 << lon_bits)
    iy = gidx(lat_col, 90.0, 180.0, 1 << lat_bits)
    g = F.lit(0).cast("long")
    for i in range(lon_bits):
        g = g + F.shiftleft(
            F.shiftright(ix, lon_bits - 1 - i).bitwiseAND(F.lit(1)),
            total - 1 - 2 * i,
        )
    for j in range(lat_bits):
        g = g + F.shiftleft(
            F.shiftright(iy, lat_bits - 1 - j).bitwiseAND(F.lit(1)),
            total - 2 - 2 * j,
        )
    alpha = F.array(*[F.lit(c) for c in ALPHABET])
    chars = [
        F.element_at(
            alpha,
            (F.shiftright(g, total - 5 * (k + 1)).bitwiseAND(F.lit(31)) + F.lit(1)).cast(
                "int"
            ),
        )
        for k in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql_layers(
    lat_sql: str, lon_sql: str, precision: int = 7
) -> tuple[str, str, str, str]:
    """The SAME encode formula as DuckDB SQL fragments (oracle twin).

    Returns ``(ix_sql, iy_sql, g_sql, chars_sql)`` where ``g_sql`` refers
    to columns ``__ix``/``__iy`` and ``chars_sql`` to ``__g`` — assemble
    them as stacked CTEs so each layer is computed once (inlining the bin
    expression into all 5p interleave terms would blow the SQL up ~250×).
    Bin computation uses the identical (coord+shift)/span*n floor tree as
    the Column/NumPy twins; interleave via ``>>``/``&`` and multiplication
    by powers of two (integer-exact on BIGINT in both engines).
    """
    total, lon_bits, lat_bits = _bit_splits(precision)
    nlon = 1 << lon_bits
    nlat = 1 << lat_bits
    ix = (
        f"LEAST(GREATEST(CAST(FLOOR(({lon_sql} + 180.0) / CAST(360.0 AS DOUBLE)"
        f" * CAST({nlon} AS DOUBLE)) AS BIGINT), 0), {nlon - 1})"
    )
    iy = (
        f"LEAST(GREATEST(CAST(FLOOR(({lat_sql} + 90.0) / CAST(180.0 AS DOUBLE)"
        f" * CAST({nlat} AS DOUBLE)) AS BIGINT), 0), {nlat - 1})"
    )
    terms = []
    for i in range(lon_bits):
        terms.append(
            f"(((__ix >> {lon_bits - 1 - i}) & 1) * {1 << (total - 1 - 2 * i)})"
        )
    for j in range(lat_bits):
        terms.append(
            f"(((__iy >> {lat_bits - 1 - j}) & 1) * {1 << (total - 2 - 2 * j)})"
        )
    g = " + ".join(terms)
    chars = " || ".join(
        f"substr('{ALPHABET}', CAST(((__g >> {total - 5 * (k + 1)}) & 31) + 1 "
        "AS INTEGER), 1)"
        for k in range(precision)
    )
    return ix, iy, g, chars
