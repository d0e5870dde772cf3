"""Property tests for the cell index kernels (SURVEY.md §5 item 3)."""

import numpy as np

from langtoolsosm_spark.functions import cells


RNG = np.random.default_rng(42)
LAT = RNG.uniform(-89.9, 89.9, 5000)
LON = RNG.uniform(-179.9, 179.9, 5000)


def test_encode_decode_roundtrip():
    for res in (0, 1, 5, 12, 26):
        cid = cells.cell_encode(LAT, LON, res)
        r, ix, iy = cells.cell_decode(cid)
        assert (r == res).all()
        n = 1 << res
        assert (ix >= 0).all() and (ix < n).all()
        assert (iy >= 0).all() and (iy < n).all()
        # re-encoding the cell center gives the same cell
        clat, clon = cells.cell_center(cid)
        assert (cells.cell_encode(clat, clon, res) == cid).all()


def test_point_in_exactly_one_cell_per_res():
    for res in (3, 8):
        cid = cells.cell_encode(LAT, LON, res)
        s, w, n, e = cells.cell_bounds(cid)
        assert ((LAT >= s) & (LAT < n)).all()
        assert ((LON >= w) & (LON < e)).all()


def test_parent_child_cover():
    cid = cells.cell_encode(LAT, LON, 10)
    par = cells.cell_parent(cid)
    # the parent of each point's res-10 cell == the point's res-9 cell
    assert (par == cells.cell_encode(LAT, LON, 9)).all()
    # children of a cell all have it as parent
    kids = cells.cell_children(int(cid[0]))
    assert len(kids) == 4
    assert (cells.cell_parent(kids) == cid[0]).all()


def test_tile_key_matches_sql_formula():
    res = 8
    n = 1 << res
    tk = cells.tile_key(LAT, LON, res)
    ix = np.clip(np.floor((LON + 180.0) / 360.0 * n), 0, n - 1)
    iy = np.clip(np.floor((LAT + 90.0) / 180.0 * n), 0, n - 1)
    assert (tk == (ix * n + iy).astype(np.int64)).all()


def test_ring_sizes_and_distance():
    cid = cells.cell_encode(np.array([40.0]), np.array([2.0]), 10)
    r0 = cells.cell_ring(cid, 0)
    assert r0.shape == (1, 1) and r0[0, 0] == cid[0]
    for k in (1, 2, 3):
        ring = cells.cell_ring(cid, k)[0]
        ring = ring[ring >= 0]
        assert len(ring) == 8 * k
        _, ix0, iy0 = cells.cell_decode(cid)
        _, ix, iy = cells.cell_decode(ring)
        cheb = np.maximum(np.abs(ix - ix0[0]), np.abs(iy - iy0[0]))
        assert (cheb == k).all()


def test_disk():
    cid = cells.cell_encode(np.array([40.0]), np.array([2.0]), 10)[0]
    disk = cells.cell_disk(int(cid), 2)
    assert len(disk) == 25
    assert len(np.unique(disk)) == 25


def test_morton_locality():
    # morton of adjacent cells differs in low bits; key is monotone in blocks
    ix = np.array([0, 1, 2, 3], dtype=np.int64)
    iy = np.array([0, 0, 0, 0], dtype=np.int64)
    z = cells.morton_interleave(ix, iy)
    assert list(z) == [0, 1, 4, 5]
    z2 = cells.morton_interleave(iy, ix)
    assert list(z2) == [0, 2, 8, 10]
    # roundtrip-free sanity: distinct inputs -> distinct keys
    z3 = cells.morton_key(LAT, LON, 26)
    assert len(np.unique(z3)) > 4900


def test_quadkey_prefix_and_digits(spark):
    """A res-8 quadkey starts with the res-4 quadkey of the same point
    (ancestor containment = prefix match), digits are base-4, and the
    key length equals res."""
    import pandas as pd
    from pyspark.sql import functions as F

    from langtoolsosm_spark.functions.cells import quadkey_col

    df = spark.createDataFrame(
        pd.DataFrame({"lat": [40.4, -33.9, 0.0], "lon": [2.2, 151.2, 0.0]})
    )
    out = df.select(
        quadkey_col(F.col("lat"), F.col("lon"), 8).alias("q8"),
        quadkey_col(F.col("lat"), F.col("lon"), 4).alias("q4"),
    ).collect()
    for r in out:
        assert len(r["q8"]) == 8 and len(r["q4"]) == 4
        assert r["q8"].startswith(r["q4"])
        assert set(r["q8"]) <= set("0123")


# Boundary coordinates shared with test_tile_key_boundary_coords_match_oracle_sql
BOUNDARY = [(90.0, 180.0), (-90.0, -180.0), (90.0, -180.0), (-90.0, 180.0),
            (0.0, 0.0), (89.999999, 179.999999), (-89.999999, -179.999999)]


def test_stencil_corner_cell_in_grid_targets(spark):
    """At res 1 the corner cell (0, 0) keeps 4 of the 9 queen (3x3)
    targets and 2 of the 4 rook targets inside the grid."""
    from pyspark.sql import functions as F

    n = 1 << 1
    corner = spark.createDataFrame([(0, 0)], "ix long, iy long")
    for table, want in ((cells.QUEEN, 4), (cells.ROOK, 2)):
        fan = corner.select("ix", "iy", cells.stencil(table).alias("o")).select(
            (F.col("ix") + F.col("o.dx")).alias("nx"),
            (F.col("iy") + F.col("o.dy")).alias("ny"),
        )
        assert fan.count() == len(table)
        kept = fan.filter(cells.in_grid("nx", "ny", n)).collect()
        assert len(kept) == want
        assert all(0 <= r["nx"] < n and 0 <= r["ny"] < n for r in kept)


def test_stencil_extra_fields_keep_their_types(spark):
    """Extra fields ride along; a Column value (a cast literal) keeps its
    type, a Python int stays an int literal."""
    from pyspark.sql import functions as F

    rows = [(1, 0, F.lit(6).cast("long")), (0, -1, F.lit(2).cast("long"))]
    df = spark.range(1).select(cells.stencil(rows, ("dx", "dy", "wt")).alias("o"))
    assert df.schema["o"].dataType.simpleString() == "struct<dx:int,dy:int,wt:bigint>"
    assert [tuple(r["o"]) for r in df.collect()] == [(1, 0, 6), (0, -1, 2)]


def test_tile_decode_matches_norm_ixy_on_boundaries(spark):
    """tile_key_col then tile_ixy gives back the (ix, iy) of the NumPy
    _norm_ixy, and grid_ixy gives the same pair, on the clip-boundary
    coordinates (lat = +-90, lon = +-180)."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pd.DataFrame(BOUNDARY, columns=["lat", "lon"]))
    lat = np.array([c[0] for c in BOUNDARY])
    lon = np.array([c[1] for c in BOUNDARY])
    for res in (1, 5, 8, 14, cells.MAX_RES):
        ix, iy = cells.tile_ixy(
            cells.tile_key_col(F.col("lat"), F.col("lon"), res), 1 << res
        )
        gx, gy = cells.grid_ixy("lat", "lon", res)
        got = df.select(
            ix.alias("ix"), iy.alias("iy"), gx.alias("gx"), gy.alias("gy")
        ).collect()
        ex, ey = cells._norm_ixy(lat, lon, res)
        assert [r["ix"] for r in got] == ex.tolist(), f"res={res}"
        assert [r["iy"] for r in got] == ey.tolist(), f"res={res}"
        assert [r["gx"] for r in got] == ex.tolist(), f"res={res}"
        assert [r["gy"] for r in got] == ey.tolist(), f"res={res}"


def test_micro_deg_matches_duckdb_floor(spark):
    """micro_deg == DuckDB floor(x * 1e6) on negative inputs (floor, not
    truncation) and on the +-90 / +-180 extremes."""
    import duckdb

    xs = [-180.0, 180.0, -90.0, 90.0, -0.0000005, -1.2345678, -179.9999999,
          -33.9249, 2.1734035, 0.0, 89.9999999, -45.5]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r["q"] for r in df.select(cells.micro_deg("x").alias("q")).collect()]
    con = duckdb.connect()
    exp = [
        con.execute("SELECT CAST(floor(CAST(? AS DOUBLE) * 1e6) AS BIGINT)", [x]).fetchone()[0]
        for x in xs
    ]
    assert got == exp
    assert got[0] == -180_000_000 and got[3] == 90_000_000 and got[4] == -1


def test_check_res_bounds_and_message():
    import pytest

    for res in (0, cells.MAX_RES):
        cells.check_res(res)
    for res in (-1, cells.MAX_RES + 1):
        with pytest.raises(ValueError, match=rf"res must be in \[0, 26\], got {res}$"):
            cells.check_res(res)
