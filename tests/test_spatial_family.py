"""Round-5 spatial family: radius distance join, single-linkage geo
clustering, trajectory path stats, vector->raster burn — each vs a
brute-force NumPy/pandas oracle (SURVEY.md §5 item 3), plus the
broadcast/shuffle and driver/distributed path-parity gates the older
spatial ops already carry."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from langtoolsosm_spark.functions import cells, geo
from langtoolsosm_spark.operators import spatial


RNG = np.random.default_rng(421)
N_PTS = 400
N_FEATS = 150


@pytest.fixture(scope="module")
def pts_feats(spark):
    lat = 35.0 + RNG.random(N_PTS) * 10.0
    lon = -5.0 + RNG.random(N_PTS) * 15.0
    # a hot pocket so clustering has structure
    lat[:60] = 41.35 + RNG.random(60) * 0.08
    lon[:60] = 2.0 + RNG.random(60) * 0.08
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"point_id": np.arange(N_PTS, dtype=np.int64), "lat": lat, "lon": lon}
        )
    )
    flat = 35.0 + RNG.random(N_FEATS) * 10.0
    flon = -5.0 + RNG.random(N_FEATS) * 15.0
    feats = spark.createDataFrame(
        pd.DataFrame(
            {"id": np.arange(N_FEATS, dtype=np.int64) + 1000, "lat": flat, "lon": flon}
        )
    )
    return (pts, feats, lat, lon, flat, flon)


def _brute_pairs(lat, lon, flat, flon, radius):
    d = (lat[:, None] - flat[None, :]) ** 2 + (lon[:, None] - flon[None, :]) ** 2
    pi, fi = np.nonzero(d <= radius * radius)
    return set(zip(pi.tolist(), (fi + 1000).tolist()))


def test_distance_join_matches_bruteforce(spark, pts_feats):
    pts, feats, lat, lon, flat, flon = pts_feats
    got = spatial.distance_join(pts, feats, radius=0.5).toPandas()
    exp = _brute_pairs(lat, lon, flat, flon, 0.5)
    assert set(zip(got["point_id"], got["neighbor_id"])) == exp
    # exact distances, not approximations
    for _, r in got.head(20).iterrows():
        i, j = int(r["point_id"]), int(r["neighbor_id"]) - 1000
        d = (lat[i] - flat[j]) ** 2 + (lon[i] - flon[j]) ** 2
        assert r["dist"] == d


def test_distance_join_shuffle_path_parity(spark, pts_feats):
    pts, feats, *_ = pts_feats
    fast = spatial.distance_join(pts, feats, radius=0.5).toPandas()
    slow = spatial.distance_join(
        pts, feats, radius=0.5, broadcast_threshold=0
    ).toPandas()
    key = ["point_id", "neighbor_id"]
    pd.testing.assert_frame_equal(
        fast.sort_values(key).reset_index(drop=True),
        slow.sort_values(key).reset_index(drop=True),
    )


def test_distance_join_explicit_res_covers(spark, pts_feats):
    """A finer explicit res (disk radius > 1 cell) finds the same pairs."""
    pts, feats, lat, lon, flat, flon = pts_feats
    got = spatial.distance_join(pts, feats, radius=0.5, res=11).toPandas()
    assert set(zip(got["point_id"], got["neighbor_id"])) == _brute_pairs(
        lat, lon, flat, flon, 0.5
    )


def test_distance_join_rejects_bad_radius():
    with pytest.raises(ValueError):
        spatial.radius_res(0.0)
    with pytest.raises(ValueError):
        spatial.radius_res(-1.0)


def test_geo_clusters_matches_bruteforce_cc(spark, pts_feats):
    pts, _, lat, lon, *_ = pts_feats
    radius = 0.05
    got = spatial.geo_clusters(pts, radius=radius).toPandas()
    assert len(got) == N_PTS

    # brute-force union-find
    parent = list(range(N_PTS))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    d = (lat[:, None] - lat[None, :]) ** 2 + (lon[:, None] - lon[None, :]) ** 2
    for i, j in zip(*np.nonzero(d <= radius * radius)):
        if i < j:
            ri, rj = find(int(i)), find(int(j))
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
    exp = {i: find(i) for i in range(N_PTS)}
    assert {
        int(r["point_id"]): int(r["cluster_id"]) for _, r in got.iterrows()
    } == exp
    # the hot pocket collapses into few clusters; background stays sparse
    assert len({exp[i] for i in range(60)}) < 10


def test_trajectory_stats_matches_pandas(spark):
    n = 500
    ent = RNG.integers(0, 7, n)
    ts = RNG.integers(0, 10_000, n)
    lat = RNG.random(n) * 5
    lon = RNG.random(n) * 5
    pdf = pd.DataFrame(
        {"entity": ent, "ts": ts, "eid": np.arange(n), "lat": lat, "lon": lon}
    )
    got = (
        spatial.trajectory_stats(
            spark.createDataFrame(pdf), "entity", "ts", order_tiebreak="eid"
        )
        .toPandas()
        .set_index("entity")
        .sort_index()
    )
    for e, g in pdf.sort_values(["ts", "eid"]).groupby("entity"):
        seg = g["lat"].diff() ** 2 + g["lon"].diff() ** 2
        segq = np.floor(seg.dropna().to_numpy() * spatial.DIST_Q_SCALE).astype(np.int64)
        row = got.loc[e]
        assert row["n_points"] == len(g)
        assert row["n_segments"] == len(segq)
        assert row["total_dist_q"] == segq.sum()
        assert row["max_seg_q"] == (segq.max() if len(segq) else 0)


def test_trajectory_stats_single_point_entity(spark):
    pdf = pd.DataFrame(
        {"entity": [1], "ts": [5], "lat": [1.0], "lon": [2.0]}
    )
    got = spatial.trajectory_stats(
        spark.createDataFrame(pdf), "entity", "ts"
    ).toPandas()
    assert got.iloc[0]["n_points"] == 1
    assert got.iloc[0]["n_segments"] == 0
    assert got.iloc[0]["total_dist_q"] == 0
    assert got.iloc[0]["max_seg_q"] == 0


@pytest.fixture(scope="module")
def polygons(spark):
    rings = [
        ("A", [(36.0, -3.0), (36.0, 1.0), (39.0, 1.0), (39.0, -3.0)]),
        ("B", [(35.5, 4.0), (35.5, 9.0), (40.0, 4.0)]),  # triangle
    ]
    rows = [
        (pid, [{"lat": float(a), "lon": float(b)} for a, b in ring])
        for pid, ring in rings
    ]
    df = spark.createDataFrame(
        rows, "polygon_id string, ring array<struct<lat:double,lon:double>>"
    )
    return df, rings


def test_rasterize_center_rule(spark, polygons):
    df, rings = polygons
    res = 8
    got = spatial.rasterize_polygons(df, res).toPandas()
    n = 1 << res
    # oracle: every tile center tested against the exact ray-cast
    for pid, ring in rings:
        ringa = np.array(ring, dtype=np.float64)
        ix, iy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
        ix, iy = ix.ravel(), iy.ravel()
        clat = (iy.astype(np.float64) + 0.5) / n * 180.0 - 90.0
        clon = (ix.astype(np.float64) + 0.5) / n * 360.0 - 180.0
        inside = geo.points_in_polygon(clat, clon, ringa)
        exp = set((ix[inside] * n + iy[inside]).tolist())
        assert set(got[got["polygon_id"] == pid]["tile"]) == exp


def test_rasterize_paths_agree(spark, polygons):
    df, _ = polygons
    a = spatial.rasterize_polygons(df, 8).toPandas()
    b = spatial.rasterize_polygons(df, 8, collect_threshold=0).toPandas()
    key = ["polygon_id", "tile"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )


def test_rasterize_gate_is_one_bounded_job(spark, polygons):
    """Below the threshold the polygon gate is one bounded
    ``limit(threshold + 1)`` collect (the old count-then-collect gate ran
    two jobs); the rows equal the distributed path's."""
    import os

    df, _ = polygons
    sc = spark.sparkContext
    group = f"test-raster-gate-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "rasterize gate")
    try:
        small = spatial.rasterize_polygons(df, 8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    key = ["polygon_id", "tile"]
    for threshold in (0, 1):  # 0: gate off; 1: two polygons exceed it
        big = spatial.rasterize_polygons(df, 8, collect_threshold=threshold)
        pd.testing.assert_frame_equal(
            small.toPandas().sort_values(key).reset_index(drop=True),
            big.toPandas().sort_values(key).reset_index(drop=True),
        )


def test_rasterize_rejects_bad_res(spark, polygons):
    df, _ = polygons
    with pytest.raises(ValueError):
        spatial.rasterize_polygons(df, -1)
    with pytest.raises(ValueError):
        spatial.rasterize_polygons(df, cells.MAX_RES + 1)


def test_radius_res_covers_radius():
    """Cell lat extent at the chosen res always >= radius (disk radius 1
    covers), down to the MAX clamp."""
    for radius in [0.01, 0.05, 0.25, 1.0, 5.0, 30.0, 179.0]:
        r = spatial.radius_res(radius)
        n = 1 << r
        assert 3 <= r <= 20
        if r < 20:
            assert 180.0 / n >= radius or r == 3


# ---------------------------------------------------------------------------
# heatmap raster tiles
# ---------------------------------------------------------------------------

def test_heatmap_render_decodes_back_to_histogram(spark, pts_feats):
    from langtoolsosm_spark.functions import imagecodec
    from langtoolsosm_spark.operators import heatmap

    pts, *_ = pts_feats
    hist = heatmap.pixel_histogram(pts, res=5, tile_px=16).toPandas()
    tiles = heatmap.render_heatmap_tiles(pts, res=5, tile_px=16).toPandas()
    assert set(tiles["tile"]) == set(hist["tile"].unique())
    for _, r in tiles.iterrows():
        img = imagecodec.decode_png(bytes(r["png"]))
        sub = hist[hist["tile"] == r["tile"]]
        exp = np.zeros((16, 16, 3), dtype=np.uint8)
        v = np.minimum(sub["n"].to_numpy(), 255).astype(np.uint8)
        exp[15 - sub["py"].to_numpy(), sub["px"].to_numpy(), :] = v[:, None]
        assert np.array_equal(img, exp)
        assert r["n_points"] == sub["n"].sum()


def test_heatmap_stats_match_pandas_rollup(spark, pts_feats):
    from langtoolsosm_spark.operators import heatmap

    pts, *_ = pts_feats
    hist = heatmap.pixel_histogram(pts, res=5, tile_px=16).toPandas()
    got = (
        heatmap.heatmap_stats(pts, res=5, tile_px=16)
        .toPandas()
        .set_index("tile")
        .sort_index()
    )
    exp = hist.groupby("tile").agg(
        n_points=("n", "sum"),
        n_px=("n", "size"),
        max_px=("n", "max"),
        intensity_sum=("n", lambda s: np.minimum(s, 255).sum()),
    )
    pd.testing.assert_frame_equal(got, exp.sort_index(), check_dtype=False)
    # total conservation: every input point lands in exactly one pixel
    assert got["n_points"].sum() == pts.count()


def test_heatmap_rejects_bad_params(spark, pts_feats):
    from langtoolsosm_spark.operators import heatmap

    pts, *_ = pts_feats
    with pytest.raises(ValueError):
        heatmap.pixel_histogram(pts, res=5, tile_px=48)
    with pytest.raises(ValueError):
        heatmap.pixel_histogram(pts, res=-1, tile_px=16)


def test_polygon_area_centroid_known_shapes(spark):
    rings = [
        # CCW unit box at origin: area2 = 2, centroid (0.5, 0.5)
        ("box", [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)]),
        # same box CLOCKWISE: signed area flips, centroid unchanged
        ("boxcw", [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]),
        # 3-4-5 right triangle
        ("tri", [(0.0, 0.0), (0.0, 4.0), (3.0, 0.0)]),
    ]
    rows = [
        (pid, [{"lat": float(a), "lon": float(b)} for a, b in ring])
        for pid, ring in rings
    ]
    df = spark.createDataFrame(
        rows, "polygon_id string, ring array<struct<lat:double,lon:double>>"
    )
    got = (
        spatial.polygon_area_centroid(df)
        .toPandas()
        .set_index("polygon_id")
    )
    q = spatial.DIST_Q_SCALE
    assert got.loc["box", "area2_q"] == 2 * q
    assert got.loc["box", "cx"] == 0.5 and got.loc["box", "cy"] == 0.5
    assert got.loc["boxcw", "area2_q"] == -2 * q
    assert got.loc["boxcw", "cx"] == 0.5 and got.loc["boxcw", "cy"] == 0.5
    # triangle: area 6 -> area2 12; centroid = vertex mean
    assert got.loc["tri", "area2_q"] == 12 * q
    assert got.loc["tri", "cx"] == pytest.approx(4.0 / 3.0)
    assert got.loc["tri", "cy"] == pytest.approx(1.0)
    assert (got["n_vertices"] == [4, 4, 3]).all()


# ---------------------------------------------------------------------------
# bbox overlap join
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def rects(spark):
    def mk(n, base_id, scale):
        clat = 35.0 + RNG.random(n) * 10.0
        clon = -5.0 + RNG.random(n) * 15.0
        hh = 0.02 + RNG.random(n) * scale
        hw = 0.02 + RNG.random(n) * scale
        pdf = pd.DataFrame(
            {
                "id": np.arange(n, dtype=np.int64) + base_id,
                "south": clat - hh,
                "west": clon - hw,
                "north": clat + hh,
                "east": clon + hw,
            }
        )
        return spark.createDataFrame(pdf), pdf

    l_df, l_pdf = mk(300, 0, 0.3)
    r_df, r_pdf = mk(200, 10_000, 0.5)
    return l_df, r_df, l_pdf, r_pdf


def _brute_overlaps(l_pdf, r_pdf):
    out = set()
    for _, a in l_pdf.iterrows():
        hit = (
            (a["west"] <= r_pdf["east"])
            & (r_pdf["west"] <= a["east"])
            & (a["south"] <= r_pdf["north"])
            & (r_pdf["south"] <= a["north"])
        )
        out.update((int(a["id"]), int(rid)) for rid in r_pdf["id"][hit])
    return out


def test_bbox_join_matches_bruteforce(spark, rects):
    l_df, r_df, l_pdf, r_pdf = rects
    got = spatial.bbox_join(l_df, r_df, res=9).toPandas()
    pairs = list(zip(got["left_id"], got["right_id"]))
    # exactly-once: the anchor-cell trick must not duplicate pairs
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == _brute_overlaps(l_pdf, r_pdf)


def test_bbox_join_coarse_res_still_exact(spark, rects):
    """Coarser cells mean more rects per cell but the anchor + exact
    predicate keep the output identical."""
    l_df, r_df, l_pdf, r_pdf = rects
    got = spatial.bbox_join(l_df, r_df, res=5).toPandas()
    pairs = list(zip(got["left_id"], got["right_id"]))
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == _brute_overlaps(l_pdf, r_pdf)


def test_bbox_join_shuffle_path_parity(spark, rects):
    l_df, r_df, *_ = rects
    a = spatial.bbox_join(l_df, r_df, res=9).toPandas()
    b = spatial.bbox_join(l_df, r_df, res=9, broadcast_threshold=0).toPandas()
    key = ["left_id", "right_id"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )


def test_trajectory_resample_linear_interpolation(spark):
    pdf = pd.DataFrame(
        {
            "entity": [1, 1, 1, 2, 2],
            "ts": [0, 100, 130, 50, 250],
            "lat": [0.0, 10.0, 40.0, 5.0, 5.0],
            "lon": [0.0, 20.0, 20.0, 7.0, 9.0],
        }
    )
    got = (
        spatial.trajectory_resample(spark.createDataFrame(pdf), "entity", "ts", step=50)
        .toPandas()
        .sort_values(["entity", "sample_ts"])
        .reset_index(drop=True)
    )
    # entity 1: lattice {0, 50} in [0,100) from seg A; {100} in [100,130)
    # entity 2: lattice {50, 100, 150, 200} in [50, 250)
    assert got[got.entity == 1]["sample_ts"].tolist() == [0, 50, 100]
    assert got[got.entity == 2]["sample_ts"].tolist() == [50, 100, 150, 200]
    e1 = got[got.entity == 1].set_index("sample_ts")
    assert e1.loc[0, "lat"] == 0.0 and e1.loc[50, "lat"] == 5.0
    assert e1.loc[100, "lat"] == 10.0 and e1.loc[100, "lon"] == 20.0
    e2 = got[got.entity == 2].set_index("sample_ts")
    assert e2.loc[150, "lon"] == 8.0 and (e2["lat"] == 5.0).all()


def test_trajectory_resample_short_segments_and_bad_step(spark):
    # segment shorter than a step with no lattice point inside -> empty;
    # duplicate timestamps -> zero-length segment contributes nothing
    pdf = pd.DataFrame(
        {"entity": [1, 1, 1], "ts": [101, 149, 149],
         "lat": [0.0, 1.0, 2.0], "lon": [0.0, 1.0, 2.0]}
    )
    df = spark.createDataFrame(pdf)
    got = spatial.trajectory_resample(df, "entity", "ts", step=50).toPandas()
    assert len(got) == 0
    with pytest.raises(ValueError):
        spatial.trajectory_resample(df, "entity", "ts", step=0)


def test_mosaic_parent_tiles_pyramid_step(spark, pts_feats):
    from langtoolsosm_spark.functions import imagecodec
    from langtoolsosm_spark.operators import heatmap

    pts, *_ = pts_feats
    res, px = 5, 16
    child = heatmap.render_heatmap_tiles(pts, res, tile_px=px)
    parents = heatmap.mosaic_parent_tiles(child, res, tile_px=px).toPandas()
    cpdf = child.toPandas()

    n = 1 << res
    half = px // 2
    # n_points conservation per parent
    ckeys = cpdf["tile"].to_numpy()
    pkeys = (ckeys // n // 2) * (n // 2) + (ckeys % n) // 2
    exp_counts = pd.Series(cpdf["n_points"].to_numpy()).groupby(pkeys).sum()
    got_counts = parents.set_index("tile")["n_points"].sort_index()
    assert got_counts.to_dict() == exp_counts.sort_index().to_dict()

    # pixel math: each quadrant is the 2x2 integer-mean of its child
    pmap = {int(r["tile"]): imagecodec.decode_png(bytes(r["png"]))
            for _, r in parents.iterrows()}
    for _, r in cpdf.iterrows():
        cimg = imagecodec.decode_png(bytes(r["png"]))
        small = (cimg.astype(np.uint16).reshape(half, 2, half, 2, 3)
                 .sum(axis=(1, 3)) // 4).astype(np.uint8)
        cix, ciy = int(r["tile"]) // n, int(r["tile"]) % n
        ptile = (cix // 2) * (n // 2) + ciy // 2
        r0 = 0 if ciy & 1 else half
        c0 = 0 if not (cix & 1) else half
        assert np.array_equal(pmap[ptile][r0:r0 + half, c0:c0 + half], small)

    with pytest.raises(ValueError):
        heatmap.mosaic_parent_tiles(child, 0, tile_px=px)


# ---------------------------------------------------------------- clip


def _brute_clip(seg, res):
    """NumPy Liang-Barsky over every cover cell of one segment."""
    lat1, lon1, lat2, lon2 = seg
    n = 1 << res
    gx = lambda v, off, span: min(max(int(math.floor((v + off) / span * n)), 0), n - 1)
    out = []
    dx, dy = lon2 - lon1, lat2 - lat1
    for cx in range(gx(min(lon1, lon2), 180.0, 360.0), gx(max(lon1, lon2), 180.0, 360.0) + 1):
        for cy in range(gx(min(lat1, lat2), 90.0, 180.0), gx(max(lat1, lat2), 90.0, 180.0) + 1):
            w = cx * 360.0 / n - 180.0
            e = (cx + 1) * 360.0 / n - 180.0
            s = cy * 180.0 / n - 90.0
            nb = (cy + 1) * 180.0 / n - 90.0
            if dx == 0.0:
                ex_en, ex_ex = (-1e308, 1e308) if w <= lon1 <= e else (1e308, -1e308)
            else:
                ex_en, ex_ex = sorted(((w - lon1) / dx, (e - lon1) / dx))
            if dy == 0.0:
                ey_en, ey_ex = (-1e308, 1e308) if s <= lat1 <= nb else (1e308, -1e308)
            else:
                ey_en, ey_ex = sorted(((s - lat1) / dy, (nb - lat1) / dy))
            t0 = max(0.0, ex_en, ey_en)
            t1 = min(1.0, ex_ex, ey_ex)
            if t0 <= t1:
                out.append((cx * n + cy, t0, t1))
    return out


def test_clip_segments_matches_bruteforce(spark):
    rng = np.random.default_rng(77)
    n_seg, res = 120, 7
    lat1 = -60.0 + rng.random(n_seg) * 120.0
    lon1 = -170.0 + rng.random(n_seg) * 340.0
    # spans of a few cells plus axis-parallel and degenerate cases
    lat2 = lat1 + (rng.random(n_seg) - 0.5) * 6.0
    lon2 = lon1 + (rng.random(n_seg) - 0.5) * 6.0
    lat2[:10] = lat1[:10]            # horizontal
    lon2[10:20] = lon1[10:20]        # vertical
    lat2[20:25] = lat1[20:25]        # degenerate points
    lon2[20:25] = lon1[20:25]
    segs = spark.createDataFrame(
        pd.DataFrame({"seg_id": np.arange(n_seg, dtype=np.int64),
                      "lat1": lat1, "lon1": lon1, "lat2": lat2, "lon2": lon2})
    )
    got = spatial.clip_segments_to_tiles(segs, res=res).toPandas()
    by_seg = {i: [] for i in range(n_seg)}
    for _, r in got.iterrows():
        by_seg[int(r["seg_id"])].append(r)

    for i in range(n_seg):
        exp = _brute_clip((lat1[i], lon1[i], lat2[i], lon2[i]), res)
        gs = sorted(((int(r["tile"]), r["t0"], r["t1"]) for r in by_seg[i]))
        assert gs == sorted(exp), f"seg {i}"
        # reconstruction: sorted intervals tile [0, 1] without gaps
        iv = sorted((r["t0"], r["t1"]) for r in by_seg[i])
        assert iv[0][0] == 0.0 and iv[-1][1] == 1.0
        for (a0, a1), (b0, b1) in zip(iv, iv[1:]):
            assert b0 <= a1  # touching or corner-overlapping, never a gap
        # clipped endpoints are exact parametric points on the segment
        dx, dy = lon2[i] - lon1[i], lat2[i] - lat1[i]
        for r in by_seg[i]:
            assert r["xa"] == lon1[i] + r["t0"] * dx
            assert r["ya"] == lat1[i] + r["t0"] * dy
            assert r["xb"] == lon1[i] + r["t1"] * dx
            assert r["yb"] == lat1[i] + r["t1"] * dy


def test_clip_segments_endpoints_inside_tiles(spark):
    rng = np.random.default_rng(78)
    n_seg, res = 60, 9
    pdf = pd.DataFrame({
        "seg_id": np.arange(n_seg, dtype=np.int64),
        "lat1": -50.0 + rng.random(n_seg) * 100.0,
        "lon1": -160.0 + rng.random(n_seg) * 320.0,
    })
    pdf["lat2"] = pdf["lat1"] + (rng.random(n_seg) - 0.5) * 2.0
    pdf["lon2"] = pdf["lon1"] + (rng.random(n_seg) - 0.5) * 2.0
    got = spatial.clip_segments_to_tiles(spark.createDataFrame(pdf), res=res).toPandas()
    n = 1 << res
    eps = 1e-9
    for _, r in got.iterrows():
        cx, cy = int(r["tile"]) // n, int(r["tile"]) % n
        w = cx * 360.0 / n - 180.0
        e = (cx + 1) * 360.0 / n - 180.0
        s = cy * 180.0 / n - 90.0
        nb = (cy + 1) * 180.0 / n - 90.0
        for x, y in ((r["xa"], r["ya"]), (r["xb"], r["yb"])):
            assert w - eps <= x <= e + eps and s - eps <= y <= nb + eps


def test_clip_segments_rejects_bad_res(spark):
    df = spark.range(1).selectExpr("id seg_id", "0.0 lat1", "0.0 lon1",
                                   "1.0 lat2", "1.0 lon2")
    with pytest.raises(ValueError):
        spatial.clip_segments_to_tiles(df, res=-1)


# ------------------------------------------------------- focal / Moran


@pytest.fixture(scope="module")
def raster_pts(spark):
    rng = np.random.default_rng(5)
    n_pts, res = 3000, 4
    n = 1 << res
    lat = -80.0 + rng.random(n_pts) * 160.0
    lon = -170.0 + rng.random(n_pts) * 340.0
    lat[:800] = 40.0 + rng.random(800) * 3.0  # hot pocket
    lon[:800] = 1.0 + rng.random(800) * 3.0
    pts = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(int)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(int)
    grid = np.zeros((n, n), dtype=np.int64)
    np.add.at(grid, (ix, iy), 1)
    return pts, grid, res, n


def test_focal_stats_matches_bruteforce(spark, raster_pts):
    pts, grid, res, n = raster_pts
    got = spatial.focal_stats(pts, res).toPandas().set_index("tile")
    occ = {int(cx * n + cy) for cx, cy in zip(*np.nonzero(grid))}
    assert set(got.index) == occ
    for t, r in got.iterrows():
        cx, cy = t // n, t % n
        win = grid[max(0, cx - 1):cx + 2, max(0, cy - 1):cy + 2]
        vals = win[win > 0]
        assert r["n_rows"] == grid[cx, cy]
        assert r["focal_sum"] == vals.sum()
        assert r["focal_n"] == len(vals)
        assert r["focal_max"] == vals.max()


def test_moran_i_matches_bruteforce_exact(spark, raster_pts):
    """Full-grid python-int Moran (empties as 0) vs the histogram-only
    closed-form plan — EXACT doubles, not allclose."""
    pts, grid, res, n = raster_pts
    x = [int(v) for v in grid.flatten()]  # index cx * n + cy
    N = n * n
    S = sum(x)
    xb = [v * N - S for v in x]
    num_inner = 0
    for cx in range(n):
        for cy in range(n):
            for dx, dy in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                mx, my = cx + dx, cy + dy
                if 0 <= mx < n and 0 <= my < n:
                    num_inner += xb[cx * n + cy] * xb[mx * n + my]
    W = 4 * n * (n - 1)
    num = N * num_inner
    den = W * sum(v * v for v in xb)
    got = spatial.moran_i(pts, res).toPandas().iloc[0]
    assert got["num"] == float(num)
    assert got["den"] == float(den)
    assert got["moran_i"] == float(num) / float(den)
    assert got["w_sum"] == W and got["n_cells"] == N
    assert got["occupied"] == int((grid > 0).sum())


def test_moran_i_checkerboard_sign(spark):
    """Perfect checkerboard -> strongly negative I; solid block ->
    positive I (sanity on the statistic's sign, res small enough that
    every cell is populated deterministically)."""
    res, n = 2, 4
    rows = []
    for cx in range(n):
        for cy in range(n):
            lat = (cy + 0.5) / n * 180.0 - 90.0
            lon = (cx + 0.5) / n * 360.0 - 180.0
            for _ in range(10 if (cx + cy) % 2 == 0 else 1):
                rows.append((lat, lon))
    checker = spark.createDataFrame(pd.DataFrame(rows, columns=["lat", "lon"]))
    i_checker = spatial.moran_i(checker, res).toPandas().iloc[0]["moran_i"]
    assert i_checker < -0.5

    rows = []
    for cx in range(n):
        for cy in range(n):
            lat = (cy + 0.5) / n * 180.0 - 90.0
            lon = (cx + 0.5) / n * 360.0 - 180.0
            for _ in range(10 if cx < 2 else 1):
                rows.append((lat, lon))
    block = spark.createDataFrame(pd.DataFrame(rows, columns=["lat", "lon"]))
    i_block = spatial.moran_i(block, res).toPandas().iloc[0]["moran_i"]
    assert i_block > 0.3


def test_focal_moran_reject_bad_res(spark):
    df = spark.range(1).selectExpr("0.0 lat", "0.0 lon")
    with pytest.raises(ValueError):
        spatial.focal_stats(df, res=-1)
    with pytest.raises(ValueError):
        spatial.moran_i(df, res=99)


def test_hex_bin_matches_brute_force_voronoi(spark):
    """hex_bin's two-candidate decision must equal brute-force nearest
    center over the full combined lattice (ties -> grid A), i.e. it IS
    the Voronoi assignment of the centered-rectangular lattice."""
    rng = np.random.default_rng(7)
    lat = 35.0 + rng.uniform(0, 10, 300)
    lon = -5.0 + rng.uniform(0, 15, 300)
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    a, b = 5000, 8660
    got = spatial.hex_bin(df, a=a, b=b).select("__hx", "__hy", "hex_x", "hex_y").toPandas()

    x = got["__hx"].to_numpy()
    y = got["__hy"].to_numpy()
    # all centers within 2 pitches: A at (2a i, 2b j), B at odd multiples
    for xi, yi, hx, hy in zip(x, y, got["hex_x"], got["hex_y"]):
        best = None
        for gi in range(xi // (2 * a) - 2, xi // (2 * a) + 3):
            for gj in range(yi // (2 * b) - 2, yi // (2 * b) + 3):
                for cx, cy, pri in (
                    (2 * a * gi, 2 * b * gj, 0),
                    (a * (2 * gi + 1), b * (2 * gj + 1), 1),
                ):
                    d = (xi - cx) ** 2 + (yi - cy) ** 2
                    key = (d, pri, cx, cy)
                    if best is None or key < best:
                        best = key
        assert (hx, hy) == (best[2], best[3]), (xi, yi)


def test_hex_bin_tie_and_validation(spark):
    # a point exactly midway between an A and a B center goes to A
    df = spark.createDataFrame(
        pd.DataFrame({"lat": [35.0], "lon": [-5.0 + 0.05]})  # X=5000=B center x
    )
    r = spatial.hex_bin(df, a=5000, b=8660).collect()[0]
    # X=5000, Y=0: dA = 5000^2 to (0,0) or (10000,0); dB = 8660^2 to (5000,8660)
    assert (r["hex_x"], r["hex_y"]) in [(0, 0), (10000, 0)]
    with pytest.raises(ValueError):
        spatial.hex_bin(df, a=0)


def test_hilbert_key_bijection_adjacency_and_spark_parity(spark):
    """Order-4 curve: keys are a bijection onto [0, 256) and consecutive
    keys are Manhattan-distance-1 neighbors (THE Hilbert property Morton
    lacks); the Spark unrolled transform matches the NumPy kernel."""
    res, n = 4, 16
    gx, gy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    ks = cells.hilbert_key_np(gx.ravel(), gy.ravel(), res)
    assert sorted(ks.tolist()) == list(range(n * n))
    byk = np.empty((n * n, 2), dtype=np.int64)
    byk[ks] = np.stack([gx.ravel(), gy.ravel()], axis=1)
    steps = np.abs(np.diff(byk, axis=0)).sum(axis=1)
    assert (steps == 1).all()

    rng = np.random.default_rng(5)
    ix = rng.integers(0, 256, 200)
    iy = rng.integers(0, 256, 200)
    df = spark.createDataFrame(pd.DataFrame({"ix": ix, "iy": iy}))
    got = spatial.with_hilbert(df, 8).toPandas().sort_values(["ix", "iy"])
    exp = cells.hilbert_key_np(
        got["ix"].to_numpy(), got["iy"].to_numpy(), 8
    )
    assert (got["hkey"].to_numpy() == exp).all()
    with pytest.raises(ValueError):
        spatial.with_hilbert(df, 0)


def test_od_flows_counts_and_dwell(spark):
    """u1 moves A->B->B (one cross flow + one dwell), u2 moves A->B: the
    A->B flow has 2 trips from 2 entities; the B->B dwell 1 trip."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "uid": ["u1", "u1", "u1", "u2", "u2"],
                "ts": [1, 2, 3, 1, 2],
                "eid": [1, 2, 3, 4, 5],
                "lat": [10.0, 10.0, 10.0, 10.0, 10.0],
                "lon": [10.0, 50.0, 50.0, 10.0, 50.0],
            }
        )
    )
    got = {
        (r["from_tile"], r["to_tile"]): (r["n_trips"], r["n_entities"])
        for r in spatial.od_flows(
            df, "uid", "ts", res=4, order_tiebreak="eid"
        ).collect()
    }
    ta = cells.tile_key(np.array([10.0]), np.array([10.0]), 4)[0]
    tb = cells.tile_key(np.array([10.0]), np.array([50.0]), 4)[0]
    assert got[(ta, tb)] == (2, 2)
    assert got[(tb, tb)] == (1, 1)
    assert len(got) == 2


def test_geofence_transitions_path(spark):
    """Path out->in->in->out->in of a square zone: transitions are
    enter@2, exit@4, enter@5; a user starting inside emits a first-row
    enter from NULL; a user never inside emits nothing."""
    poly = spark.createDataFrame(
        [("Z1", [{"lat": 0.0, "lon": 0.0}, {"lat": 0.0, "lon": 10.0},
                 {"lat": 10.0, "lon": 10.0}, {"lat": 10.0, "lon": 0.0}])],
        schema="polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "uid": ["a"] * 5 + ["b", "c"],
                "ts": [1, 2, 3, 4, 5, 1, 1],
                "eid": [1, 2, 3, 4, 5, 6, 7],
                "lat": [20.0, 5.0, 6.0, 20.0, 5.0, 5.0, 20.0],
                "lon": [20.0, 5.0, 6.0, 20.0, 5.0, 5.0, 20.0],
            }
        )
    )
    from langtoolsosm_spark.operators.spatial import geofence_transitions

    got = sorted(
        (r["entity"], r["ts"], r["from_zone"], r["to_zone"])
        for r in geofence_transitions(
            ev, poly, "uid", "ts", res=6, id_col="eid", order_tiebreak="eid"
        ).collect()
    )
    assert got == [
        ("a", 2, None, "Z1"),
        ("a", 4, "Z1", None),
        ("a", 5, None, "Z1"),
        ("b", 1, None, "Z1"),
    ]


def test_idw_interpolate_weights_and_empty_target(spark):
    """One target between two sources: nearer source dominates with the
    exact integer weights; an isolated target stays with n_src=0/NULL."""
    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": [1, 2],
                "lat": [0.0, 0.0],
                "lon": [0.0, 0.2],
                "val": [100, 900],
            }
        )
    )
    tgt = spark.createDataFrame(
        pd.DataFrame({"id": [10, 20], "lat": [0.0, 50.0], "lon": [0.05, 50.0]})
    )
    from langtoolsosm_spark.operators.spatial import idw_interpolate

    got = {r["target_id"]: r for r in idw_interpolate(
        src, tgt, radius=0.3, value_col="val"
    ).collect()}
    r10 = got[10]
    w1 = 10**12 // (1 + int(0.05 * 0.05 * 1e9))       # d^2 = 0.0025
    w2 = 10**12 // (1 + int(np.floor(0.15000000000000002**2 * 1e9)))
    assert r10["n_src"] == 2
    assert r10["num"] == w1 * 100 + w2 * 900 and r10["den"] == w1 + w2
    assert abs(r10["est"] - (w1 * 100 + w2 * 900) / (w1 + w2)) < 1e-12
    assert r10["est"] < 200  # nearer source dominates
    assert got[20]["n_src"] == 0 and got[20]["est"] is None


def test_direction_rose_octants(spark):
    """Known path: N, E, SW moves land in the documented octants; the
    first row contributes nothing."""
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "uid": [1, 1, 1, 1],
                "ts": [1, 2, 3, 4],
                "eid": [1, 2, 3, 4],
                "lat": [0.0, 1.0, 1.0, 0.0],
                "lon": [0.0, 0.0, 2.0, 1.0],
            }
        )
    )
    got = {
        r["octant"]: r["n_moves"]
        for r in spatial.direction_rose(
            ev, "uid", "ts", order_tiebreak="eid"
        ).collect()
    }
    # N move (dlat=1>0, dlon=0>=0, |dlat|>|dlon|): 4+2+1=7
    # E move (dlat=0>=0, dlon=2>0, |0|>|2| false): 4+2+0=6
    # SW move (dlat=-1, dlon=-1, |a|>|o| false): 0+0+0=0
    assert got == {7: 1, 6: 1, 0: 1}
    assert sum(got.values()) == 3


def test_raster_polygonize_regions(spark):
    """Two point clusters separated by empty tiles form two regions;
    iy-wrap aliasing (tile+1 across a column boundary) must NOT merge
    them; sub-threshold tiles drop."""
    rows = []
    # cluster A: dense points in two horizontally adjacent res-4 tiles
    for k in range(5):
        rows += [(10.0 + k * 0.01, 10.0), (10.0 + k * 0.01, 35.0)]
    # cluster B: far away
    for k in range(4):
        rows.append((-60.0, -120.0 + k * 0.01))
    # noise: a single isolated point (below min_count)
    rows.append((30.0, -170.0))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["lat", "lon"]))
    got = spatial.raster_polygonize(df, res=4, min_count=2).collect()
    sizes = sorted((r["n_tiles"], r["n_pts"]) for r in got)
    # A spans tiles (10,10) and (10,35): lon 10->tile ix 8, lon 35-> ix 9
    # at res 4 (22.5 deg tiles) -> two horizontally adjacent tiles = ONE
    # region of 10 pts; B = one tile of 4 pts
    assert sizes == [(1, 4), (2, 10)]
