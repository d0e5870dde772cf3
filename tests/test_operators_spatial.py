"""Spark-level tests: PIP join, kNN join, tiling/skew vs brute-force
NumPy oracles (SURVEY.md §5 item 3)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from langtoolsosm_spark.functions import cells, geo
from langtoolsosm_spark.operators import knn as knn_mod
from langtoolsosm_spark.operators import pip_join as pip_mod
from langtoolsosm_spark.operators import tiling


@pytest.fixture(scope="module")
def tables(spark, synth_dir):
    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    polygons = spark.read.parquet(f"{synth_dir}/polygons.parquet")
    features = spark.read.parquet(f"{synth_dir}/features.parquet")
    return images, polygons, features


def _rings_pandas(polygons):
    pdf = polygons.select("polygon_id", "ring").toPandas()
    return {
        r["polygon_id"]: np.array([[p["lat"], p["lon"]] for p in r["ring"]])
        for _, r in pdf.iterrows()
    }


def test_pip_join_matches_bruteforce(spark, tables):
    images, polygons, _ = tables
    pts = images.select("image_id", "lat", "lon").limit(800)
    got = (
        pip_mod.pip_join(pts, polygons, res=8)
        .select("image_id", "polygon_id")
        .toPandas()
        .sort_values(["image_id", "polygon_id"])
        .reset_index(drop=True)
    )
    # brute force oracle
    p = pts.toPandas()
    rings = _rings_pandas(polygons)
    rows = []
    for pid, ring in rings.items():
        inside = geo.points_in_polygon(p["lat"].to_numpy(), p["lon"].to_numpy(), ring)
        for img in p["image_id"].to_numpy()[inside]:
            rows.append((img, pid))
    exp = (
        pd.DataFrame(rows, columns=["image_id", "polygon_id"])
        .sort_values(["image_id", "polygon_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_pip_join_unique_tiebreak(spark, tables):
    images, polygons, _ = tables
    pts = images.select("image_id", "lat", "lon").limit(500)
    got = pip_mod.pip_join(pts, polygons, res=8, unique=True).toPandas()
    assert got["image_id"].is_unique
    multi = pip_mod.pip_join(pts, polygons, res=8).toPandas()
    exp = multi.groupby("image_id")["polygon_id"].min()
    merged = got.set_index("image_id")["polygon_id"]
    assert merged.sort_index().equals(exp.sort_index())


def test_pip_boundary_points_unique_owner(spark, tables):
    """Points exactly on the P103/P104 shared edge land in exactly one."""
    images, polygons, _ = tables
    edge_pts = images.filter(F.col("lon") == 5.0).select("image_id", "lat", "lon")
    n_edge = edge_pts.count()
    assert n_edge >= 5  # datagen plants 8
    twins = polygons.filter(F.col("polygon_id").isin("P103", "P104"))
    joined = pip_mod.pip_join(edge_pts, twins, res=8).toPandas()
    counts = joined.groupby("image_id").size()
    assert (counts == 1).all()
    assert len(joined) == n_edge  # every edge point has exactly one owner


def test_knn_matches_bruteforce(spark, tables):
    images, _, features = tables
    pts = images.select("image_id", "lat", "lon").limit(300)
    k = 3
    got = (
        knn_mod.knn_join(pts, features, k=k, res=7)
        .select("image_id", "neighbor_id", "rank")
        .toPandas()
        .sort_values(["image_id", "rank"])
        .reset_index(drop=True)
    )
    p = pts.toPandas()
    f = features.select("id", "lat", "lon").toPandas()
    rows = []
    for _, r in p.iterrows():
        d = (f["lat"] - r["lat"]) ** 2 + (f["lon"] - r["lon"]) ** 2
        order = sorted(zip(d.to_numpy(), f["id"].to_numpy()))[:k]
        for rank, (_, fid) in enumerate(order, 1):
            rows.append((r["image_id"], fid, rank))
    exp = (
        pd.DataFrame(rows, columns=["image_id", "neighbor_id", "rank"])
        .sort_values(["image_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_knn_broadcast_and_cogroup_paths_identical(spark, tables):
    """The broadcast fast path (small dim, mapInPandas) and the cogroup
    ring-expansion path (huge dims) must produce identical rows, including
    (dist, id) tie-breaks — same kernel, two physical plans."""
    images, _, features = tables
    pts = images.select("image_id", "lat", "lon").limit(400)
    fast = (
        knn_mod.knn_join(pts, features, k=2)  # dim is tiny -> broadcast
        .toPandas()
        .sort_values(["image_id", "rank"])
        .reset_index(drop=True)
    )
    slow = (
        knn_mod.knn_join(pts, features, k=2, broadcast_threshold=0)
        .toPandas()
        .sort_values(["image_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(fast, slow, check_dtype=False)


def test_knn_gate_is_one_bounded_collect(spark, tables, monkeypatch):
    """The broadcast gate is a single ``limit(threshold + 1)`` collect
    handed to the grid pass: at ``broadcast_threshold`` = dim size no
    aggregate or count runs; one row fewer takes the cogroup path (whose
    ``agg`` still supplies the spans). Both give knn_broadcast's rows."""
    from pyspark.sql.classic.dataframe import DataFrame

    images, _, features = tables
    pts = images.select("image_id", "lat", "lon").limit(300)
    n = features.count()
    key = ["image_id", "rank"]
    exp = knn_mod.knn_broadcast(pts, features, k=2).toPandas().sort_values(key)
    calls = []
    for name in ("agg", "count"):
        def spy(self, *a, _orig=getattr(DataFrame, name), _name=name, **kw):
            calls.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, spy)
    # the cogroup path's round loop counts its unresolved rows after the agg
    for threshold, first_call in ((n, None), (n - 1, "agg")):
        calls.clear()
        got = knn_mod.knn_join(pts, features, k=2, broadcast_threshold=threshold)
        assert (calls[0] if calls else None) == first_call
        pd.testing.assert_frame_equal(
            got.toPandas().sort_values(key).reset_index(drop=True),
            exp.reset_index(drop=True),
            check_dtype=False,
        )


def test_tile_assignment_total_and_unique(spark, tables):
    images, _, _ = tables
    tiled = tiling.assign_tiles(images.select("image_id", "lat", "lon"), res=8)
    assert tiled.filter(F.col("tile").isNull()).count() == 0
    assert tiled.count() == tiled.select("image_id").distinct().count()
    # matches the NumPy kernel exactly
    pdf = tiled.toPandas()
    exp = cells.tile_key(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 8)
    assert (pdf["tile"].to_numpy() == exp).all()


def test_skew_hot_cell_detected_and_salted(spark, tables):
    images, _, _ = tables
    tiled = tiling.assign_tiles(images, res=6)
    hot = tiling.hot_cells(tiled, threshold=images.count() // 10)
    assert hot.count() >= 1  # datagen's urban cell
    salted = tiling.salted_repartition(tiled, threshold=images.count() // 10, buckets=8)
    dist = salted.groupBy("tile", "salt").count().toPandas()
    hot_tiles = set(hot.toPandas()["tile"])
    assert dist[dist["tile"].isin(hot_tiles)]["salt"].nunique() == 8
    cold = dist[~dist["tile"].isin(hot_tiles)]
    assert (cold["salt"] == 0).all()
    assert salted.count() == images.count()


def test_add_salt_row_bound_at_threshold_plans_no_histogram(spark, tables):
    """A row bound at or under the threshold gives the unbounded answer
    (columns in the same order, the same rows) with no hot-cell join; a
    bound above it plans the join as before."""
    images, _, _ = tables
    tiled = tiling.assign_tiles(images.select("image_id", "lat", "lon"), res=6)
    n = images.count()
    want = tiling.add_salt(tiled, threshold=n, buckets=8)
    for bound, joins in ((n, False), (n + 1, True)):
        got = tiling.add_salt(tiled, threshold=n, buckets=8, max_rows=bound)
        assert ("Join" in got._jdf.queryExecution().optimizedPlan().toString()) is joins
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        assert sorted(got.collect()) == sorted(want.collect())


def test_adaptive_split_balances(spark, tables):
    images, _, _ = tables
    cap = 150
    out = tiling.adaptive_split(images.select("image_id", "lat", "lon"), base_res=4, max_rows=cap, max_res=12)
    sizes = out.groupBy("acell", "acell_res").count().toPandas()
    assert (sizes["count"] <= cap).all()
    assert out.count() == images.count()
    assert sizes["acell_res"].max() > 4  # the hot cell actually split


def test_pip_join_shuffled_paths_match_broadcast(spark, tables):
    """broadcast_cover/broadcast_rings=False (the huge-polygon-dim path)
    must produce identical rows to the broadcast path."""
    images, polygons, _ = tables
    pts = images.select("image_id", "lat", "lon").limit(400)
    a = (
        pip_mod.pip_join(pts, polygons, res=8)
        .select("image_id", "polygon_id")
        .toPandas()
        .sort_values(["image_id", "polygon_id"])
        .reset_index(drop=True)
    )
    b = (
        pip_mod.pip_join(pts, polygons, res=8, broadcast_cover=False, broadcast_rings=False)
        .select("image_id", "polygon_id")
        .toPandas()
        .sort_values(["image_id", "polygon_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("hier", [False, True], ids=["cover", "cover_hier"])
def test_cover_gate_paths_agree_at_threshold(spark, tables, hier):
    """The cover gate's boundary: ``collect_threshold`` equal to the
    polygon count takes the driver-side path, one less takes the
    distributed applyInPandas path, and both give the same cover."""
    _, polygons, _ = tables
    n = polygons.count()

    def cover(threshold):
        if hier:
            return pip_mod.polygon_cover_hier(polygons, 6, 8, collect_threshold=threshold)
        return pip_mod.polygon_cover(polygons, 6, collect_threshold=threshold)

    def distributed(df):
        return "FlatMapGroupsInPandas" in df._jdf.queryExecution().analyzed().toString()

    def rows(df):
        pdf = df.toPandas()
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    at, below = cover(n), cover(n - 1)
    assert not distributed(at)
    assert distributed(below)
    got = rows(at)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, rows(below))
