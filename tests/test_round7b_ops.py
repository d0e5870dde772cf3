"""Round-7 second-session operator units: Markov predictability,
co-location lift, spatial k-fold, CMS heavy hitters, semivariogram,
cell compaction, dissolve perimeter, orientation histograms."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _ev(spark, rows):
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    return spark.createDataFrame(pdf).select(
        "user_id",
        F.timestamp_seconds("epoch").alias("ts"),
        "event_id", "lat", "lon",
    )


def test_tile_predictability_modal_and_tiebreak(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.spatial import tile_predictability

    def t(lat, lon):
        return int(tile_key(np.array([lat]), np.array([lon]), 6)[0])

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    # user 1: A->B twice, A->C once; user 2: A->C once (tie 2-2 broken
    # to the smaller tile id)
    rows = [
        (1, 0, 0, *a), (1, 1, 1, *b), (1, 2, 2, *a), (1, 3, 3, *b),
        (1, 4, 4, *a), (1, 5, 5, *c),
        (2, 0, 6, *a), (2, 1, 7, *c),
    ]
    out = {r["from_tile"]: r for r in
           tile_predictability(_ev(spark, rows), "user_id", "ts", res=6,
                               order_tiebreak="event_id").collect()}
    ta, tb, tc = t(*a), t(*b), t(*c)
    row = out[ta]
    # counts: A->B 2, A->C 2 -> tie, smaller tile id wins
    assert row["top_to_tile"] == min(tb, tc)
    assert row["top_n"] == 2 and row["total_n"] == 4 and row["n_dest"] == 2
    # B->A occurs twice (user 1 returns to A after each B visit)
    assert out[tb]["top_to_tile"] == ta and out[tb]["total_n"] == 2


def test_colocation_lift_exact_contingency(spark):
    from langtoolsosm_spark.operators.tiling import colocation_lift

    # 4 distinct tiles; cat 0 in tiles {T1,T2,T3}, cat 1 in {T1,T4}:
    # n_both 1, lift = (1*4)/(3*2)
    pts = {
        "T1": (10.0, 10.0), "T2": (20.0, 20.0),
        "T3": (30.0, 30.0), "T4": (40.0, 40.0),
    }
    rows = []
    eid = 0
    for tname, cat in [("T1", 0), ("T2", 0), ("T3", 0), ("T1", 1), ("T4", 1),
                       ("T1", 0)]:  # duplicate presence must not double-count
        lat, lon = pts[tname]
        rows.append((cat, lat, lon, eid)); eid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cat", "lat", "lon", "event_id"]))
    out = colocation_lift(df, "cat", res=6).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["cat_a"], r["cat_b"]) == (0, 1)
    assert (r["n_a"], r["n_b"], r["n_both"], r["n_tiles"]) == (3, 2, 1, 4)
    assert (r["lift_num"], r["lift_den"]) == (4, 6)


def test_spatial_kfold_blocked_and_balanced(spark):
    from langtoolsosm_spark.operators.sampling import spatial_kfold

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({
        "point_id": range(4000),
        "lat": 35 + rng.rand(4000) * 10,
        "lon": -5 + rng.rand(4000) * 15,
    })
    out = spatial_kfold(spark.createDataFrame(pdf), res=8, k=5)
    agg = out.groupBy("tile").agg(F.countDistinct("fold").alias("nf")).collect()
    # spatially blocked: one fold per tile
    assert all(r["nf"] == 1 for r in agg)
    folds = {r["fold"]: r["n"] for r in
             out.groupBy("fold").agg(F.count("*").alias("n")).collect()}
    assert set(folds) <= set(range(5)) and len(folds) == 5
    # roughly balanced (hash-uniform over ~hundreds of cells)
    assert max(folds.values()) < 3 * min(folds.values())
    with pytest.raises(ValueError):
        spatial_kfold(spark.createDataFrame(pdf), res=8, k=1)


def test_cms_heavy_hitters_guarantee_and_threshold(spark):
    from langtoolsosm_spark.operators.sketches import cms_heavy_hitters

    # 1000 rows: key 7 has 400, key 9 has 300, 300 singleton keys
    rows = [(7,)] * 400 + [(9,)] * 300 + [(1000 + i,) for i in range(300)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k"]))
    out = {r["key"]: r for r in
           cms_heavy_hitters(df, "k", mass_denom=10).collect()}
    # heavy keys must be reported (CMS never under-counts)
    assert 7 in out and 9 in out
    for r in out.values():
        assert r["cms_est"] >= r["exact_n"]       # one-sided guarantee
        assert r["cms_est"] * 10 >= r["total_n"]  # threshold honored
        assert r["total_n"] == 1000
    assert out[7]["exact_n"] == 400 and out[9]["exact_n"] == 300


def test_semivariogram_hand_grid(spark):
    from langtoolsosm_spark.operators.spatial import semivariogram

    # res 2 -> 90x90-degree cells. Occupy three cells in an L:
    # A=(ix1,iy1) x2, B=(ix2,iy1) x1, C=(ix1,iy2) x3.
    # d2=1 pairs: (A,B), (A,C): (2-1)^2 + (2-3)^2 = 2; d2=2 pair (B,C)... 
    # B=(2,1), C=(1,2) -> only reachable via offset (1,-1) from C: (3-1)^2=4
    pts = []
    def cell(ix, iy, n):
        # center of cell (ix, iy) at res 2: lon = -180 + (ix+.5)*90
        for _ in range(n):
            pts.append((-90 + (iy + 0.5) * 45, -180 + (ix + 0.5) * 90))
    cell(1, 1, 2); cell(2, 1, 1); cell(1, 2, 3)
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["lat", "lon"]))
    out = {r["d2"]: r for r in semivariogram(df, res=2, max_lag=2).collect()}
    assert out[1]["n_pairs"] == 2 and out[1]["sum_sq_diff"] == 2
    assert out[2]["n_pairs"] == 1 and out[2]["sum_sq_diff"] == 4
    assert 4 not in out  # no occupied pair at distance 2


def test_compact_cells_promotes_complete_quads(spark):
    from langtoolsosm_spark.operators.tiling import compact_cells

    # res 3 -> 8x8 cells (45 deg lon x 22.5 deg lat). Occupy the full
    # quad {(2,2),(2,3),(3,2),(3,3)} (-> one res-2 cell (1,1)) plus the
    # lone cell (5, 1) which must stay at res 3.
    def center(ix, iy):
        return (-90 + (iy + 0.5) * 22.5, -180 + (ix + 0.5) * 45.0)
    pts = [center(2, 2), center(2, 3), center(3, 2), center(3, 3),
           center(5, 1), center(5, 1)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["lat", "lon"]))
    out = sorted((r["res"], r["ix"], r["iy"])
                 for r in compact_cells(df, res=3, res_min=1).collect())
    assert out == [(2, 1, 1), (3, 5, 1)]

    # expansion invariant: uncompacting the cover reproduces the
    # original occupied set exactly
    occupied = {(2, 2), (2, 3), (3, 2), (3, 3), (5, 1)}
    expanded = set()
    for res, ix, iy in out:
        f = 1 << (3 - res)
        for dx in range(f):
            for dy in range(f):
                expanded.add((ix * f + dx, iy * f + dy))
    assert expanded == occupied

    with pytest.raises(ValueError):
        compact_cells(df, res=3, res_min=4)


def test_dissolve_perimeter_hand_shapes(spark):
    from langtoolsosm_spark.operators.spatial import dissolve_perimeter

    # res 4 grid; polygon P: 2x2 block -> 4 cells, 4 adjacencies,
    # perimeter 8, all 4 cells boundary. Polygon Q: single cell.
    n = 16
    cells = [("P", ix * n + iy) for ix in (3, 4) for iy in (5, 6)]
    cells.append(("Q", 9 * n + 9))
    df = spark.createDataFrame(pd.DataFrame(cells, columns=["polygon_id", "tile"]))
    out = {r["polygon_id"]: r for r in dissolve_perimeter(df, res=4).collect()}
    p, q = out["P"], out["Q"]
    assert (p["n_cells"], p["n_adj"], p["perimeter_edges"], p["n_boundary"]) == (4, 4, 8, 4)
    assert (q["n_cells"], q["n_adj"], q["perimeter_edges"], q["n_boundary"]) == (1, 0, 4, 1)


def test_orientation_hist_synthetic_gradients(spark):
    from langtoolsosm_spark.functions import imagecodec as ic
    from langtoolsosm_spark.operators.images import orientation_hist

    # vertical luminance ramp: gy > 0 everywhere, gx = 0 -> bin 1
    h, w = 8, 8
    ramp = np.zeros((h, w, 3), dtype=np.uint8)
    for r in range(h):
        ramp[r, :, :] = r * 20
    # horizontal ramp: gx > 0, gy = 0 -> bin 0
    hramp = np.zeros((h, w, 3), dtype=np.uint8)
    for c in range(w):
        hramp[:, c, :] = c * 20
    flat = np.full((h, w, 3), 77, dtype=np.uint8)  # no gradient -> no rows
    rows = [
        ("vert", ic.encode_raw(ramp), "raw"),
        ("horz", ic.encode_raw(hramp), "raw"),
        ("flat", ic.encode_raw(flat), "raw"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    out = orientation_hist(df).collect()
    by_img = {}
    for r in out:
        by_img.setdefault(r["image_id"], {})[r["bin"]] = r["n_px"]
    assert set(by_img["vert"]) == {1} and by_img["vert"][1] == 36
    assert set(by_img["horz"]) == {0} and by_img["horz"][0] == 36
    assert "flat" not in by_img


def test_stream_staypoints_parity_with_batch(spark, tmp_path):
    import os
    from langtoolsosm_spark.operators.spatial import staypoints
    from langtoolsosm_spark.streaming.microbatch import run_staypoints_stream_once

    rng = np.random.RandomState(7)
    rows = []
    eid = 0
    ts0 = 1_700_000_000
    for u in (1, 2):
        t = ts0
        # two stays separated by a jump, then a tail of wandering
        for stay_center in ((10.0, 10.0), (30.0, 30.0)):
            for i in range(6):
                rows.append((u, t, eid,
                             stay_center[0] + rng.rand() * 0.5,
                             stay_center[1] + rng.rand() * 0.5))
                t += 400; eid += 1
        for i in range(4):
            rows.append((u, t, eid, 50.0 + i * 8.0, -50.0 + i * 8.0))
            t += 400; eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    df = _ev(spark, pdf.itertuples(index=False, name=None))

    batch = sorted(tuple(r) for r in
                   staypoints(df, dist_micro=1_000_000, min_stay_s=1000).collect())

    src = str(tmp_path / "src"); os.makedirs(src)
    spdf = df.toPandas().sort_values(["ts", "event_id"], kind="mergesort")
    spdf["ts"] = spdf["ts"].astype("datetime64[us]")
    n = len(spdf)
    for i in range(3):
        p = os.path.join(src, f"b{i}.parquet")
        spdf.iloc[i * n // 3: (i + 1) * n // 3].to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = sorted(tuple(r) for r in run_staypoints_stream_once(
        spark, src, str(tmp_path / "ckpt"),
        dist_micro=1_000_000, min_stay_s=1000).collect())
    assert batch == streamed and len(batch) >= 2


def test_od_reciprocity_directional_counts(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.spatial import od_reciprocity

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    rows = [
        (1, 0, 0, *a), (1, 1, 1, *b), (1, 2, 2, *a), (1, 3, 3, *b),
        (2, 0, 4, *b), (2, 1, 5, *a), (2, 2, 6, *a),  # B->A then A->A (intra, dropped)
        (3, 0, 7, *a), (3, 1, 8, *c),
    ]
    out = {(r["tile_a"], r["tile_b"]): r for r in od_reciprocity(
        _ev(spark, rows), "user_id", "ts", res=6,
        order_tiebreak="event_id").collect()}

    def t(p):
        return int(tile_key(np.array([p[0]]), np.array([p[1]]), 6)[0])
    ta, tb, tc = t(a), t(b), t(c)
    kab = (min(ta, tb), max(ta, tb))
    r = out[kab]
    # user 1 alternates A,B,A,B: A->B twice and B->A once; user 2 adds
    # another B->A -> 2 trips each way
    assert (r["n_ab"], r["n_ba"]) == (2, 2) and r["n_recip"] == 2
    kac = (min(ta, tc), max(ta, tc))
    r2 = out[kac]
    assert sorted((r2["n_ab"], r2["n_ba"])) == [0, 1] and r2["n_recip"] == 0


def test_tile_coverage_curve_hand_case(spark):
    from langtoolsosm_spark.operators.tiling import tile_coverage_curve

    # three tiles with 6/3/1 rows (total 10): 50% needs 1 tile (6 covers),
    # 70% needs 2 (9), 100% needs all 3
    pts = []
    for (lat, lon), n in [((10.0, 10.0), 6), ((40.0, 40.0), 3),
                          ((-40.0, -40.0), 1)]:
        pts += [(lat, lon)] * n
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["lat", "lon"]))
    out = {r["decile"]: r for r in tile_coverage_curve(df, res=6).collect()}
    assert len(out) == 10
    assert out[5]["n_tiles"] == 1 and out[5]["covered_rows"] == 6
    assert out[6]["n_tiles"] == 1   # 6/10 >= 0.6
    assert out[7]["n_tiles"] == 2 and out[7]["covered_rows"] == 9
    assert out[10]["n_tiles"] == 3 and out[10]["covered_rows"] == 10
    assert all(r["total_rows"] == 10 for r in out.values())


def test_wait_time_hist_hand_gaps(spark):
    from langtoolsosm_spark.operators.tiling import wait_time_hist

    a, b = (10.0, 10.0), (40.0, 40.0)
    # tile A gaps: 1s, 3s, 0s; tile B: one event, no gap
    rows = [
        (1, 0, 0, *a), (1, 1, 1, *a), (1, 4, 2, *a), (2, 4, 3, *a),
        (1, 9, 4, *b),
    ]
    out = {r["bucket"]: r for r in
           wait_time_hist(_ev(spark, rows), res=6,
                          order_tiebreak="event_id").collect()}
    # gaps 0 and 1 -> bucket 1 (len(bin) == 1); gap 3 -> bucket 2
    assert out[1]["n_gaps"] == 2 and out[1]["total_gap_s"] == 1
    assert out[2]["n_gaps"] == 1 and out[2]["max_gap_s"] == 3
    assert set(out) == {1, 2}


def test_exploration_curve_hand_walk(spark):
    from langtoolsosm_spark.operators.tiling import exploration_curve

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    # user 1 (5 events): A B A C B -> cum tiles 1,2,2,3,3 at deciles
    # 1,3,5,7,9; user 2 (1 event): A -> decile 1 only
    rows = [
        (1, 0, 0, *a), (1, 1, 1, *b), (1, 2, 2, *a),
        (1, 3, 3, *c), (1, 4, 4, *b),
        (2, 0, 5, *a),
    ]
    out = {r["decile"]: r for r in
           exploration_curve(_ev(spark, rows), res=6,
                             order_tiebreak="event_id").collect()}
    assert out[1]["sum_tiles"] == 2 and out[1]["n_entities"] == 2
    assert out[3]["sum_tiles"] == 2 and out[3]["n_entities"] == 1
    assert out[5]["sum_tiles"] == 2
    assert out[7]["sum_tiles"] == 3
    assert out[9]["sum_tiles"] == 3
    assert set(out) == {1, 3, 5, 7, 9}


def test_exploration_curve_rejects_bad_deciles(spark):
    from langtoolsosm_spark.operators.tiling import exploration_curve

    with pytest.raises(ValueError, match="deciles"):
        exploration_curve(_ev(spark, [(1, 0, 0, 1.0, 1.0)]), res=6, deciles=0)


def test_quadrat_chi2_hand_grid(spark):
    from langtoolsosm_spark.operators.spatial import quadrat_chi2

    # res 1 -> 2x2 global lattice; put 4 points in one cell, 0 elsewhere
    # inside a 2x2 occupied bbox: need occupied corners to span the bbox.
    # Points: 3 in (west,south) cell, 1 in (east,north) cell ->
    # bbox = full 2x2 -> Q = 4? No: ix span {0,1}, iy span {0,1} -> Q=4.
    pdf = pd.DataFrame(
        [(1, -10.0, -10.0), (2, -11.0, -11.0), (3, -12.0, -12.0),
         (4, 10.0, 10.0)],
        columns=["point_id", "lat", "lon"],
    )
    row = quadrat_chi2(spark.createDataFrame(pdf), res=1).collect()[0]
    # N=4, Q=4, sum_sq = 9 + 1 = 10 -> chi2 = (4*10 - 16)/4 = 6.0
    assert row["n_points"] == 4 and row["n_quadrats"] == 4
    assert row["occupied"] == 2
    assert row["chi2_num"] == 24.0 and row["chi2_den"] == 4.0
    assert row["chi2"] == 6.0


def test_quadrat_chi2_uniform_is_zero(spark):
    from langtoolsosm_spark.operators.spatial import quadrat_chi2

    # one point per cell of the 2x2 lattice -> chi2 = 0 exactly
    pdf = pd.DataFrame(
        [(1, -10.0, -10.0), (2, -10.0, 10.0), (3, 10.0, -10.0),
         (4, 10.0, 10.0)],
        columns=["point_id", "lat", "lon"],
    )
    row = quadrat_chi2(spark.createDataFrame(pdf), res=1).collect()[0]
    assert row["chi2"] == 0.0 and row["n_quadrats"] == 4


def test_join_counts_hand_colors(spark):
    from langtoolsosm_spark.operators.spatial import join_counts

    # res 2 (4x4 lattice, 90/4=22.5 deg lat cells, 90 deg lon cells).
    # Build a horizontal strip of 3 adjacent occupied cells (same iy,
    # consecutive ix) with counts 4, 4, 1 -> mean = 3 -> B B W.
    # Pairs: (B,B) and (B,W) -> bb=1, ww=0, bw=1, n_pairs=2.
    rows = []
    pid = 0
    for lon, cnt in [(-170.0, 4), (-80.0, 4), (10.0, 1)]:
        for _ in range(cnt):
            pid += 1
            rows.append((pid, 10.0, lon))
    pdf = pd.DataFrame(rows, columns=["point_id", "lat", "lon"])
    row = join_counts(spark.createDataFrame(pdf), res=2).collect()[0]
    assert row["n_black"] == 2 and row["n_white"] == 1
    assert row["n_pairs"] == 2
    assert row["bb"] == 1 and row["ww"] == 0 and row["bw"] == 1


def test_join_counts_rejects_bad_res(spark):
    from langtoolsosm_spark.operators.spatial import join_counts, quadrat_chi2

    pdf = pd.DataFrame([(1, 0.0, 0.0)], columns=["point_id", "lat", "lon"])
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="res"):
        join_counts(df, res=-1)
    with pytest.raises(ValueError, match="res"):
        quadrat_chi2(df, res=99)


def test_daily_motifs_hand_days(spark):
    from langtoolsosm_spark.operators.tiling import daily_motifs

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    day = 86400
    rows = [
        # user 1 day 0: A B A  -> 2 tiles, 2 transitions, return
        (1, 0, 0, *a), (1, 10, 1, *b), (1, 20, 2, *a),
        # user 1 day 1: A B C -> 3 tiles, 2 transitions, no return
        (1, day, 3, *a), (1, day + 1, 4, *b), (1, day + 2, 5, *c),
        # user 2 day 0: A A   -> 1 tile, 0 transitions, return
        (2, 0, 6, *a), (2, 5, 7, *a),
    ]
    out = {
        (r["n_tiles"], r["n_transitions"], r["home_return"]): r
        for r in daily_motifs(_ev(spark, rows), res=6,
                              order_tiebreak="event_id").collect()
    }
    assert out[(2, 2, 1)]["n_entity_days"] == 1
    assert out[(2, 2, 1)]["total_events"] == 3
    assert out[(3, 2, 0)]["n_entity_days"] == 1
    assert out[(1, 0, 1)]["n_entity_days"] == 1
    assert out[(1, 0, 1)]["total_events"] == 2
    assert len(out) == 3


def test_local_bridges_hand_graph(spark):
    from langtoolsosm_spark.operators.graphs import local_bridges

    # triangle 1-2-3 plus pendant chain 3-4, 4-5; duplicate/reversed
    # edges must not matter. Bridges: (3,4) and (4,5); triangle edges
    # all have a common neighbor.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4), (4, 3), (4, 5)],
        "src long, dst long",
    )
    out = {(r["a"], r["b"]): r for r in local_bridges(edges).collect()}
    assert set(out) == {(3, 4), (4, 5)}
    assert out[(3, 4)]["deg_a"] == 3 and out[(3, 4)]["deg_b"] == 2
    assert out[(4, 5)]["deg_b"] == 1


def test_stream_dwell_parity_and_contract(spark, tmp_path):
    from langtoolsosm_spark.operators.tiling import dwell_time
    from langtoolsosm_spark.streaming.microbatch import run_dwell_stream_once

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    rows = [
        (1, 0, 0, *a), (1, 100, 1, *b),   # batch 0
        (1, 250, 2, *b), (2, 260, 3, *c),  # batch 1 (cross-batch seg)
        (1, 400, 4, *c), (2, 500, 5, *c),  # batch 2
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
    pdf = pdf[["user_id", "ts", "event_id", "lat", "lon"]]
    src = tmp_path / "src"
    src.mkdir()
    import os
    for i in range(3):
        p = str(src / f"b{i}.parquet")
        pdf.iloc[i * 2 : i * 2 + 2].to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = run_dwell_stream_once(
        spark, str(src), str(tmp_path / "ckpt"), res=6
    )
    batch = dwell_time(
        spark.createDataFrame(pdf), res=6, order_tiebreak="event_id"
    )
    s = {r["tile"]: r for r in streamed.collect()}
    bt = {r["tile"]: r for r in batch.collect()}
    assert set(s) == set(bt)
    for t in bt:
        assert s[t]["total_dwell_s"] == bt[t]["total_dwell_s"]
        assert s[t]["n_segments"] == bt[t]["n_segments"]
        assert s[t]["n_entities"] == bt[t]["n_entities"]


def test_knn_classify_vote_and_tiebreak(spark):
    # replicate the registry composition on a hand case: 1 query point,
    # 5 features with labels 0,0,1,1,2 at increasing distance -> labels
    # 0 and 1 tie at 2 votes -> smaller label (0) wins.
    from pyspark.sql import functions as F
    from langtoolsosm_spark.operators.knn import knn_join

    pts = spark.createDataFrame([(1, 0.0, 0.0)], "point_id long, lat double, lon double")
    feats = spark.createDataFrame(
        [(10, 0.0, 0.1), (15, 0.0, 0.2), (11, 0.0, 0.3),
         (16, 0.0, 0.4), (12, 0.0, 0.5), (13, 0.0, 9.0)],
        "id long, lat double, lon double",
    )
    knn = knn_join(pts, feats, k=5, res=7, point_id="point_id",
                   feature_id="id").select(
        "point_id", (F.col("neighbor_id") % 5).alias("label")
    )
    votes = knn.groupBy("point_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    best = votes.groupBy("point_id").agg(
        F.max(F.struct(F.col("votes"), (-F.col("label")).alias("nl"))).alias("b")
    ).select("point_id", (-F.col("b.nl")).alias("label"), F.col("b.votes").alias("votes"))
    row = best.collect()[0]
    assert row["label"] == 0 and row["votes"] == 2


def test_bilinear_interp_exact_center_and_quarter(spark):
    from langtoolsosm_spark.operators.spatial import bilinear_interp

    # res 1, 2x2 lattice, cells are 180x90 deg. Load cell (0,0) with 8
    # points and cell (1,0) with 4. Query exactly at the midpoint
    # between the two cell centers (lon = 0 boundary, lat at the cell
    # (.,0) center row) -> bilinear = (8+4)/2 = 6.
    rows = [(i, -45.0, -90.0) for i in range(8)]
    rows += [(100 + i, -45.0, 90.0) for i in range(4)]
    fact = spark.createDataFrame(
        pd.DataFrame(rows, columns=["point_id", "lat", "lon"])
    )
    qs = spark.createDataFrame(
        pd.DataFrame([(1, -45.0, 0.0), (2, -45.0, -90.0)],
                     columns=["id", "lat", "lon"])
    )
    out = {r["id"]: r for r in
           bilinear_interp(fact, qs, res=1, s_bits=16).collect()}
    assert out[1]["val"] == 6.0                       # halfway blend
    assert out[2]["val"] == 8.0                       # exactly on a center
    assert out[1]["val_den"] == (1 << 32)
    assert out[1]["val_num"] == 6 * (1 << 32)


def test_bilinear_interp_edge_clamps_to_zero(spark):
    from langtoolsosm_spark.operators.spatial import bilinear_interp

    # occupied cell only at the south-west; a query in the north-east
    # cell has all four corner cells unoccupied or off-lattice — the
    # value is exactly 0, never an error (and the off-lattice corner
    # indices at the globe edge are masked, not joined).
    fact = spark.createDataFrame(
        pd.DataFrame([(1, -45.0, -90.0)], columns=["point_id", "lat", "lon"])
    )
    qs = spark.createDataFrame(
        pd.DataFrame([(1, 89.9, 179.9)], columns=["id", "lat", "lon"])
    )
    row = bilinear_interp(fact, qs, res=1, s_bits=16).collect()[0]
    assert row["val"] == 0.0 and row["val_num"] == 0


def test_image_coverage_gap_hand_lattice(spark):
    from langtoolsosm_spark.operators.images import image_coverage_gap
    from langtoolsosm_spark.functions.cells import tile_key

    # res 2: three event cells in a row; images cover the middle one
    # and one neighbor of the first. Gap cells = first and third.
    ev_rows = []
    eid = 0
    for lon, cnt in [(-170.0, 3), (-80.0, 2), (10.0, 2)]:
        for _ in range(cnt):
            eid += 1
            ev_rows.append((eid, 10.0, lon))
    events = spark.createDataFrame(
        pd.DataFrame(ev_rows, columns=["event_id", "lat", "lon"])
    )
    # image in the middle cell and one ABOVE the first cell
    images = spark.createDataFrame(
        pd.DataFrame([(1, 10.0, -80.0), (2, 60.0, -170.0)],
                     columns=["image_id", "lat", "lon"])
    )
    out = {r["tile"]: r for r in
           image_coverage_gap(events, images, res=2, min_events=2).collect()}

    def t(lat, lon):
        return int(tile_key(np.array([lat]), np.array([lon]), 2)[0])

    first, third = t(10.0, -170.0), t(10.0, 10.0)
    assert set(out) == {first, third}
    # first gap cell: neighbors covered = middle? no (not adjacent at
    # res 2: cells are 90 deg wide; -170 and -80 ARE adjacent columns)
    assert out[first]["n_events"] == 3
    assert out[first]["covered_neighbors"] == 2  # middle cell + above
    assert out[third]["covered_neighbors"] == 1  # middle cell only


def test_image_coverage_gap_rejects_bad_min(spark):
    from langtoolsosm_spark.operators.images import image_coverage_gap

    df = spark.createDataFrame(pd.DataFrame([(0, 0.0, 0.0)],
                                            columns=["x", "lat", "lon"]))
    with pytest.raises(ValueError, match="min_events"):
        image_coverage_gap(df, df, res=2, min_events=0)


def test_tile_dup_rate_hand_counts(spark):
    from langtoolsosm_spark.operators.images import tile_dup_rate

    rows = [
        (1, 111, 10.0, 10.0), (2, 111, 10.0, 10.0), (3, 222, 10.0, 10.0),
        (4, 333, -40.0, -40.0),
    ]
    img = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "phash", "lat", "lon"])
    )
    out = {r["n_images"]: r for r in tile_dup_rate(img, res=5).collect()}
    assert out[3]["n_distinct"] == 2 and out[3]["dup_milli"] == 333
    assert out[1]["n_distinct"] == 1 and out[1]["dup_milli"] == 0


def test_stream_wait_time_parity_with_batch(spark, tmp_path):
    import os
    from langtoolsosm_spark.operators.tiling import wait_time_hist
    from langtoolsosm_spark.streaming.microbatch import run_wait_time_stream_once

    a, b = (10.0, 10.0), (40.0, 40.0)
    rows = [
        (1, 0, 0, *a), (2, 1, 1, *a),    # batch 0: gap 1 in A
        (1, 5, 2, *a), (1, 6, 3, *b),    # batch 1: gap 4 in A (cross-batch)
        (2, 9, 4, *b), (1, 20, 5, *a),   # batch 2: gap 3 in B, 15 in A
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
    pdf = pdf[["user_id", "ts", "event_id", "lat", "lon"]]
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        p = str(src / f"b{i}.parquet")
        pdf.iloc[i * 2 : i * 2 + 2].to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = {r["bucket"]: r for r in run_wait_time_stream_once(
        spark, str(src), str(tmp_path / "ckpt"), res=6
    ).collect()}
    batch = {r["bucket"]: r for r in wait_time_hist(
        spark.createDataFrame(pdf), res=6, order_tiebreak="event_id"
    ).collect()}
    assert set(streamed) == set(batch)
    for k in batch:
        assert streamed[k]["n_gaps"] == batch[k]["n_gaps"]
        assert streamed[k]["total_gap_s"] == batch[k]["total_gap_s"]
        assert streamed[k]["max_gap_s"] == batch[k]["max_gap_s"]


def test_od_topk_rank_and_tiebreak(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.spatial import od_topk

    a, b, c, d = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0), (60.0, 60.0)
    # from A: ->B x2, ->C x2 (tie, smaller tile first), ->D x1
    rows = [
        (1, 0, 0, *a), (1, 1, 1, *b), (1, 2, 2, *a), (1, 3, 3, *b),
        (2, 0, 4, *a), (2, 1, 5, *c), (2, 2, 6, *a), (2, 3, 7, *c),
        (3, 0, 8, *a), (3, 1, 9, *d),
    ]
    out = od_topk(_ev(spark, rows), "user_id", "ts", k=2, res=6,
                  order_tiebreak="event_id").collect()

    def t(p):
        return int(tile_key(np.array([p[0]]), np.array([p[1]]), 6)[0])

    ta = t(a)
    mine = sorted([(r["rank"], r["to_tile"]) for r in out
                   if r["from_tile"] == ta])
    tb, tc = t(b), t(c)
    assert mine == [(1, min(tb, tc)), (2, max(tb, tc))]
    # k=2 drops D; the back-transitions B->A etc. still rank for B/C
    assert all(r["rank"] <= 2 for r in out)


def test_od_backbone_share_filter(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.spatial import od_backbone

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    # origin A: 9 trips to B, 1 to C -> with share_den=5 only B stays
    rows = []
    eid = 0
    for i in range(9):
        rows += [(i, 0, eid, *a), (i, 1, eid + 1, *b)]
        eid += 2
    rows += [(99, 0, eid, *a), (99, 1, eid + 1, *c)]
    out = od_backbone(_ev(spark, rows), "user_id", "ts", share_den=5,
                      res=6, order_tiebreak="event_id").collect()

    def t(p):
        return int(tile_key(np.array([p[0]]), np.array([p[1]]), 6)[0])

    from_a = [r for r in out if r["from_tile"] == t(a)]
    assert len(from_a) == 1
    assert from_a[0]["to_tile"] == t(b)
    assert from_a[0]["n_trips"] == 9 and from_a[0]["origin_trips"] == 10


def test_trip_segments_split_and_displacement(spark):
    from langtoolsosm_spark.operators.spatial import trip_segments

    a, b = (10.0, 10.0), (10.0, 11.0)  # 1 deg lon apart -> dx = 1e6
    rows = [
        (1, 0, 0, *a), (1, 100, 1, *b),          # trip 1: A->B
        (1, 100 + 7200, 2, *a),                   # gap 7200 > 3600 -> trip 2
        (2, 0, 3, *a),                            # single-point trip
    ]
    out = {(r["entity"], r["trip_id"]): r for r in trip_segments(
        _ev(spark, rows), "user_id", "ts", max_gap_s=3600, res=6,
        order_tiebreak="event_id",
    ).collect()}
    t1 = out[(1, 1)]
    assert t1["n_points"] == 2 and t1["duration_s"] == 100
    assert t1["disp2"] == 1_000_000 ** 2
    t2 = out[(1, 2)]
    assert t2["n_points"] == 1 and t2["disp2"] == 0 and t2["duration_s"] == 0
    assert out[(2, 1)]["n_points"] == 1
    assert len(out) == 3


def test_trip_segments_rejects_bad_gap(spark):
    from langtoolsosm_spark.operators.spatial import trip_segments

    with pytest.raises(ValueError, match="max_gap_s"):
        trip_segments(_ev(spark, [(1, 0, 0, 1.0, 1.0)]), "user_id", "ts",
                      max_gap_s=0)


def test_speed_outliers_teleport_and_zero_dt(spark):
    from langtoolsosm_spark.operators.spatial import speed_outliers

    # segment 1: 1 deg (1e6 micro) in 1000 s -> speed 1000 micro/s,
    # under vmax 2000 -> clean. segment 2: same distance in 1 s ->
    # 1e6 micro/s -> flagged. segment 3: zero dt, nonzero move -> flagged.
    rows = [
        (1, 0, 0, 10.0, 10.0), (1, 1000, 1, 10.0, 11.0),
        (1, 1001, 2, 10.0, 12.0),
        (2, 0, 3, 10.0, 10.0), (2, 0, 4, 10.0, 11.0),
    ]
    out = speed_outliers(_ev(spark, rows), "user_id", "ts",
                         vmax_micro=2000, order_tiebreak="event_id").collect()
    got = {(r["entity"], r["start_ep"], r["end_ep"]) for r in out}
    assert got == {(1, 1000, 1001), (2, 0, 0)}
    for r in out:
        assert r["dist2"] == 1_000_000 ** 2


def test_geofence_dwell_start_attribution(spark):
    from langtoolsosm_spark.operators.spatial import geofence_dwell

    polys = spark.createDataFrame(
        [("P1", [{"lat": 0.0, "lon": 0.0}, {"lat": 0.0, "lon": 10.0},
                 {"lat": 10.0, "lon": 10.0}, {"lat": 10.0, "lon": 0.0}])],
        "polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    # user 1: inside -> outside (100 s, attributed to P1), then
    # outside -> inside (50 s, NOT attributed); trailing point ignored
    rows = [
        (1, 0, 0, 5.0, 5.0), (1, 100, 1, 50.0, 50.0), (1, 150, 2, 5.0, 5.0),
    ]
    out = geofence_dwell(_ev(spark, rows), polys, "user_id", "ts",
                         res=6, order_tiebreak="event_id").collect()
    assert len(out) == 1
    r = out[0]
    assert r["polygon_id"] == "P1"
    assert r["total_dwell_s"] == 100 and r["n_segments"] == 1
    assert r["n_entities"] == 1


def test_pyramid_gaps_partial_quads(spark):
    from langtoolsosm_spark.operators.tiling import pyramid_gaps

    # res 2: parent quads are 2x2 child blocks. Fill one full quad
    # (children (0,0),(0,1),(1,0),(1,1)) and one partial (child (2,0)
    # only). Full quad must NOT appear.
    # child cell centers at res 2: cell k covers 90 deg lon each.
    rows = [
        (1, -67.5, -157.5), (2, -22.5, -157.5),   # iy 0,1 ix 0
        (3, -67.5, -45.0), (4, -22.5, -45.0),     # ix 1
        (5, -67.5, 22.5),                          # ix 2, iy 0 (partial)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["point_id", "lat", "lon"])
    )
    out = pyramid_gaps(df, res=2).collect()
    assert len(out) == 1
    assert out[0]["n_children"] == 1 and out[0]["n_rows"] == 1
    # parent of child (ix=2, iy=0) at half=2: (2//2)*2 + 0 = 2
    assert out[0]["parent_tile"] == 2


def test_visit_regularity_metronome_vs_irregular(spark):
    from langtoolsosm_spark.operators.tiling import visit_regularity

    a, b = (10.0, 10.0), (40.0, 40.0)
    rows = [
        # user 1 at A: visits at 0,100,200,300 -> gaps 100,100,100 -> var 0
        (1, 0, 0, *a), (1, 100, 1, *a), (1, 200, 2, *a), (1, 300, 3, *a),
        # user 2 at B: 0, 10, 40 -> gaps 10,30 -> var_num = 2*1000 - 1600
        (2, 0, 4, *b), (2, 10, 5, *b), (2, 40, 6, *b),
    ]
    out = {r["entity"]: r for r in visit_regularity(
        _ev(spark, rows), res=6, min_gaps=2, order_tiebreak="event_id"
    ).collect()}
    assert out[1]["var_num"] == 0 and out[1]["n_gaps"] == 3
    assert out[1]["sum_gap"] == 300
    assert out[2]["var_num"] == 2 * (100 + 900) - 40 * 40


def test_kanon_cells_threshold(spark):
    from langtoolsosm_spark.operators.tiling import kanon_cells

    a, b = (10.0, 10.0), (40.0, 40.0)
    rows = [
        # cell A hour 0: 3 entities -> k=3 satisfied, suppressed rows none
        (1, 0, 0, *a), (2, 10, 1, *a), (3, 20, 2, *a),
        # cell B hour 0: 2 entities, 3 events -> violates k=3
        (1, 30, 3, *b), (2, 40, 4, *b), (2, 50, 5, *b),
        # cell A hour 1: 1 entity -> violates
        (1, 3600, 6, *a),
    ]
    out = kanon_cells(_ev(spark, rows), res=6, k=3).collect()
    got = {(r["hour"], r["n_entities"], r["n_events"]) for r in out}
    assert got == {(0, 2, 3), (1, 1, 1)}
    with pytest.raises(ValueError, match="k must"):
        kanon_cells(_ev(spark, rows), res=6, k=1)


def test_dup_cluster_sizes_histogram(spark):
    from langtoolsosm_spark.operators.dedup import (
        dedup_clusters, hamming_band_pairs,
    )
    from pyspark.sql import functions as F

    # one triangle cluster (identical hashes) + one pair, same tile block
    img = spark.createDataFrame(
        [(1, 7, 0), (2, 7, 0), (3, 7, 0), (10, 1 << 20, 0),
         (11, 1 << 20, 0), (99, 63 << 40, 0)],
        "image_id long, phash long, tile long",
    )
    pairs = hamming_band_pairs(img, id_col="image_id", hash_col="phash",
                               max_hamming=2, block_cols=("tile",))
    cl = dedup_clusters(pairs, id_a="id_a", id_b="id_b")
    sizes = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = {r["cluster_size"]: r["n_clusters"] for r in
           sizes.groupBy("cluster_size").agg(
               F.count(F.lit(1)).alias("n_clusters")).collect()}
    assert out == {3: 1, 2: 1}


def test_exploration_curve_single_entity_exchange(spark):
    # the (entity, tile) window must reuse the entity exchange (subset
    # key satisfies the clustered distribution): 2 exchanges total
    # (entity + final decile rollup), not 3.
    from langtoolsosm_spark.operators.tiling import exploration_curve

    rows = [(1, i, i, 10.0 + i, 10.0) for i in range(6)]
    df = exploration_curve(_ev(spark, rows), res=6, order_tiebreak="event_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2


def test_balanced_ranges_equal_mass_cuts(spark):
    from langtoolsosm_spark.operators.tiling import balanced_ranges

    # 4 cells in tile order with masses 1, 5, 1, 1 (total 8), 4 buckets:
    # targets 2,4,6,8 -> cuts at cum 6,6,6,8 -> cells 2,2,2,4
    rows = []
    pid = 0
    cells = [(-67.5, -157.5, 1), (-67.5, -112.5, 5),
             (-67.5, -67.5, 1), (-67.5, -22.5, 1)]
    for lat, lon, cnt in cells:
        for _ in range(cnt):
            pid += 1
            rows.append((pid, lat, lon))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["point_id", "lat", "lon"])
    )
    out = {r["bucket"]: r for r in balanced_ranges(df, res=3, buckets=4).collect()}
    tiles = sorted({r["cut_tile"] for r in out.values()})
    # buckets 1..3 all cut at the heavy second cell, bucket 4 at the last
    assert out[1]["cut_tile"] == out[2]["cut_tile"] == out[3]["cut_tile"]
    assert out[1]["cum_rows"] == 6
    assert out[4]["cum_rows"] == 8 and out[4]["total_rows"] == 8
    assert len(tiles) == 2
    with pytest.raises(ValueError, match="buckets"):
        balanced_ranges(df, res=3, buckets=0)


def test_stream_speed_parity_with_batch(spark, tmp_path):
    import os
    from langtoolsosm_spark.operators.spatial import speed_outliers
    from langtoolsosm_spark.streaming.microbatch import run_speed_stream_once

    a, b = (10.0, 10.0), (10.0, 11.0)
    rows = [
        (1, 0, 0, *a), (1, 1000, 1, *b),     # clean (1000 micro/s)
        (1, 1001, 2, *a), (2, 0, 3, *a),     # teleport (cross-batch)
        (2, 1, 4, *b), (1, 2000, 5, *b),     # teleport for 2; clean for 1
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
    pdf = pdf[["user_id", "ts", "event_id", "lat", "lon"]]
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort").reset_index(drop=True)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        p = str(src / f"b{i}.parquet")
        pdf.iloc[i * 2 : i * 2 + 2].to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = {(r["entity"], r["start_ep"], r["end_ep"]): r for r in
                run_speed_stream_once(spark, str(src), str(tmp_path / "ckpt"),
                                      vmax_micro=2000).collect()}
    batch = {(r["entity"], r["start_ep"], r["end_ep"]): r for r in
             speed_outliers(spark.createDataFrame(pdf), "user_id", "ts",
                            vmax_micro=2000,
                            order_tiebreak="event_id").collect()}
    assert streamed.keys() == batch.keys() and len(batch) >= 2
    for k in batch:
        assert streamed[k]["dist2"] == batch[k]["dist2"]
        assert streamed[k]["dt_s"] == batch[k]["dt_s"]


def test_region_terms_composition(spark):
    from langtoolsosm_spark.operators.pip_join import pip_join
    from langtoolsosm_spark.operators.textstats import distinctive_terms

    polys = spark.createDataFrame(
        [("P1", [{"lat": 0.0, "lon": 0.0}, {"lat": 0.0, "lon": 10.0},
                 {"lat": 10.0, "lon": 10.0}, {"lat": 10.0, "lon": 0.0}]),
         ("P2", [{"lat": 20.0, "lon": 0.0}, {"lat": 20.0, "lon": 10.0},
                 {"lat": 30.0, "lon": 10.0}, {"lat": 30.0, "lon": 0.0}])],
        "polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    img = spark.createDataFrame(
        pd.DataFrame(
            [(1, "old castle gate", 5.0, 5.0),
             (2, "castle wall", 5.0, 6.0),
             (3, "modern bridge", 25.0, 5.0)],
            columns=["image_id", "caption", "lat", "lon"],
        )
    )
    fenced = pip_join(img, polys, res=6, id_col="image_id")
    out = distinctive_terms(fenced.select("polygon_id", "caption"), k=2,
                            id_col="polygon_id", text_col="caption").collect()
    top = {(r["polygon_id"], r["rnk"]): r for r in out}
    # P1: 'castle' tf=2 df=1 -> top; P2: 'bridge'/'modern' tf=1 df=1
    assert top[("P1", 1)]["term"] == "castle"
    assert top[("P1", 1)]["tf"] == 2 and top[("P1", 1)]["df"] == 1
    assert top[("P2", 1)]["term"] in ("bridge", "modern")


def test_single_fact_scan_plan_guards(spark, tmp_path):
    """Regression guard for the round-7 plan-hygiene sweep: operators
    whose multiply-referenced intermediates are pinned must read the
    fact parquet ONCE (od_reciprocity, tile_flow_divergence) or at most
    twice (zone_concurrency's upstream is scanned by enter+exit fan —
    now a single explode)."""
    import os
    from langtoolsosm_spark.operators.spatial import (
        od_reciprocity, tile_flow_divergence,
    )

    pdf = pd.DataFrame(
        [(1, 0, 0, 10.0, 10.0), (1, 100, 1, 40.0, 40.0),
         (2, 0, 2, 40.0, 40.0), (2, 50, 3, 10.0, 10.0)],
        columns=["user_id", "epoch", "event_id", "lat", "lon"],
    )
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
    path = str(tmp_path / "ev.parquet")
    pdf[["user_id", "ts", "event_id", "lat", "lon"]].to_parquet(path, index=False)
    ev = spark.read.parquet(path)

    for op in (od_reciprocity, tile_flow_divergence):
        df = op(ev, "user_id", "ts", res=6, order_tiebreak="event_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") <= 1, op.__name__


def test_curve_locality_hilbert_beats_rowmajor(spark):
    from langtoolsosm_spark.operators.spatial import curve_locality

    # a dense block of cells: Hilbert adjacent-pair key distance must be
    # strictly smaller than row-major (which pays 2^res per E-neighbor)
    rows = []
    pid = 0
    for i in range(8):
        for j in range(8):
            pid += 1
            rows.append((pid, -89.0 + i * (180.0 / 64), -179.0 + j * (360.0 / 64)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["point_id", "lat", "lon"])
    )
    row = curve_locality(df, res=6).collect()[0]
    assert row["n_pairs"] == 2 * 8 * 7
    assert row["hilbert_dist"] < row["rowmajor_dist"]
    assert row["hilbert_dist"] >= row["n_pairs"]  # every pair >= 1 apart
    with pytest.raises(ValueError, match="res"):
        curve_locality(df, res=0)


def test_geo_decontaminate_counts_and_kept(spark):
    from langtoolsosm_spark.operators.spatial import geo_decontaminate

    polys = spark.createDataFrame(
        [("E1", [{"lat": 0.0, "lon": 0.0}, {"lat": 0.0, "lon": 10.0},
                 {"lat": 10.0, "lon": 10.0}, {"lat": 10.0, "lon": 0.0}])],
        "polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    pts = spark.createDataFrame(
        pd.DataFrame(
            [(1, 7, 5.0, 5.0), (2, 7, 6.0, 6.0), (3, 8, 5.0, 5.0),
             (4, 9, 50.0, 50.0)],
            columns=["point_id", "user_id", "lat", "lon"],
        )
    )
    out = {r["region"]: r for r in geo_decontaminate(
        pts, polys, res=6, id_col="point_id", entity_col="user_id"
    ).collect()}
    assert out["E1"]["n_removed"] == 3
    assert out["E1"]["n_entities_removed"] == 2
    assert out["__kept__"]["n_removed"] == 1


def test_user_cohorts_retention_triangle(spark):
    from langtoolsosm_spark.operators.tiling import user_cohorts

    wk = 604_800
    rows = [
        # user 1: weeks 0, 1, 3 ; user 2: weeks 0, 3 ; user 3: week 1
        (1, 10, 0, 0.0, 0.0), (1, wk + 5, 1, 0.0, 0.0),
        (1, 3 * wk + 2, 2, 0.0, 0.0),
        (2, 20, 3, 0.0, 0.0), (2, 3 * wk + 9, 4, 0.0, 0.0),
        (3, wk + 50, 5, 0.0, 0.0),
    ]
    out = {(r["cohort_period"], r["periods_since"]): r["n_active"]
           for r in user_cohorts(_ev(spark, rows), "user_id", "ts").collect()}
    assert out[(0, 0)] == 2 and out[(0, 1)] == 1 and out[(0, 3)] == 2
    assert out[(1, 0)] == 1
    assert (0, 2) not in out


def test_tile_diversity_simpson_hand(spark):
    from langtoolsosm_spark.operators.tiling import tile_diversity

    rows = pd.DataFrame(
        [("a", 10.0, 10.0), ("a", 10.0, 10.0), ("b", 10.0, 10.0),
         ("c", -40.0, -40.0)],
        columns=["event_type", "lat", "lon"],
    )
    out = {r["n_events"]: r for r in
           tile_diversity(spark.createDataFrame(rows), res=6).collect()}
    # cell 1: counts {a:2, b:1} -> num 5, den 9; cell 2: single type 1/1
    assert out[3]["simpson_num"] == 5 and out[3]["simpson_den"] == 9
    assert out[3]["n_types"] == 2
    assert out[1]["simpson_num"] == 1 and out[1]["simpson_den"] == 1


def test_coverage_growth_curve(spark):
    from langtoolsosm_spark.operators.tiling import coverage_growth

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    day = 86400
    rows = [
        (1, 0, 0, *a), (1, 10, 1, *b),          # day 0: 2 new cells
        (1, day, 2, *a),                         # day 1: nothing new
        (2, 2 * day, 3, *c),                     # day 2: 1 new cell
    ]
    out = {r["day"]: r for r in coverage_growth(_ev(spark, rows), res=6).collect()}
    assert out[0]["new_tiles"] == 2 and out[0]["cum_tiles"] == 2
    assert 1 not in out
    assert out[2]["new_tiles"] == 1 and out[2]["cum_tiles"] == 3


def test_stream_cohorts_parity_with_batch(spark, tmp_path):
    import os
    from langtoolsosm_spark.operators.tiling import user_cohorts
    from langtoolsosm_spark.streaming.microbatch import run_cohorts_stream_once

    wk = 604_800
    rows = [
        (1, 10, 0, 0.0, 0.0), (2, 20, 1, 0.0, 0.0),
        (1, wk + 5, 2, 0.0, 0.0), (3, wk + 50, 3, 0.0, 0.0),
        (1, 3 * wk + 2, 4, 0.0, 0.0), (2, 3 * wk + 9, 5, 0.0, 0.0),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
    pdf = pdf[["user_id", "ts", "event_id"]]
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        p = str(src / f"b{i}.parquet")
        pdf.iloc[i * 2 : i * 2 + 2].to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = {(r["cohort_period"], r["periods_since"]): r["n_active"]
                for r in run_cohorts_stream_once(
                    spark, str(src), str(tmp_path / "ckpt"), 604_800).collect()}
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id")
    batch = {(r["cohort_period"], r["periods_since"]): r["n_active"]
             for r in user_cohorts(ev, "user_id", "ts").collect()}
    assert streamed == batch and len(batch) >= 3


def test_stay_home_index_modal_share(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.tiling import stay_home_index

    a, b = (10.0, 10.0), (40.0, 40.0)
    rows = [
        (1, 0, 0, *a), (1, 1, 1, *a), (1, 2, 2, *b),   # home A, 2/3
        (2, 0, 3, *b),                                  # home B, 1/1
    ]
    out = {r["entity"]: r for r in
           stay_home_index(_ev(spark, rows), res=6).collect()}
    ta = int(tile_key(np.array([a[0]]), np.array([a[1]]), 6)[0])
    assert out[1]["home_tile"] == ta
    assert out[1]["home_events"] == 2 and out[1]["home_milli"] == 666
    assert out[2]["home_milli"] == 1000


def test_trip_circuity_l1_detour(spark):
    from langtoolsosm_spark.operators.spatial import trip_circuity

    # trip: (10,10) -> (10,11) -> (11,11): path L1 = 2e6,
    # displacement L1 = |1e6| + |1e6| = 2e6 -> circuity 1000.
    # trip 2 (same user after gap): (10,10) -> (10,11) -> (10,10) ->
    # (10,11): path 3e6, disp 1e6 -> 3000.
    rows = [
        (1, 0, 0, 10.0, 10.0), (1, 10, 1, 10.0, 11.0), (1, 20, 2, 11.0, 11.0),
        (1, 10_000, 3, 10.0, 10.0), (1, 10_010, 4, 10.0, 11.0),
        (1, 10_020, 5, 10.0, 10.0), (1, 10_030, 6, 10.0, 11.0),
    ]
    out = {r["trip_id"]: r for r in trip_circuity(
        _ev(spark, rows), "user_id", "ts", max_gap_s=3600,
        order_tiebreak="event_id",
    ).collect()}
    assert out[1]["circuity_milli"] == 1000 and out[1]["path_l1"] == 2_000_000
    assert out[2]["circuity_milli"] == 3000 and out[2]["disp_l1"] == 1_000_000


def test_region_buffer_ring_counts(spark):
    from langtoolsosm_spark.operators.spatial import region_buffer_cells

    # a box covering exactly a 4x2 block of res-3 cells (cells are
    # 22.5 lat x 45 lon): footprint 8 cells, k=1 ring = 6x4 - 8 = 16.
    polys = spark.createDataFrame(
        [("B1", [{"lat": -45.0, "lon": -90.0}, {"lat": -45.0, "lon": 0.0},
                 {"lat": 45.0, "lon": 0.0}, {"lat": 45.0, "lon": -90.0}])],
        "polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    row = region_buffer_cells(polys, res=3, k=1).collect()[0]
    assert row["n_inside"] == 8
    assert row["n_buffer"] == 16
    with pytest.raises(ValueError, match="k must"):
        region_buffer_cells(polys, res=3, k=0)


def test_near_miss_visits_ring_vs_inside(spark):
    from langtoolsosm_spark.operators.spatial import near_miss_visits

    # res 3 box = 4x2 cells (22.5 x 45 deg). Inside event at (0, -45);
    # ring event one cell east of the box at (0, 22.5); far event excluded.
    polys = spark.createDataFrame(
        [("B1", [{"lat": -45.0, "lon": -90.0}, {"lat": -45.0, "lon": 0.0},
                 {"lat": 45.0, "lon": 0.0}, {"lat": 45.0, "lon": -90.0}])],
        "polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    ev = spark.createDataFrame(
        pd.DataFrame(
            [(1, 0.0, -45.0), (2, 0.0, 22.5), (3, 0.0, 160.0)],
            columns=["event_id", "lat", "lon"],
        )
    )
    row = near_miss_visits(ev, polys, res=3, k=1).collect()[0]
    assert row["inside_events"] == 1 and row["ring_events"] == 1
    assert row["ring_milli"] == 500


def test_semantic_drift_hand_cells(spark):
    from langtoolsosm_spark.operators.similarity import semantic_drift

    # res 1 (2x2 lattice): two E-adjacent cells. Cell A holds vectors
    # [1,0] and [1,0] (mean [1,0]); cell B holds [0,1] (mean [0,1]).
    # drift_num = |2000*1 - 0*2| + |0*1 - 1000*2| = 4000, den = 2.
    rows = [
        (1, [1.0, 0.0], -45.0, -90.0), (2, [1.0, 0.0], -45.0, -90.0),
        (3, [0.0, 1.0], -45.0, 90.0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, lat double, lon double"
    )
    out = semantic_drift(emb, res=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_a"] == 2 and r["n_b"] == 1
    assert r["drift_num"] == 4000 and r["drift_den"] == 2


def test_semantic_outliers_global_deviation(spark):
    from langtoolsosm_spark.operators.similarity import semantic_outliers

    # cells A (2 vectors of [1,0]) and B (1 vector of [0,1]): global
    # sums S=[2000,1000], N=3. A: |2000*3-2000*2| + |0*3-1000*2| = 4000;
    # B: |0*3-2000*1| + |1000*3-1000*1| = 4000; dens 2*3=6 and 1*3=3.
    rows = [
        (1, [1.0, 0.0], -45.0, -90.0), (2, [1.0, 0.0], -45.0, -90.0),
        (3, [0.0, 1.0], -45.0, 90.0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, lat double, lon double"
    )
    out = {r["nv"]: r for r in semantic_outliers(emb, res=1).collect()}
    assert out[2]["anom_num"] == 4000 and out[2]["anom_den"] == 6
    assert out[1]["anom_num"] == 4000 and out[1]["anom_den"] == 3


def test_bbox_hilbert_ranges_cover_and_merge(spark):
    from langtoolsosm_spark.operators.spatial import bbox_hilbert_ranges

    # whole globe at res 2 -> ONE contiguous range [0, 15] (the curve
    # visits every cell exactly once)
    out = bbox_hilbert_ranges(spark, res=2, lat0=-90.0, lat1=89.9,
                              lon0=-180.0, lon1=179.9).collect()
    assert len(out) == 1
    assert out[0]["range_start"] == 0 and out[0]["range_end"] == 15
    assert out[0]["n_cells"] == 16

    # a half-lattice bbox must cover exactly its cell count with
    # disjoint, sorted, gap-separated ranges
    rows = bbox_hilbert_ranges(spark, res=3, lat0=-90.0, lat1=89.9,
                               lon0=-180.0, lon1=-1.0).collect()
    total = sum(r["n_cells"] for r in rows)
    assert total == 4 * 8
    spans = sorted((r["range_start"], r["range_end"]) for r in rows)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 + 1 < s2  # maximal runs: gaps strictly separate ranges
        assert e1 - s1 >= 0
    with pytest.raises(ValueError, match="inverted"):
        bbox_hilbert_ranges(spark, res=3, lat0=10.0, lat1=0.0,
                            lon0=0.0, lon1=1.0)


def test_dbscan_core_border_noise(spark):
    from langtoolsosm_spark.operators.spatial import dbscan_clusters

    # dense triple (1,2,3) within r of each other -> all core (minPts 3);
    # point 4 within r of point 3 only -> border; point 9 isolated -> noise.
    pts = spark.createDataFrame(
        pd.DataFrame(
            [(1, 0.00, 0.00), (2, 0.01, 0.00), (3, 0.00, 0.01),
             (4, 0.00, 0.045), (9, 5.0, 5.0)],
            columns=["point_id", "lat", "lon"],
        )
    )
    out = {r["point_id"]: r for r in
           dbscan_clusters(pts, radius=0.04, min_pts=3).collect()}
    assert out[1]["role"] == 0 and out[1]["cluster_id"] == 1
    assert out[2]["role"] == 0 and out[3]["role"] == 0
    assert out[4]["role"] == 1 and out[4]["cluster_id"] == 1
    assert out[9]["role"] == 2 and out[9]["cluster_id"] == -1
    with pytest.raises(ValueError, match="min_pts"):
        dbscan_clusters(pts, radius=0.04, min_pts=0)


def test_kdist_hist_composition(spark):
    from pyspark.sql import functions as F
    from langtoolsosm_spark.operators.knn import knn_join

    # 1 query point, features at lon 0.1/0.2/0.3/9: 3rd NN at 0.3 ->
    # d2 = 0.09, q = 9e7, bucket = len(bin(q)).
    pts = spark.createDataFrame([(1, 0.0, 0.0)],
                                "point_id long, lat double, lon double")
    feats = spark.createDataFrame(
        [(10, 0.0, 0.1), (11, 0.0, 0.2), (12, 0.0, 0.3), (13, 0.0, 9.0)],
        "id long, lat double, lon double",
    )
    kth = knn_join(pts, feats, k=3, res=7, point_id="point_id",
                   feature_id="id").filter(F.col("rank") == 3)
    row = kth.collect()[0]
    assert row["neighbor_id"] == 12
    q = int(0.3 * 0.3 * 1e9)  # floor exact here
    assert len(bin(q)) - 2 == q.bit_length()


def test_cluster_moments_line_orientation(spark):
    from langtoolsosm_spark.operators.spatial import cluster_moments

    # three points on a horizontal (E-W) line, close together -> one
    # cluster; Cyy = 0, Cxx > 0 -> A > 0, B = 0 -> octant 0 (E-W axis).
    pts = spark.createDataFrame(
        pd.DataFrame([(1, 0.0, 0.00), (2, 0.0, 0.01), (3, 0.0, 0.02)],
                     columns=["point_id", "lat", "lon"])
    )
    out = cluster_moments(pts, radius=0.02).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 3 and r["cyy_num"] == 0 and r["cxy_num"] == 0
    assert r["cxx_num"] > 0 and r["octant"] == 0

    # vertical (N-S) line -> Cxx = 0, Cyy > 0 -> A < 0, B = 0 -> octant 3
    pts2 = spark.createDataFrame(
        pd.DataFrame([(1, 0.00, 0.0), (2, 0.01, 0.0), (3, 0.02, 0.0)],
                     columns=["point_id", "lat", "lon"])
    )
    r2 = cluster_moments(pts2, radius=0.02).collect()[0]
    assert r2["cxx_num"] == 0 and r2["cyy_num"] > 0 and r2["octant"] == 3


def test_cellset_jaccard_overlap(spark):
    from langtoolsosm_spark.operators.spatial import cellset_jaccard

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    # entity 1 visits {A, B}; entity 2 visits {B, C}; inter = {B}
    rows = [
        (1, 0, 0, *a), (1, 1, 1, *b),
        (2, 0, 2, *b), (2, 1, 3, *c),
    ]
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    out = cellset_jaccard(_ev(spark, rows), pairs, res=6).collect()
    r = out[0]
    assert r["n_a"] == 2 and r["n_b"] == 2 and r["n_inter"] == 1
    assert r["jacc_milli"] == 333


def test_cellset_jaccard_disjoint_pair(spark):
    from langtoolsosm_spark.operators.spatial import cellset_jaccard

    rows = [(1, 0, 0, 10.0, 10.0), (2, 0, 1, -40.0, -40.0)]
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    r = cellset_jaccard(_ev(spark, rows), pairs, res=6).collect()[0]
    assert r["n_inter"] == 0 and r["jacc_milli"] == 0


def test_trip_od_endpoints_only(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.spatial import trip_od

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    rows = [
        # trip 1 user 1: A -> B -> C  => one (A, C) row, B invisible
        (1, 0, 0, *a), (1, 10, 1, *b), (1, 20, 2, *c),
        # trip 2 user 1 (after gap): stationary at A => excluded
        (1, 10_000, 3, *a), (1, 10_010, 4, *a),
        # user 2: A -> C
        (2, 0, 5, *a), (2, 10, 6, *c),
    ]
    out = trip_od(_ev(spark, rows), "user_id", "ts", max_gap_s=3600,
                  res=6, order_tiebreak="event_id").collect()

    def t(p):
        return int(tile_key(np.array([p[0]]), np.array([p[1]]), 6)[0])

    assert len(out) == 1
    r = out[0]
    assert r["from_tile"] == t(a) and r["to_tile"] == t(c)
    assert r["n_trips"] == 2 and r["n_entities"] == 2


def test_tile_medoid_argmin_and_singleton(spark):
    from langtoolsosm_spark.operators.images import tile_medoid

    # one cell with hashes 0b0000, 0b0001, 0b0111: sums = 1+3, 1+2, 3+2
    # -> medoid is 0b0001 (sum 3); plus a singleton cell.
    rows = [
        (1, 0b0000, 10.0, 10.0), (2, 0b0001, 10.0, 10.0),
        (3, 0b0111, 10.0, 10.0),
        (9, 0b1010, -40.0, -40.0),
    ]
    img = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "phash", "lat", "lon"])
    )
    out = {r["n_images"]: r for r in tile_medoid(img, res=5).collect()}
    assert out[3]["medoid_id"] == 2 and out[3]["sum_hamming"] == 3
    assert out[1]["medoid_id"] == 9 and out[1]["sum_hamming"] == 0


def test_tile_medoid_occupancy_gate(spark):
    from langtoolsosm_spark.operators.images import tile_medoid

    rows = [(i, i, 10.0, 10.0) for i in range(5)]
    img = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "phash", "lat", "lon"])
    )
    with pytest.raises(ValueError, match="occupancy"):
        tile_medoid(img, res=5, max_per_tile=3)


def test_stream_trip_od_parity_with_batch(spark, tmp_path):
    import os
    from langtoolsosm_spark.operators.spatial import trip_od
    from langtoolsosm_spark.streaming.microbatch import run_trip_od_stream_once

    a, b, c = (10.0, 10.0), (40.0, 40.0), (-40.0, -40.0)
    rows = [
        (1, 0, 0, *a), (1, 10, 1, *b),            # batch 0
        (1, 20, 2, *c), (2, 0, 3, *a),            # batch 1 (trip spans)
        (1, 10_000, 4, *b), (2, 30, 5, *c),       # batch 2: gap opens
    ]                                              # trip 2 for user 1
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
    pdf = pdf[["user_id", "ts", "event_id", "lat", "lon"]]
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort").reset_index(drop=True)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        p = str(src / f"b{i}.parquet")
        pdf.iloc[i * 2 : i * 2 + 2].to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = {(r["from_tile"], r["to_tile"]): (r["n_trips"], r["n_entities"])
                for r in run_trip_od_stream_once(
                    spark, str(src), str(tmp_path / "ckpt"),
                    max_gap_s=3600, res=6).collect()}
    batch = {(r["from_tile"], r["to_tile"]): (r["n_trips"], r["n_entities"])
             for r in trip_od(spark.createDataFrame(pdf), "user_id", "ts",
                              max_gap_s=3600, res=6,
                              order_tiebreak="event_id").collect()}
    assert streamed == batch and len(batch) >= 1
    assert sum(v[0] for v in batch.values()) == 2  # both A->C trips


def test_dist_transform_rings(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.tiling import dist_transform

    # single occupied cell at res 3: ring distances 0..2 around it
    df = spark.createDataFrame(
        pd.DataFrame([(1, 10.0, 10.0)], columns=["point_id", "lat", "lon"])
    )
    out = {r["tile"]: r for r in dist_transform(df, res=3, max_d=2).collect()}
    t0 = int(tile_key(np.array([10.0]), np.array([10.0]), 3)[0])
    assert out[t0]["dist"] == 0 and out[t0]["n_sources"] == 1
    dists = sorted(r["dist"] for r in out.values())
    assert dists.count(0) == 1 and dists.count(1) == 8 and dists.count(2) == 16
    assert all(r["n_sources"] == 1 for r in out.values())
    with pytest.raises(ValueError, match="max_d"):
        dist_transform(df, res=3, max_d=0)


def test_tile_rose_start_attribution(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.spatial import tile_rose

    a, b = (10.0, 10.0), (10.0, 40.0)
    rows = [
        (1, 0, 0, *a), (1, 1, 1, *b),   # east move starting in A
        (2, 0, 2, *b), (2, 1, 3, *a),   # west move starting in B
    ]
    out = {(r["tile"], r["octant"]): r for r in tile_rose(
        _ev(spark, rows), "user_id", "ts", res=6, order_tiebreak="event_id"
    ).collect()}
    ta = int(tile_key(np.array([a[0]]), np.array([a[1]]), 6)[0])
    tb = int(tile_key(np.array([b[0]]), np.array([b[1]]), 6)[0])
    # east move: dlat=0 (>=0 -> 4), dlon>0 (2), |dlat|<|dlon| -> 6
    assert out[(ta, 6)]["n_moves"] == 1
    # west move: dlat=0 -> 4, dlon<0 -> 0, -> 4
    assert out[(tb, 4)]["n_moves"] == 1 and out[(tb, 4)]["n_entities"] == 1
