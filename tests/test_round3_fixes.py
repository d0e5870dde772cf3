"""Round-3 regression tests: exact top-k broadcast kernel parity,
dedup_apply broadcast gating, salted_join outer-join guard, pointer-jump
connected components, empty-ring centroids, manifest-stats file pruning,
and watermark-correct streaming sessionization."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_kernel_matches_explode_formulation(spark):
    """topk_dot_kernel (broadcast NumPy partial top-k) must be
    bit-identical to the dimension-explode formulation that mirrors the
    DuckDB oracle — same quantization, same (dot desc, id asc) order."""
    from langtoolsosm_spark.operators.similarity import topk_dot_kernel
    from tests.reference.ann_join import topk_dot

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cols = ["query_id", "neighbor_id", "rank", "dot"]
    got = topk_dot_kernel(emb).toPandas().sort_values(cols).reset_index(drop=True)
    exp = topk_dot(emb).toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[cols], exp[cols], check_dtype=False)


def test_topk_kernel_boundary_ties_break_by_id(spark):
    """Equal-dot candidates straddling the k-th slot must resolve by
    smaller id — the partial top-k has to keep boundary ties, not let
    argpartition pick arbitrarily."""
    from langtoolsosm_spark.operators.similarity import topk_dot_kernel
    from tests.reference.ann_join import topk_dot

    # all corpus vectors identical -> every dot ties; ids decide everything
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(300), "embedding": [[1.0, 0.5, -0.25]] * 300}
        )
    ).repartition(7)
    cols = ["query_id", "neighbor_id", "rank", "dot"]
    got = topk_dot_kernel(emb, k=5).toPandas().sort_values(cols).reset_index(drop=True)
    exp = topk_dot(emb, k=5).toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[cols], exp[cols], check_dtype=False)


def test_dedup_apply_broadcast_gated_on_droplist_size(spark):
    """Above the threshold the anti-join must NOT broadcast the drop-list
    (at 100 TB it is billions of ids); below, the hint applies."""
    from langtoolsosm_spark.operators.dedup import dedup_apply

    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    clusters = spark.range(0, 400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10).alias("cluster_id")
    )
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = dedup_apply(docs, clusters, broadcast_threshold=0)
        assert "BroadcastHashJoin" not in _plan(big)
        small = dedup_apply(docs, clusters, broadcast_threshold=10**6)
        assert "BroadcastHashJoin" in _plan(small)
        # same rows either way
        assert sorted(r["doc_id"] for r in big.collect()) == sorted(
            r["doc_id"] for r in small.collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_salted_join_rejects_outer_joins(spark):
    from langtoolsosm_spark.operators.joins import salted_join

    fact = spark.range(10).select(F.col("id").alias("k"))
    dim = spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    with pytest.raises(ValueError, match="fact-preserving"):
        salted_join(fact, dim, "k", how="right")
    with pytest.raises(ValueError, match="fact-preserving"):
        salted_join(fact, dim, "k", how="full_outer")


def test_dedup_clusters_chain_converges_via_pointer_jump(spark):
    """A 64-node chain has min-label hop radius 63; plain propagation
    needs 63 rounds, pointer jumping must finish within 10."""
    from langtoolsosm_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": range(63), "doc_b": range(1, 64)})
    )
    got = dedup_clusters(pairs, max_iter=10).toPandas()
    assert (got["cluster_id"] == 0).all() and len(got) == 64


def test_dedup_clusters_raises_when_unconverged(spark):
    from langtoolsosm_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": range(31), "doc_b": range(1, 32)})
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iter=1)


def test_footprint_centroid_empty_ring_yields_nan(spark):
    from langtoolsosm_spark.operators.report import footprint_centroid

    df = spark.createDataFrame(
        [
            (1, [{"lat": 10.0, "lon": 20.0}, {"lat": 10.0, "lon": 21.0},
                 {"lat": 11.0, "lon": 21.0}]),
            (2, []),
        ],
        "id long, footprint array<struct<lat:double,lon:double>>",
    )
    got = footprint_centroid(df).toPandas().set_index("id")
    assert np.isfinite(got.loc[1, "latitude"]) and np.isfinite(got.loc[1, "longitude"])
    assert np.isnan(got.loc[2, "latitude"]) and np.isnan(got.loc[2, "longitude"])


def test_snapshot_read_range_prunes_files_by_manifest_stats(spark, tmp_path, monkeypatch):
    """SURVEY §4: a cell-range read of a written snapshot must open only
    the files whose manifest [min, max] tile stats overlap the range —
    Iceberg-style pruning, no footer reads of non-matching files."""
    from langtoolsosm_spark.sources.snapshots import SnapshotTable, write_partitioned

    df = spark.range(0, 4000).select(
        F.col("id").alias("row_id"), (F.col("id") % 16).alias("tile")
    )
    table = SnapshotTable(str(tmp_path / "snap"))
    write_partitioned(df, table, "tile", stats_col="tile")
    all_files = table.live_files()
    assert len(all_files) == 16  # one file per tile partition

    pruned = table.pruned_files("tile", 3, 5)
    assert len(pruned) == 3  # tiles 3, 4, 5 only

    want = df.filter(F.col("tile").between(3, 5)).count()
    # small and local: the driver reads exactly the pruned files with pyarrow
    import pyarrow.parquet as pq

    opened = []
    real = pq.ParquetFile
    monkeypatch.setattr(pq, "ParquetFile", lambda p, *a, **k: opened.append(p) or real(p, *a, **k))
    got = table.read_range(spark, "tile", 3, 5)
    monkeypatch.undo()
    assert sorted(opened) == sorted(pruned)
    assert got.count() == want
    # over Spark's local-relation bound: a file scan of exactly those files
    spark.conf.set("spark.sql.execution.arrow.localRelationThreshold", "0")
    try:
        got = table.read_range(spark, "tile", 3, 5)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.localRelationThreshold")
    assert set(got.inputFiles()) == {f"file://{p}" for p in pruned} or set(
        got.inputFiles()
    ) == set(pruned)
    assert got.count() == want


def test_stream_sessionize_holds_sessions_until_watermark(spark, tmp_path):
    """A late-but-within-watermark event arriving in a LATER micro-batch
    that falls inside a gap-closed (but not yet watermark-safe) session
    must merge into it — emitting at gap time would split the session and
    diverge from batch sessionization."""
    import langtoolsosm_spark.streaming.microbatch as mb

    d = tmp_path / "sess_late"
    d.mkdir()

    def write(fn, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = pd.DataFrame(rows, columns=["ts", "user_id"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf["user_id"] = pdf["user_id"].astype("int64")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / fn))

    # b1: 00:00 + 00:05, then 00:40 (35 min gap -> session A closes by gap
    # under the OLD semantics). Watermark after b1 = 00:30.
    write("b1.parquet", [
        ("2024-01-01 00:00:00", 1), ("2024-01-01 00:05:00", 1),
        ("2024-01-01 00:40:00", 1),
    ])
    # b2: late event 00:32 (>= watermark, so NOT dropped) — within 30 min
    # of 00:05 AND of 00:40: it must bridge everything into ONE session.
    write("b2.parquet", [("2024-01-01 00:32:00", 1)])
    # b3: another key far in the future pushes the watermark past
    # 00:40 + 30 min so user 1's merged session closes by timeout.
    write("b3.parquet", [("2024-01-01 03:00:00", 2)])

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", 1).load(str(d))
    )
    out_dir = str(tmp_path / "sess_late_out")
    q = (
        mb.stream_sessionize(stream, gap_sec=1800)
        .writeStream.outputMode("append")
        .format("parquet").option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "sess_late_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.read.schema(
            "user_id long, start_epoch long, end_epoch long, n_events long"
        ).parquet(out_dir).toPandas()
    )
    base = pd.Timestamp("2024-01-01 00:00:00").value // 10**9
    rows = {tuple(r) for r in got.itertuples(index=False)}
    assert (1, base, base + 2400, 4) in rows  # one merged session
    assert (1, base, base + 300, 2) not in rows  # never the split prefix


def test_stream_sessionize_matches_batch_on_events_table(spark, tmp_path):
    """End-to-end parity: streaming the real events table in 4 jittered
    micro-batches (out-of-order within the watermark delay) plus a
    far-future sentinel batch (closes every real session) must emit
    EXACTLY the sessions the batch gap-split query computes."""
    import langtoolsosm_spark.streaming.microbatch as mb
    from langtoolsosm_spark.plans.driver_queries import q_sessionize

    sf_dir = "/root/testdata/sf0.001"
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts")
        .toPandas()
    )
    # arrival order: event time + deterministic jitter < the 10-min
    # watermark delay, so some events arrive out of order but none are
    # dropped as too-late (dropped rows would legitimately diverge)
    ev["__arr"] = ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9 + (
        ev["user_id"] * 7919 + ev.index * 104729
    ) % 300
    ev = ev.sort_values("__arr").drop(columns="__arr").reset_index(drop=True)

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ev_stream"
    d.mkdir()
    n = len(ev)
    for i in range(4):
        chunk = ev.iloc[i * n // 4 : (i + 1) * n // 4].copy()
        chunk["ts"] = chunk["ts"].astype("datetime64[us]")
        p = d / f"b{i}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), str(p))
        os.utime(p, (1_000_000 + i, 1_000_000 + i))  # force trigger order
    sentinel = pd.DataFrame({"user_id": [-1], "ts": ["2030-01-01"]})
    sentinel["ts"] = pd.to_datetime(sentinel["ts"]).astype("datetime64[us]")
    sentinel["user_id"] = sentinel["user_id"].astype("int64")
    sp = d / "b9_sentinel.parquet"
    pq.write_table(pa.Table.from_pandas(sentinel, preserve_index=False), str(sp))
    os.utime(sp, (1_000_009, 1_000_009))

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", 1).load(str(d))
    )
    out_dir = str(tmp_path / "ev_sess_out")
    q = (
        mb.stream_sessionize(stream, gap_sec=1800)
        .writeStream.outputMode("append")
        .format("parquet").option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ev_sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.read.schema(
            "user_id long, start_epoch long, end_epoch long, n_events long"
        )
        .parquet(out_dir)
        .filter("user_id >= 0")
        .toPandas()
    )
    exp = (
        q_sessionize(spark, sf_dir)
        .select("user_id", "start_epoch", "end_epoch", "n_events")
        .toPandas()
    )
    key = ["user_id", "start_epoch", "end_epoch", "n_events"]
    got_s = got[key].sort_values(key).reset_index(drop=True)
    exp_s = exp[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, exp_s, check_dtype=False)


def test_knn_cogroup_annulus_matches_bruteforce_at_dateline_and_poles(spark):
    """Adversarial coordinates for the wrap-aware annulus: features and
    points hugging the antimeridian and the poles, plus a duplicate-
    coordinate cluster. The cogroup rounds (forced via
    broadcast_threshold=0, tiny max_ring so several annulus rounds fire)
    must equal a NumPy brute force with the same (dist, id) tie-break."""
    from langtoolsosm_spark.operators.knn import knn_join

    rng_pts = []
    for i in range(60):
        lat = [-89.95, 89.95, 0.0, 45.0, -45.0][i % 5] + (i % 7) * 0.01
        lon = [-179.95, 179.95, 0.0, 90.0, -90.0][i % 5] + (i % 11) * 0.01
        rng_pts.append((i, lat, lon))
    feats = []
    for j in range(40):
        lat = [-89.9, 89.9, 0.05, 44.9, -44.9, 10.0][j % 6] + (j % 5) * 0.02
        lon = [179.9, -179.9, 0.05, 89.9, -89.9, 10.0][j % 6] + (j % 3) * 0.02
        feats.append((100 + j, lat, lon))
    feats.append((200, 10.0, 10.0))  # exact duplicate coordinates
    feats.append((201, 10.0, 10.0))

    pts_df = spark.createDataFrame(
        pd.DataFrame(rng_pts, columns=["image_id", "lat", "lon"])
    )
    fts_df = spark.createDataFrame(
        pd.DataFrame(feats, columns=["id", "lat", "lon"])
    )
    got = (
        knn_join(pts_df, fts_df, k=3, broadcast_threshold=0, res=4,
                 brute_max_pairs=0)
        .toPandas().sort_values(["image_id", "rank"]).reset_index(drop=True)
    )
    # NumPy reference: full distance matrix, (dist, id) lexsort
    P = np.array([[p[1], p[2]] for p in rng_pts])
    Fm = np.array([[f[1], f[2]] for f in feats])
    fids = np.array([f[0] for f in feats])
    order_f = np.argsort(fids)
    Fm, fids = Fm[order_f], fids[order_f]
    d = (P[:, None, 0] - Fm[None, :, 0]) ** 2 + (P[:, None, 1] - Fm[None, :, 1]) ** 2
    rows = []
    for i, p in enumerate(rng_pts):
        o = np.lexsort((fids, d[i]))[:3]
        for r, j in enumerate(o):
            rows.append((p[0], fids[j], r + 1, d[i][j]))
    exp = pd.DataFrame(rows, columns=["image_id", "neighbor_id", "rank", "dist"])
    exp = exp.sort_values(["image_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["image_id", "neighbor_id", "rank"]],
        exp[["image_id", "neighbor_id", "rank"]],
        check_dtype=False,
    )
    assert np.allclose(got["dist"].to_numpy(), exp["dist"].to_numpy())
    # the broadcast grid path had the same argpartition boundary-tie bug
    got_b = (
        knn_join(pts_df, fts_df, k=3, res=4)  # tiny dim -> broadcast path
        .toPandas().sort_values(["image_id", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got_b[["image_id", "neighbor_id", "rank"]],
        exp[["image_id", "neighbor_id", "rank"]],
        check_dtype=False,
    )


def test_asof_join_duplicate_right_ts_is_deterministic(spark):
    """Several right rows sharing (key, ts): the pick must be the largest
    (matched_ts, value) struct — deterministic at any parallelism, not
    shuffle order."""
    from langtoolsosm_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "ts": [10, 20], "x": ["a", "b"]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1], "ts": [10, 10, 10],
                      "value": [3.0, 9.0, 5.0]})
    ).repartition(5)
    for _ in range(3):  # stable across reruns
        rows = {r["ts"]: r["matched_value"] for r in
                asof_join(left, right, ["k"]).collect()}
        assert rows == {10: 9.0, 20: 9.0}


def test_hamming_band_pairs_extreme_hash_values(spark):
    """Sign extension + band masking at the extremes: Long.MIN/MAX, -1, 0
    — pairs must match a Python popcount brute force exactly."""
    from langtoolsosm_spark.operators.dedup import hamming_band_pairs

    vals = [
        (0, -(1 << 63)),          # Long.MIN: top bit only
        (1, (1 << 63) - 1),       # Long.MAX: all but top bit
        (2, -1),                  # all 64 bits set
        (3, 0),
        (4, -1 - 0b1011),         # a few flips off all-ones
        (5, 0b1011),              # a few flips off zero
        (6, -(1 << 63) | 0b1),
    ]
    df = spark.createDataFrame(pd.DataFrame(vals, columns=["id", "h"]))
    got = {
        (r["id_a"], r["id_b"], r["hamm"])
        for r in hamming_band_pairs(df, "id", "h", max_hamming=8).collect()
    }
    exp = set()
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            hamm = bin((vals[i][1] ^ vals[j][1]) & ((1 << 64) - 1)).count("1")
            if hamm <= 8:
                exp.add((vals[i][0], vals[j][0], hamm))
    assert got == exp


def test_salted_left_join_matches_plain_left_join(spark):
    """Left join through salting: unmatched fact rows null-extend exactly
    once (dim replicas must not multiply them)."""
    from langtoolsosm_spark.operators.joins import salted_join

    fact = spark.range(0, 3000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id") % 50).alias("k"),
    )
    dim = spark.range(0, 30).select(  # keys 30..49 unmatched
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id")).alias("label")
    )
    got = (
        salted_join(fact, dim, "k", buckets=8, hot_threshold=500, how="left")
        .toPandas().sort_values("row_id").reset_index(drop=True)
    )
    exp = (
        fact.join(dim, "k", "left").toPandas()
        .sort_values("row_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["row_id", "k", "label"]], exp[["row_id", "k", "label"]],
        check_dtype=False,
    )


def test_pip_join_half_open_edges_and_vertices(spark):
    """Points EXACTLY on polygon corners and edges: the engine's ray-cast
    half-open rule must match the documented predicates (south/west edges
    inclusive, north/east exclusive for axis-aligned rings) — boundary
    points are where cover-cell classification and the refine kernel can
    disagree."""
    from langtoolsosm_spark.operators.pip_join import pip_join
    from langtoolsosm_spark.plans.driver_queries import geo_polygons_df

    cases = [
        (0, 36.0, -3.0),   # G1 SW corner -> inside G1
        (1, 39.0, -3.0),   # G1 NW corner -> north edge excluded
        (2, 36.0, 1.0),    # G1 SE corner -> east edge excluded
        (3, 37.0, -3.0),   # G1 west edge -> inside
        (4, 36.0, 0.0),    # G1 south edge -> inside
        (5, 39.0, 0.0),    # G1 north edge -> excluded
        (6, 37.0, 1.0),    # G1 east edge -> excluded
        (7, 39.5, 1.0),    # G2 SW corner -> inside G2
        (8, 42.0, 1.0),    # G2 NW corner = G3 interior lat start -> G3 only
        (9, 42.0, 4.0),    # G5 SW corner -> inside G5
        (10, 43.0, 6.0),   # G5 notch corner -> inside (lat in [43,44), lon < 6... excluded from upper arm, lon 6 >= 6 not < 6) -> check below
        (11, 38.0, 38.0),  # far outside everything
    ]
    pts = spark.createDataFrame(
        pd.DataFrame(cases, columns=["image_id", "lat", "lon"])
    )
    got = {
        (r["image_id"], r["polygon_id"])
        for r in pip_join(pts, geo_polygons_df(spark), res=8,
                          id_col="image_id").collect()
    }

    def pred(pid, lat, lon):
        if pid == "G1":
            return 36.0 <= lat < 39.0 and -3.0 <= lon < 1.0
        if pid == "G2":
            return 39.5 <= lat < 42.0 and 1.0 <= lon < 4.0
        if pid == "G3":
            return 42.0 <= lat < 44.5 and -2.0 <= lon < 3.0
        if pid == "G4":
            return (35.5 <= lat < 40.0 and 4.0 <= lon
                    and lon < 9.0 + (lat - 35.5) * (4.0 - 9.0) / (40.0 - 35.5))
        if pid == "G5":
            return (42.0 <= lat < 43.0 and 4.0 <= lon < 8.0) or (
                43.0 <= lat < 44.0 and 4.0 <= lon < 6.0)
        return False

    exp = {
        (i, pid)
        for (i, lat, lon) in cases
        for pid in ("G1", "G2", "G3", "G4", "G5")
        if pred(pid, lat, lon)
    }
    assert got == exp


def test_hamming_band_pairs_zero_distance_single_band(spark):
    """max_hamming=0 -> one 64-bit band; only exact-equal hashes pair."""
    from langtoolsosm_spark.operators.dedup import hamming_band_pairs

    df = spark.createDataFrame(
        pd.DataFrame({"id": [0, 1, 2, 3], "h": [7, 7, -7, 6]})
    )
    got = {
        (r["id_a"], r["id_b"], r["hamm"])
        for r in hamming_band_pairs(df, "id", "h", max_hamming=0).collect()
    }
    assert got == {(0, 1, 0)}


def test_interval_join_exact_at_ns_scale_and_negative_ts(spark):
    """Bucketing must be exact integer floor division: nanosecond-scale
    epochs (> 2^53, where double division drops low bits) and negative
    timestamps must pair exactly like a brute-force reference."""
    from langtoolsosm_spark.operators.asof import interval_join

    base = 1 << 60
    lts = [base + d for d in (0, 5, 9, 10, 11, 999_999)] + [-5, -3, 0]
    rts = [base + d for d in (1, 10, 21, 1_000_000)] + [-4, 2]
    left = spark.createDataFrame(
        pd.DataFrame({"k": 1, "ts": pd.Series(lts, dtype="int64")})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": 1, "ts": pd.Series(rts, dtype="int64")})
    )
    D = 10
    got = {
        (r["left_ts"], r["right_ts"])
        for r in interval_join(left, right, ["k"], max_dt=D).collect()
    }
    exp = {(a, b) for a in lts for b in rts if abs(a - b) <= D}
    assert got == exp


def test_tile_key_boundary_coords_match_oracle_sql(spark):
    """lat = +-90 and lon = +-180 exactly: the engine clip must agree
    with the oracle's least/greatest clip at every resolution used."""
    import duckdb

    from langtoolsosm_spark.functions.cells import tile_key_col
    from langtoolsosm_spark.plans.driver_queries import _tile_sql

    cases = [(90.0, 180.0), (-90.0, -180.0), (90.0, -180.0), (-90.0, 180.0),
             (0.0, 0.0), (89.999999, 179.999999), (-89.999999, -179.999999)]
    df = spark.createDataFrame(pd.DataFrame(cases, columns=["lat", "lon"]))
    for res in (5, 8, 14):
        got = [
            r["t"] for r in df.select(
                tile_key_col(F.col("lat"), F.col("lon"), res).alias("t")
            ).collect()
        ]
        con = duckdb.connect()
        exp = [
            con.execute(
                f"SELECT {_tile_sql(res)} FROM (SELECT ? AS lat, ? AS lon)",
                [la, lo],
            ).fetchone()[0]
            for la, lo in cases
        ]
        assert got == exp, f"res={res}"


def test_adaptive_split_degenerate_configs(spark):
    """max_res == base_res (no recursion possible) and an all-one-cell
    input: every row must still get exactly one assignment at a res
    within bounds."""
    from langtoolsosm_spark.operators.tiling import adaptive_split

    pts = spark.createDataFrame(
        pd.DataFrame({"lat": [10.0001 + i * 1e-7 for i in range(50)],
                      "lon": [20.0001] * 50})
    )
    same = adaptive_split(pts, base_res=6, max_rows=5, max_res=6).toPandas()
    assert len(same) == 50 and (same["acell_res"] == 6).all()
    deep = adaptive_split(pts, base_res=6, max_rows=5, max_res=18).toPandas()
    assert len(deep) == 50
    assert deep["acell_res"].between(6, 18).all()
    # dense identical-ish points: the split must have recursed past base
    assert (deep["acell_res"] > 6).any()
    with pytest.raises(ValueError):
        adaptive_split(pts, base_res=8, max_rows=5, max_res=7)


def test_ivf_lloyd_survives_vanishing_centroids(spark):
    """Seed vectors that attract no members after a round simply vanish
    from the centroid table (both engines drop them via the inner join);
    the refined ANN must still answer with full top-k."""
    from langtoolsosm_spark.operators.similarity import (
        ivf_lloyd_ann_topk,
        ivf_train_lloyd,
    )

    # 4 seed ids but only 2 distinct locations -> duplicated seeds starve
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(200),
                "embedding": [
                    [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
                    for i in range(200)
                ],
            }
        )
    )
    cents = ivf_train_lloyd(emb, n_centroids=4, iters=2, vec_col="embedding")
    n_cents = cents.count()
    assert 1 <= n_cents <= 4  # duplicates may starve seeds; never grows
    out = ivf_lloyd_ann_topk(emb, k=3, n_centroids=4, nprobe=2).toPandas()
    assert (out.groupby("query_id")["rank"].max() == 3).all()


def test_snapshot_read_range_after_overwrite_uses_new_stats(spark, tmp_path):
    """An overwrite resets the live file set; range reads must prune by
    the NEW files' stats and never resurrect dropped files."""
    from langtoolsosm_spark.sources.snapshots import SnapshotTable, write_partitioned

    table = SnapshotTable(str(tmp_path / "snap_ow"))
    old = spark.range(0, 800).select(
        F.col("id").alias("row_id"), (F.col("id") % 8).alias("tile")
    )
    write_partitioned(old, table, "tile", stats_col="tile")
    new = spark.range(0, 400).select(
        (F.col("id") + 10_000).alias("row_id"), (F.col("id") % 4 + 2).alias("tile")
    )

    def _overwrite():
        # emulate an overwrite commit: write files then commit op=overwrite
        import glob
        import os as _os

        before = set(_os.path.basename(p) for p in glob.glob(f"{table.data_dir}/*"))
        write_partitioned(new, table, "tile", stats_col="tile")
        snaps = table.snapshots()
        last = snaps[-1]
        table.commit(
            files=last["files"], lineage=last["lineage"],
            summary={"comment": "compact"}, operation="overwrite",
        )
        return before

    _overwrite()
    files = table.pruned_files("tile", 2, 3)
    assert len(files) == 2  # tiles 2 and 3 of the NEW write only
    got = table.read_range(spark, "tile", 2, 3)
    assert got.count() == new.filter(F.col("tile").between(2, 3)).count()
    assert got.filter(F.col("row_id") < 10_000).count() == 0
