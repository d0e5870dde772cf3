"""Structured Streaming: windowed agg parity with batch + exactly-once
snapshot ingest with checkpoint resume (SURVEY.md §2.9, §5 item 5)."""

import pytest
from pyspark.sql import functions as F

from langtoolsosm_spark.operators.tiling import assign_tiles
from langtoolsosm_spark.streaming import microbatch as mb


@pytest.fixture()
def images_dir(synth_dir, tmp_path):
    """File-stream sources need a directory; stage the table as one."""
    import os

    d = tmp_path / "images_stream"
    d.mkdir()
    os.symlink(f"{synth_dir}/images.parquet", d / "part-0.parquet")
    return str(d)


def test_stream_counts_match_batch(spark, images_dir, tmp_path):
    got = mb.run_tile_counts_once(
        spark, images_dir, str(tmp_path / "ckpt"), res=6
    ).toPandas()
    batch = (
        assign_tiles(spark.read.parquet(images_dir), res=6)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_images"))
        .toPandas()
    )
    g = got.sort_values("tile").reset_index(drop=True)
    b = batch.sort_values("tile").reset_index(drop=True)
    assert g.equals(b)


def test_watermark_drops_too_late_rows(spark, tmp_path):
    """Watermarked windowed counts: a row later than the watermark behind
    the observed max event time must be dropped; a mildly-late row (within
    the watermark) must be counted. Two availableNow runs share a
    checkpoint so the watermark persists between them."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ev"
    d.mkdir()

    def write(fn, rows):
        pdf = pd.DataFrame(rows, columns=["ts", "event_type"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / fn))

    # batch 1: events up to 01:00 -> watermark after run = 00:50
    write(
        "b1.parquet",
        [("2024-01-01 00:02:00", "a"), ("2024-01-01 00:03:00", "a"),
         ("2024-01-01 01:00:00", "b")],
    )
    ck = str(tmp_path / "ck_wm")
    out_dir = str(tmp_path / "wm_out")
    out1 = mb.run_windowed_counts_once(spark, str(d), ck, out_dir).toPandas()
    # the 00:00-00:05 window (end 00:05 <= watermark 00:50) is finalized
    assert ((out1["event_type"] == "a") & (out1["n"] == 2)).any()

    # batch 2: one row at 00:01 is >10 min behind the 01:00 watermark ->
    # dropped; one at 00:55 is within the watermark -> counted
    write(
        "b2.parquet",
        [("2024-01-01 00:01:00", "a"), ("2024-01-01 00:55:00", "c"),
         ("2024-01-01 02:00:00", "d")],
    )
    out2 = mb.run_windowed_counts_once(spark, str(d), ck, out_dir).toPandas()
    # the file sink accumulates: run 2 adds rows, never rewrites run 1's
    a_rows = out2[out2["event_type"] == "a"]
    # the too-late 'a' row was dropped: still exactly one finalized 'a'
    # window and its count did not grow
    assert len(a_rows) == 1 and int(a_rows["n"].iloc[0]) == 2
    # the within-watermark 'c' row lands in 00:55-01:00, finalized once the
    # watermark advances past 01:00 (new max 02:00 -> watermark 01:50)
    assert ((out2["event_type"] == "c") & (out2["n"] == 1)).any()


def test_stream_sessionize_closes_by_gap_and_timeout(spark, tmp_path):
    """Event-time-timeout sessionization: a session closes when a later
    event proves the gap (in-batch split) AND when the watermark passes
    last_event + gap (timeout on an idle key); open sessions never emit."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sess_ev"
    d.mkdir()

    def write(fn, rows):
        pdf = pd.DataFrame(rows, columns=["ts", "user_id"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf["user_id"] = pdf["user_id"].astype("int64")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / fn))

    # user 1: two events 5 min apart, then one 85 min later (> 30 min gap
    # -> the first session closes in-batch, the second stays in state)
    write("b1.parquet", [
        ("2024-01-01 00:00:00", 1), ("2024-01-01 00:05:00", 1),
        ("2024-01-01 01:30:00", 1),
    ])
    write("b2.parquet", [("2024-01-01 03:00:00", 2)])
    write("b3.parquet", [("2024-01-01 03:20:00", 2)])

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", 1).load(str(d))
    )
    out_dir = str(tmp_path / "sess_out")
    q = (
        mb.stream_sessionize(stream, gap_sec=1800)
        .writeStream.outputMode("append")
        .format("parquet").option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.read.schema(
            "user_id long, start_epoch long, end_epoch long, n_events long"
        ).parquet(out_dir).toPandas().sort_values(["user_id", "start_epoch"])
    )
    base = pd.Timestamp("2024-01-01 00:00:00").value // 10**9
    rows = list(got.itertuples(index=False))
    # user 1 session A: closed in-batch by the 85-min gap
    assert (1, base, base + 300, 2) in [tuple(r) for r in rows]
    # user 1 session B (single trailing event): closed by TIMEOUT once the
    # watermark (driven by user 2's later events) passed 01:30 + 30 min
    assert (1, base + 5400, base + 5400, 1) in [tuple(r) for r in rows]
    # user 2's session (03:00 + 03:20, within gap) is still open — the
    # watermark never passed 03:20 + gap
    assert not (got["user_id"] == 2).any()


def test_stateful_tile_distinct_matches_batch_sketch(spark, synth_dir, tmp_path):
    """applyInPandasWithState running distinct counter: state (256-byte HLL
    registers per tile) must carry across micro-batches, so after streaming
    the data as THREE single-file triggers, the per-tile estimate equals
    the batch sketch computed over the whole table in one pass."""
    import numpy as np

    from langtoolsosm_spark.operators.sketches import estimate_from_registers, hll_reg_rho

    # stage the table as 3 parquet files -> 3 triggers (maxFilesPerTrigger=1)
    src = spark.read.parquet(f"{synth_dir}/images.parquet").select(
        "image_id", "lat", "lon"
    )
    d = tmp_path / "img3"
    d.mkdir()
    pdf = src.toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(pdf)
    for i in range(3):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * n // 3 : (i + 1) * n // 3], preserve_index=False),
            str(d / f"part-{i}.parquet"),
        )

    got = mb.run_tile_distinct_once(spark, str(d), str(tmp_path / "ckpt_sd"), res=4)
    got_pdf = got.toPandas().set_index("tile").sort_index()

    # batch reference: dense register vector per tile over the full table
    reg, rho = hll_reg_rho("image_id")
    from langtoolsosm_spark.operators.tiling import assign_tiles

    batch = (
        assign_tiles(src, res=4)
        .select("tile", reg.alias("r"), rho.alias("p"))
        .groupBy("tile", "r")
        .agg(F.max("p").alias("p"))
        .toPandas()
    )
    for tile, grp in batch.groupby("tile"):
        dense = np.zeros(256, dtype=np.int64)
        dense[grp["r"].to_numpy()] = grp["p"].to_numpy()
        assert got_pdf.loc[tile, "est_milli"] == estimate_from_registers(dense)
    assert int(got_pdf["total_rows"].sum()) == n


def test_stream_epochs_never_collect_to_driver(spark, images_dir, tmp_path, monkeypatch):
    """The streaming sink must write epoch data executor-side: any bulk
    driver-side materialization (toPandas on the epoch frame) fails this
    test. (The snapshot writer's manifest collect — a handful of
    bookkeeping rows — is the legitimate exception and stays allowed.)"""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("epoch DataFrame materialized on the driver")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    table = mb.stream_to_snapshots(
        spark, images_dir, str(tmp_path / "tbl_nd"), str(tmp_path / "ck_nd"), res=6
    )
    monkeypatch.undo()
    n_total = spark.read.parquet(images_dir).count()
    assert table.read(spark).count() == n_total


def test_stream_snapshot_ingest_exactly_once(spark, images_dir, tmp_path):
    table = mb.stream_to_snapshots(
        spark, images_dir, str(tmp_path / "tbl"), str(tmp_path / "ck"), res=6
    )
    n_total = spark.read.parquet(images_dir).count()
    assert table.read(spark).count() == n_total
    n_snaps = len(table.snapshots())
    assert n_snaps >= 1
    # resume from the same checkpoint: no new data -> no new snapshots
    table2 = mb.stream_to_snapshots(
        spark, images_dir, str(tmp_path / "tbl"), str(tmp_path / "ck"), res=6
    )
    assert len(table2.snapshots()) == n_snaps
    assert table2.read(spark).count() == n_total


def test_stream_dedup_exact_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup: duplicates inside the
    watermark horizon collapse to the FIRST occurrence (batch keep-first
    parity); once the watermark passes a key's last-seen time its state
    is EVICTED, so a far-later duplicate re-emits — the bounded-state
    contract that keeps an infinite dedup stream finite."""
    import os

    import pandas as pd

    from langtoolsosm_spark.streaming.microbatch import run_dedup_exact_once

    src = tmp_path / "ev"
    src.mkdir()

    def write_batch(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        p = str(src / name)
        pdf.to_parquet(p)
        os.utime(p, (mtime, mtime))

    write_batch(
        "b1.parquet",
        [(1, "a", "2024-01-01 10:00:00"), (1, "a", "2024-01-01 10:01:00"),
         (2, "b", "2024-01-01 10:02:00")],
        1_000,
    )
    write_batch(
        "b2.parquet",
        [(1, "a", "2024-01-01 10:03:00"), (3, "c", "2024-01-01 10:04:00"),
         (2, "b", "2024-01-01 10:04:30")],
        2_000,
    )
    # advances the watermark past (1,a).last_seen + 1h -> state evicted
    write_batch("b3.parquet", [(4, "d", "2024-01-01 12:04:00")], 3_000)
    # eviction runs with the PREVIOUS batch's watermark, so one more
    # batch is needed before the old key's state is actually dropped
    write_batch("b3b.parquet", [(4, "e", "2024-01-01 12:05:00")], 3_500)
    # same key again, AFTER eviction: must re-emit
    write_batch("b4.parquet", [(1, "a", "2024-01-01 12:30:00")], 4_000)

    out = run_dedup_exact_once(
        spark, str(src), str(tmp_path / "ck"), str(tmp_path / "out"),
        key_cols=["user_id", "event_type"], watermark="1 hour",
    ).toPandas()

    assert len(out) == 6  # 3 distinct keys + 2 key-4 rows + one re-emission
    a_rows = out[(out.user_id == 1) & (out.event_type == "a")].sort_values("ts")
    assert len(a_rows) == 2
    # keep-first: the surviving pre-eviction row is the 10:00 one
    assert str(a_rows.iloc[0].ts) == "2024-01-01 10:00:00"
    assert str(a_rows.iloc[1].ts) == "2024-01-01 12:30:00"
    assert len(out[(out.user_id == 2) & (out.event_type == "b")]) == 1


def test_stream_heatmap_matches_batch(spark, tmp_path):
    """The stateful pixel histogram folded over 3 micro-batches must
    produce exactly the batch heatmap_stats rollup."""
    import numpy as np
    import pandas as pd

    from langtoolsosm_spark.operators.heatmap import heatmap_stats
    from langtoolsosm_spark.streaming.microbatch import run_heatmap_stream_once

    rng = np.random.default_rng(77)
    pts = pd.DataFrame(
        {"lat": 35.0 + rng.random(3000) * 10.0,
         "lon": -5.0 + rng.random(3000) * 15.0}
    )
    df = spark.createDataFrame(pts)
    src = str(tmp_path / "pts")
    df.repartition(3).write.parquet(src)

    got = (
        run_heatmap_stream_once(spark, src, str(tmp_path / "ckpt"), res=6, tile_px=16)
        .toPandas().sort_values("tile").reset_index(drop=True)
    )
    exp = (
        heatmap_stats(spark.read.parquet(src), res=6, tile_px=16)
        .toPandas().sort_values("tile").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_stream_od_transitions_parity_and_order_contract(spark, tmp_path):
    """Cross-batch state carry: u1's transition between batch 1 and 2 is
    emitted exactly once; flows equal the batch od_flows; staging the
    files in REVERSE time order trips the ordered-ingestion guard."""
    import os

    import pandas as pd

    from langtoolsosm_spark.operators.spatial import od_flows
    from langtoolsosm_spark.streaming.microbatch import run_od_stream_once

    rows = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:05", "2024-01-01 10:06",
                 "2024-01-01 10:10", "2024-01-01 10:12"]
            ).astype("datetime64[us]"),
            "event_id": [1, 2, 3, 4, 5],
            "lat": [10.0, 10.0, 20.0, 10.0, 20.0],
            "lon": [10.0, 50.0, 10.0, 80.0, 10.0],
        }
    )

    def stage(root, order):
        src = root / "src"
        src.mkdir(parents=True)
        for i, (mt, sl) in enumerate(order):
            p = str(src / f"b{i}.parquet")
            rows.iloc[sl].to_parquet(p, index=False)
            os.utime(p, (mt, mt))
        return str(src)

    src = stage(tmp_path / "ok", [(1000, slice(0, 3)), (2000, slice(3, 5))])
    got = run_od_stream_once(
        spark, src, str(tmp_path / "ok" / "ckpt"), res=4
    )
    ev = spark.createDataFrame(rows)
    want = od_flows(ev, "user_id", "ts", res=4, order_tiebreak="event_id")
    gp = sorted(map(tuple, got.collect()))
    wp = sorted(map(tuple, want.collect()))
    assert gp == wp and len(gp) > 0

    src2 = stage(tmp_path / "bad", [(1000, slice(3, 5)), (2000, slice(0, 3))])
    with pytest.raises(Exception, match="out-of-order|ordered-ingestion|StreamingQuery"):
        run_od_stream_once(spark, src2, str(tmp_path / "bad" / "ckpt"), res=4)


def _ordered_cases():
    """The 9 ordered walks: (streaming driver, batch operator) on the same
    events, both called with the parameters that make two positions yield
    rows (A inside zone G1, B outside every zone, one res-4 cell, two
    res-8 cells)."""
    import numpy as np

    from langtoolsosm_spark.operators import spatial as sp
    from langtoolsosm_spark.operators import tiling as tl
    from langtoolsosm_spark.plans.driver_queries import GEO_POLYGONS, geo_polygons_df

    rings = {pid: np.asarray(ring, dtype=float) for pid, ring in GEO_POLYGONS}
    tb = {"order_tiebreak": "event_id"}
    return {
        "od": (
            lambda s, src, ck: mb.run_od_stream_once(s, src, ck, res=8),
            lambda ev: sp.od_flows(ev, "user_id", "ts", res=8, **tb),
        ),
        "geofence": (
            lambda s, src, ck: mb.run_geofence_stream_once(s, src, ck, rings),
            lambda ev: sp.geofence_transitions(
                ev, geo_polygons_df(ev.sparkSession), "user_id", "ts", res=8, **tb
            ),
        ),
        "staypoints": (
            lambda s, src, ck: mb.run_staypoints_stream_once(s, src, ck, 1_000_000, 0),
            lambda ev: sp.staypoints(ev, 1_000_000, 0),
        ),
        "dwell": (
            lambda s, src, ck: mb.run_dwell_stream_once(s, src, ck, res=8),
            lambda ev: tl.dwell_time(ev, res=8, **tb),
        ),
        "wait_time": (
            lambda s, src, ck: mb.run_wait_time_stream_once(s, src, ck, res=4),
            lambda ev: tl.wait_time_hist(ev, res=4, **tb),
        ),
        "speed": (
            lambda s, src, ck: mb.run_speed_stream_once(s, src, ck, vmax_micro=1),
            lambda ev: sp.speed_outliers(ev, "user_id", "ts", vmax_micro=1, **tb),
        ),
        "cohorts": (
            lambda s, src, ck: mb.run_cohorts_stream_once(s, src, ck, period_s=60),
            lambda ev: tl.user_cohorts(ev, "user_id", "ts", period_s=60),
        ),
        "trip_od": (
            lambda s, src, ck: mb.run_trip_od_stream_once(s, src, ck, max_gap_s=1, res=8),
            lambda ev: sp.trip_od(ev, "user_id", "ts", max_gap_s=1, res=8, **tb),
        ),
        "line_density": (
            lambda s, src, ck: mb.run_line_density_stream_once(s, src, ck, res=8),
            lambda ev: sp.line_density(ev, "user_id", "ts", res=8, **tb),
        ),
    }


@pytest.mark.parametrize("kernel", list(_ordered_cases()))
def test_ordered_ingestion_at_full_ts_resolution(spark, tmp_path, kernel):
    """The ordered-ingestion check compares full (ts, event_id), the order
    the batch operators walk. Two one-row files, one per trigger, for one
    entity: (a) 100.7 s id 5 then 100.9 s id 3 is in order although the
    ids fall inside one second — it must run and equal batch; (b) 100.9 s
    id 3 then 100.2 s id 7 goes back in time inside one second — it must
    raise."""
    import os

    import pandas as pd

    run, batch = _ordered_cases()[kernel]

    def stage(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
        pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
        pdf = pdf[["user_id", "ts", "event_id", "lat", "lon"]]
        src = tmp_path / name / "src"
        src.mkdir(parents=True)
        for i in range(len(pdf)):
            p = str(src / f"b{i}.parquet")
            pdf.iloc[i : i + 1].to_parquet(p, index=False)
            os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
        return pdf, str(src), str(tmp_path / name / "ckpt")

    a, b = (37.0, 0.5), (38.0, 2.0)
    pdf, src, ck = stage("ok", [(1, 100.7, 5, *a), (1, 100.9, 3, *b)])
    got = sorted(map(tuple, run(spark, src, ck).collect()))
    want = sorted(map(tuple, batch(spark.createDataFrame(pdf)).collect()))
    assert got == want and len(want) > 0

    _, src, ck = stage("bad", [(1, 100.9, 3, *a), (1, 100.2, 7, *b)])
    with pytest.raises(Exception, match="out-of-order micro-batch"):
        run(spark, src, ck).collect()
