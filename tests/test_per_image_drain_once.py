"""The two shared helpers: ``images.per_image`` (the one decode kernel of
the image operators) and ``microbatch.drain_once`` (the one driver of the
``run_*_once`` streaming queries).

``per_image``: empty frames and empty partitions, fan-out operators that
emit no row for an image, and output schemas equal to the declared ones
for a one-row, a fan-out and a pass-through operator.

``drain_once``: a driver leaves no temp view and no active query behind,
and its result still collects the rows of the batch answer.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from langtoolsosm_spark.functions import imagecodec as ic
from langtoolsosm_spark.operators import images as im
from langtoolsosm_spark.streaming import microbatch as mb

IMAGE_DDL = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"


def _images(spark, shapes, fmt="png", partitions=None):
    """One image per (h, w) of ``shapes``, seeded pixels, ids img000000000.."""
    rng = np.random.default_rng(5)
    rows = []
    for i, (h, w) in enumerate(shapes):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((f"img{i:09d}", ic.encode(px, fmt), w, h, fmt, f"c{i}", ic.phash64(px)))
    df = spark.createDataFrame(rows, IMAGE_DDL)
    return df.repartition(partitions) if partitions else df


def test_per_image_empty_frame(spark):
    def _mean_rows(px, img_id):
        return [(img_id, float(px.mean()))]

    df = im.per_image(_images(spark, [(8, 8)]).limit(0), _mean_rows, "image_id string, m double")
    assert df.schema == DataType.fromDDL("image_id string, m double")
    assert df.collect() == []
    assert im.extract_patches(_images(spark, [(8, 8)]).filter(F.lit(False))).count() == 0


def test_per_image_empty_partitions(spark):
    """Two images over eight partitions: six partitions hold no row.
    (``fn`` is nested so that it ships by value to the Python workers.)"""

    def _mean_rows(px, img_id):
        return [(img_id, float(px.mean()))]

    src = _images(spark, [(8, 8), (5, 7)], partitions=8)
    assert src.rdd.glom().map(len).collect().count(0) >= 6
    out = im.per_image(src, _mean_rows, "image_id string, m double")
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        (r["image_id"], float(ic.decode(r["bytes"], r["fmt"]).mean())) for r in src.collect()
    )
    assert got == want


def test_fan_out_operators_emit_no_row_for_small_images(spark):
    """An image smaller than ``patch`` has no patch, and one under 3x3 has
    no interior pixel: no ``extract_patches`` or ``orientation_hist``
    row, while ``edge_stats`` keeps its one n_interior = 0 row. The
    other image in the same batch is unaffected."""
    src = _images(spark, [(4, 6), (2, 2), (16, 16)])
    patches = im.extract_patches(src, patch=8).toPandas()
    assert set(patches["image_id"]) == {"img000000002"} and len(patches) == 4
    orient = im.orientation_hist(src).toPandas()
    assert set(orient["image_id"]) == {"img000000000", "img000000002"}
    edges = {r["image_id"]: tuple(r)[1:] for r in im.edge_stats(src).collect()}
    assert edges["img000000001"] == (0, 0, 0, 0)
    assert edges["img000000002"][0] == 14 * 14


@pytest.mark.parametrize(
    "op, ddl",
    [
        (
            im.edge_stats,
            "image_id string, n_interior long, sum_gx long, sum_gy long, edge_px long",
        ),
        (
            im.extract_patches,
            "image_id string, patch_row long, patch_col long, "
            "sum_r long, sum_g long, sum_b long, chk long",
        ),
        (
            im.decode_stats,
            "image_id string, w_dec int, h_dec int, fmt string, mean_px double, "
            "shape_ok boolean, phash_dist int",
        ),
    ],
    ids=["one_row", "fan_out", "pass_through"],
)
def test_output_schema_is_declared_schema(spark, op, ddl):
    declared = DataType.fromDDL(ddl)
    df = op(_images(spark, [(16, 16), (9, 12)], partitions=2))
    assert df.schema == declared
    assert df.toArrow().schema == to_arrow_schema(declared)


def _views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_heatmap_driver_drops_its_sink(spark, tmp_path):
    from langtoolsosm_spark.operators.heatmap import heatmap_stats

    rng = np.random.default_rng(77)
    pts = pd.DataFrame(
        {"lat": 35.0 + rng.random(3000) * 10.0, "lon": -5.0 + rng.random(3000) * 15.0}
    )
    src = str(tmp_path / "pts")
    spark.createDataFrame(pts).repartition(3).write.parquet(src)
    before = _views(spark)
    got = mb.run_heatmap_stream_once(spark, src, str(tmp_path / "ckpt"), res=6, tile_px=16)
    assert _views(spark) == before
    assert spark.streams.active == []
    want = heatmap_stats(spark.read.parquet(src), res=6, tile_px=16)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_od_driver_drops_its_sink_also_on_failure(spark, tmp_path):
    from langtoolsosm_spark.operators.spatial import od_flows

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

    before = _views(spark)
    src = stage(tmp_path / "ok", [(1000, slice(0, 3)), (2000, slice(3, 5))])
    got = mb.run_od_stream_once(spark, src, str(tmp_path / "ok" / "ckpt"), res=4)
    assert _views(spark) == before
    assert spark.streams.active == []
    want = od_flows(spark.createDataFrame(rows), "user_id", "ts", res=4, order_tiebreak="event_id")
    gp = sorted(map(tuple, got.collect()))
    assert gp == sorted(map(tuple, want.collect())) and len(gp) > 0
    # the result frame still supports further batch work after the drop
    assert got.groupBy().agg(F.sum("n_trips")).first()[0] == sum(r[2] for r in gp)

    # out-of-order staging fails the query; its sink view goes too
    bad = stage(tmp_path / "bad", [(1000, slice(3, 5)), (2000, slice(0, 3))])
    with pytest.raises(Exception, match="out-of-order|ordered-ingestion|StreamingQuery"):
        mb.run_od_stream_once(spark, bad, str(tmp_path / "bad" / "ckpt"), res=4)
    assert _views(spark) == before
    assert spark.streams.active == []
