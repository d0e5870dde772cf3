"""Parity of the narrow ``pip_join`` path (broadcast cover + rings, one
``mapInArrow`` pass) with the join path (``broadcast_cover=False,
broadcast_rings=False``): same rows, same schema, point columns of every
Spark type passed through unchanged."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from langtoolsosm_spark.operators.pip_join import pip_join

RING_SCHEMA = "polygon_id string, ring array<struct<lat:double,lon:double>>"
POINT_SCHEMA = "image_id string, lat double, lon double"


def _square(s, w, n, e):
    return [
        {"lat": s, "lon": w}, {"lat": s, "lon": e}, {"lat": n, "lon": e},
        {"lat": n, "lon": w}, {"lat": s, "lon": w},
    ]


def _both(points, polygons, **kw):
    """(narrow, join path) results of the same call."""
    narrow = pip_join(points, polygons, **kw)
    joined = pip_join(points, polygons, broadcast_cover=False, broadcast_rings=False, **kw)
    return narrow, joined


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_same(points, polygons, **kw):
    narrow, joined = _both(points, polygons, **kw)
    assert "MapInArrow" in narrow._jdf.queryExecution().executedPlan().toString()
    assert narrow.schema == joined.schema
    assert narrow.columns == points.columns + ["polygon_id"]
    got, exp = _rows(narrow), _rows(joined.select(*narrow.columns))
    assert got == exp
    return got


@pytest.mark.parametrize("unique", [True, False])
def test_narrow_matches_join_path_on_synth(spark, synth_dir, unique):
    """Every images column rides along, ``bytes`` (binary) included."""
    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    polygons = spark.read.parquet(f"{synth_dir}/polygons.parquet")
    got = _assert_same(images, polygons, res=8, unique=unique, id_col="image_id")
    assert got
    if unique:
        ids = [r[0] for r in got]
        assert len(set(ids)) == len(ids)


def test_narrow_nested_polygons_keep_min_id(spark):
    """A point inside nested polygons matches all of them; ``unique``
    keeps the lexicographically smallest id, whatever the row order."""
    polygons = spark.createDataFrame(
        [
            ("m_outer", _square(30.0, 0.0, 50.0, 20.0)),
            ("b_inner", _square(38.0, 8.0, 42.0, 12.0)),
            ("k_mid", _square(35.0, 5.0, 45.0, 15.0)),
        ],
        RING_SCHEMA,
    )
    pts = spark.createDataFrame(
        [("p_in", 40.0, 10.0), ("p_mid", 36.0, 6.0), ("p_outer", 31.0, 1.0),
         ("p_none", 10.0, 10.0), ("p_edge", 38.0, 8.0)],
        POINT_SCHEMA,
    )
    every = _assert_same(pts, polygons, res=6, unique=False)
    assert {(r[0], r[3]) for r in every if r[0] == "p_in"} == {
        ("p_in", "b_inner"), ("p_in", "k_mid"), ("p_in", "m_outer")
    }
    owned = dict((r[0], r[3]) for r in _assert_same(pts, polygons, res=6, unique=True))
    assert owned == {"p_in": "b_inner", "p_mid": "k_mid", "p_outer": "m_outer",
                     "p_edge": "b_inner"}


@pytest.mark.parametrize("unique", [True, False])
def test_narrow_edges_and_vertices(spark, unique):
    """Points exactly on corners and edges of the registry's geo polygons
    (the half-open ray-cast cases) land in the same polygons."""
    from langtoolsosm_spark.plans.driver_queries import geo_polygons_df

    cases = [
        ("0", 36.0, -3.0), ("1", 39.0, -3.0), ("2", 36.0, 1.0), ("3", 37.0, -3.0),
        ("4", 36.0, 0.0), ("5", 39.0, 0.0), ("6", 37.0, 1.0), ("7", 39.5, 1.0),
        ("8", 42.0, 1.0), ("9", 42.0, 4.0), ("10", 43.0, 6.0), ("11", 38.0, 38.0),
        ("12", 44.0, 4.0), ("13", 43.0, 4.0), ("14", 35.5, 4.0),
    ]
    pts = spark.createDataFrame(cases, POINT_SCHEMA)
    got = _assert_same(pts, geo_polygons_df(spark), res=8, unique=unique)
    assert ("0", 36.0, -3.0, "G1") in got and not any(r[0] == "11" for r in got)


def test_narrow_null_and_nan_coordinates_never_match(spark):
    polygons = spark.createDataFrame([("A", _square(30.0, 0.0, 50.0, 20.0))], RING_SCHEMA)
    pts = spark.createDataFrame(
        [("ok", 40.0, 10.0), ("null_lat", None, 10.0), ("null_lon", 40.0, None),
         ("nan_lat", math.nan, 10.0), ("nan_lon", 40.0, math.nan),
         ("inf_lon", 40.0, math.inf)],
        POINT_SCHEMA,
    )
    for unique in (True, False):
        got = _assert_same(pts, polygons, res=6, unique=unique)
        assert [r[0] for r in got] == ["ok"]


def test_narrow_zero_polygons(spark):
    polygons = spark.createDataFrame([], RING_SCHEMA)
    pts = spark.createDataFrame([("a", 40.0, 10.0)], POINT_SCHEMA)
    for unique in (True, False):
        assert _assert_same(pts, polygons, res=6, unique=unique) == []


def test_narrow_empty_batches(spark):
    """Empty partitions and an empty points frame yield no rows and keep
    the schema."""
    polygons = spark.createDataFrame([("A", _square(30.0, 0.0, 50.0, 20.0))], RING_SCHEMA)
    pts = spark.createDataFrame(
        [("a", 40.0, 10.0), ("b", 0.0, 0.0), ("c", 45.0, 15.0)], POINT_SCHEMA
    ).repartition(7)
    got = _assert_same(pts, polygons, res=6, unique=True)
    assert [r[0] for r in got] == ["a", "c"]
    assert _assert_same(pts.filter(F.col("lat") > 90), polygons, res=6, unique=True) == []


def test_narrow_passes_binary_and_map_columns_through(spark):
    polygons = spark.createDataFrame(
        [("A", _square(30.0, 0.0, 50.0, 20.0)), ("B", _square(35.0, 5.0, 45.0, 15.0))],
        RING_SCHEMA,
    )
    pdf = pd.DataFrame(
        {
            "image_id": ["a", "b", "c"],
            "lat": [40.0, 31.0, 0.0],
            "lon": [10.0, 1.0, 0.0],
            "blob": [b"\x00\xffab", b"", None],
            "tags": [{"name": "x", "lang": "fr"}, {}, None],
        }
    )
    pts = spark.createDataFrame(
        pdf, "image_id string, lat double, lon double, blob binary, tags map<string,string>"
    )
    for unique in (True, False):
        narrow, _ = _both(pts, polygons, res=6, unique=unique)
        assert narrow.schema["blob"].dataType.simpleString() == "binary"
        assert narrow.schema["tags"].dataType.simpleString() == "map<string,string>"
        got = {(r["image_id"], r["polygon_id"]): r for r in narrow.collect()}
        assert bytes(got[("a", "A")]["blob"]) == b"\x00\xffab"
        assert got[("a", "A")]["tags"] == {"name": "x", "lang": "fr"}
        assert bytes(got[("b", "A")]["blob"]) == b"" and got[("b", "A")]["tags"] == {}
        assert (("a", "B") in got) is not unique
        # the join path carries the same values (maps compared as items)
        exp = {
            (r["image_id"], r["polygon_id"]): (r["blob"], r["tags"])
            for r in _both(pts, polygons, res=6, unique=unique)[1].collect()
        }
        assert {k: (v["blob"], v["tags"]) for k, v in got.items()} == exp


@pytest.mark.parametrize("unique", [True, False])
def test_narrow_null_polygon_id_stays_null(spark, unique):
    """A null polygon_id stays null and sorts after every real id, as
    Spark's ``min`` does on the join path: a point inside both the
    null-id square and ``P1`` is owned by ``P1``, a point only in the
    null-id square keeps a null owner."""
    polygons = spark.createDataFrame(
        [(None, _square(20.0, -20.0, 60.0, 40.0)), ("P1", _square(35.0, 5.0, 45.0, 15.0))],
        RING_SCHEMA,
    )
    pts = spark.createDataFrame(
        [("both", 40.0, 10.0), ("only_null", 50.0, 30.0), ("edge", 20.05, 0.0),
         ("none", 0.0, 0.0)],
        POINT_SCHEMA,
    )
    narrow, joined = _both(pts, polygons, res=6, unique=unique)
    got = sorted((tuple(r) for r in narrow.collect()), key=repr)
    assert got == sorted((tuple(r) for r in joined.collect()), key=repr)
    null_only = [("edge", 20.05, 0.0, None), ("only_null", 50.0, 30.0, None)]
    if unique:
        assert got == [("both", 40.0, 10.0, "P1")] + null_only
    else:
        assert got == [("both", 40.0, 10.0, "P1"), ("both", 40.0, 10.0, None)] + null_only
