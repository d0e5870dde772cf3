"""Parity of the flagship's narrow enrichment (one ``mapInArrow`` pass
against broadcast polygons and named features) with its join path
(``pip_join`` -> attribute join -> ``knn_join`` -> joins back) on the same
rows. The join path is forced by stubbing out the narrow builder, the
way a failed gate does."""

import math
import os
from collections import Counter

import pytest
from pyspark.sql import DataFrame

from langtoolsosm_spark.plans import pipeline
from langtoolsosm_spark.plans.pipeline import flagship

POLY_SCHEMA = (
    "polygon_id string, name string, tags map<string,string>, "
    "ring array<struct<lat:double,lon:double>>"
)
FEAT_SCHEMA = "id long, tags map<string,string>, lat double, lon double"
IMG_SCHEMA = "image_id string, caption string, lat double, lon double"


def _square(s, w, n, e):
    return [
        {"lat": s, "lon": w}, {"lat": s, "lon": e}, {"lat": n, "lon": e},
        {"lat": n, "lon": w}, {"lat": s, "lon": w},
    ]


# not in id order: the attributes must follow the polygon numbering
POLYS = [
    ("C", "Gamma", {}, _square(-10.0, -10.0, 10.0, 10.0)),
    ("B", "Beta", {"lang": "de"}, _square(35.0, 5.0, 45.0, 15.0)),
    ("A", "Alpha", {"lang": "fr"}, _square(30.0, 0.0, 50.0, 20.0)),
]
FEATS = [
    (1, {"name": "f1"}, 40.2, 10.2),
    (2, {"name": "f2"}, 31.0, 1.0),
    (3, {"amenity": "bench"}, 40.1, 10.1),  # no name: never a neighbour
    (4, {"name": "f4"}, 0.5, 0.5),
]
IMAGES = [
    ("i_ab", "cap ab", 40.1, 10.1),
    ("i_a", "cap a", 31.5, 1.5),
    ("i_c", "cap c", 1.0, 1.0),
    ("i_none", "cap none", 70.0, 70.0),
]


def _write(spark, tmp_path, images=IMAGES, polys=POLYS, feats=FEATS):
    d = str(tmp_path)
    for name, rows, schema in (
        ("images", images, IMG_SCHEMA), ("polygons", polys, POLY_SCHEMA),
        ("features", feats, FEAT_SCHEMA),
    ):
        # one file each, so a table reads back in the order written
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/{name}.parquet")
    return d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _run(spark, d, **kw):
    """(plan, schema fields, sorted rows) of ``flagship``; the caches and
    broadcasts it took are released afterwards."""
    cleanup = []
    df = flagship(spark, d, cleanup=cleanup, **kw)
    try:
        fields = [(f.name, f.dataType) for f in df.schema.fields]
        return _plan(df), fields, sorted((tuple(r) for r in df.collect()), key=repr)
    finally:
        for x in cleanup:
            x.unpersist() if isinstance(x, DataFrame) else x.destroy()


def _joined(monkeypatch, spark, d, **kw):
    with monkeypatch.context() as m:
        m.setattr(pipeline, "_enrich_narrow", lambda *a, **k: None)
        return _run(spark, d, **kw)


def _assert_same(monkeypatch, spark, d, **kw):
    """Both paths on the same inputs: the narrow one is a single
    ``mapInArrow`` with no join; returns its rows."""
    plan, fields, got = _run(spark, d, **kw)
    assert plan.count("MapInArrow") == 1 and "Join" not in plan and "Exchange" not in plan
    jplan, jfields, exp = _joined(monkeypatch, spark, d, **kw)
    assert "Join" in jplan
    assert fields == jfields
    assert got == exp
    return got


@pytest.mark.parametrize("with_knn,k", [(True, 1), (True, 3), (False, 1)])
def test_fused_matches_join_path_on_synth(spark, synth_dir, monkeypatch, with_knn, k):
    got = _assert_same(monkeypatch, spark, synth_dir, res=8, k=k, with_knn=with_knn)
    assert len(got) == len({r[0] for r in got}) > 0
    assert any(r[8] is not None for r in got) is with_knn


def test_fused_replicate(spark, synth_dir, monkeypatch):
    got = _assert_same(monkeypatch, spark, synth_dir, res=8, replicate=2)
    ids = [r[0] for r in got]
    assert len(ids) == len(set(ids)) and {i[:3] for i in ids} == {"r0_", "r1_"}


@pytest.mark.parametrize("k", [1, 3])
def test_fused_owner_attributes_and_nearest(spark, tmp_path, monkeypatch, k):
    d = _write(spark, tmp_path)
    got = _assert_same(monkeypatch, spark, d, res=6, k=k)
    # (image_id, polygon_id, polygon_name, lang, nearest_name)
    assert [(r[0], r[5], r[6], r[7], r[8]) for r in got] == [
        ("i_a", "A", "Alpha", "fr", "f2"),
        ("i_ab", "A", "Alpha", "fr", "f1"),
        ("i_c", "C", "Gamma", None, "f4"),
    ]
    assert got[1][9] == "cap ab — prop de f1"


@pytest.mark.parametrize("k", [1, 3])
def test_fused_equidistant_features_smaller_id_wins(spark, tmp_path, monkeypatch, k):
    feats = [(7, {"name": "north"}, 41.0, 10.0), (3, {"name": "south"}, 39.0, 10.0),
             (9, {"name": "far"}, 31.0, 1.0)]
    d = _write(spark, tmp_path, images=[("p", "cap", 40.0, 10.0)], feats=feats)
    got = _assert_same(monkeypatch, spark, d, res=6, k=k)
    assert [r[8] for r in got] == ["south"]


def test_fused_null_nan_inf_coordinates(spark, tmp_path, monkeypatch):
    images = IMAGES + [
        ("null_lat", "c", None, 10.0), ("null_lon", "c", 40.0, None),
        ("nan_lat", "c", math.nan, 10.0), ("nan_lon", "c", 40.0, math.nan),
        ("inf_lat", "c", math.inf, 10.0), ("inf_lon", "c", 40.0, -math.inf),
    ]
    d = _write(spark, tmp_path, images=images)
    for with_knn in (True, False):
        got = _assert_same(monkeypatch, spark, d, res=6, with_knn=with_knn)
        assert [r[0] for r in got] == ["i_a", "i_ab", "i_c"]


@pytest.mark.parametrize("feats", [[(3, {"amenity": "bench"}, 40.1, 10.1)], []])
def test_fused_zero_named_features(spark, tmp_path, monkeypatch, feats):
    d = _write(spark, tmp_path, feats=feats)
    got = _assert_same(monkeypatch, spark, d, res=6)
    assert len(got) == 3 and all(r[8] is None for r in got)
    assert got[0][9] == "cap a"


def _takes_join_path(monkeypatch, spark, d, **kw):
    """The narrow builder declines, and flagship's rows are the forced
    join path's."""
    built = []
    real = pipeline._enrich_narrow

    def spy(*a, **k):
        built.append(real(*a, **k))
        return built[-1]

    with monkeypatch.context() as m:
        m.setattr(pipeline, "_enrich_narrow", spy)
        _, _, got = _run(spark, d, **kw)
    assert built == [None]
    assert got == _joined(monkeypatch, spark, d, **kw)[2]
    return got


def test_duplicate_polygon_ids_take_join_path(spark, tmp_path, monkeypatch):
    polys = POLYS + [("B", "Beta2", {"lang": "it"}, _square(35.0, 5.0, 45.0, 15.0))]
    d = _write(spark, tmp_path, polys=polys)
    for with_knn in (True, False):
        got = _takes_join_path(monkeypatch, spark, d, res=6, with_knn=with_knn)
        assert [(r[0], r[5], r[6]) for r in got] == [
            ("i_a", "A", "Alpha"), ("i_ab", "A", "Alpha"), ("i_c", "C", "Gamma"),
        ]
    # an owner whose id is duplicated gets one row per attribute row, and
    # the kNN join back on image_id multiplies those rows once more
    polys = [("A", "Alpha", {"lang": "fr"}, _square(30.0, 0.0, 50.0, 20.0)),
             ("A", "Alpha2", {"lang": "es"}, _square(30.0, 0.0, 50.0, 20.0))]
    d = _write(spark, tmp_path / "dup_owner", polys=polys)
    for with_knn, copies in ((False, 1), (True, 2)):
        got = _takes_join_path(monkeypatch, spark, d, res=6, with_knn=with_knn)
        assert Counter((r[0], r[6], r[7]) for r in got) == {
            (i, name, lang): copies
            for i in ("i_a", "i_ab") for name, lang in (("Alpha", "fr"), ("Alpha2", "es"))
        }


def test_null_polygon_id_takes_join_path(spark, tmp_path, monkeypatch):
    polys = POLYS + [(None, "Nameless", {"lang": "xx"}, _square(60.0, 60.0, 80.0, 80.0))]
    d = _write(spark, tmp_path, polys=polys)
    got = _takes_join_path(monkeypatch, spark, d, res=6)
    # the null-id owner keeps a null id, and the attribute join (on a
    # null key) finds none of its attributes
    assert [(r[0], r[5], r[6], r[7]) for r in got] == [
        ("i_a", "A", "Alpha", "fr"), ("i_ab", "A", "Alpha", "fr"),
        ("i_c", "C", "Gamma", None), ("i_none", None, None, None),
    ]


def test_duplicate_feature_ids_take_join_path(spark, tmp_path, monkeypatch):
    feats = FEATS + [(1, {"name": "f1_again"}, 60.0, 60.0)]
    d = _write(spark, tmp_path, feats=feats)
    got = _takes_join_path(monkeypatch, spark, d, res=6)
    # the nearest id names two features, so its owner gets a row per name
    assert [(r[0], r[8]) for r in got] == [
        ("i_a", "f2"), ("i_ab", "f1"), ("i_ab", "f1_again"), ("i_c", "f4"),
    ]


@pytest.mark.parametrize("dry_run", [False, True])
def test_run_to_snapshot_destroys_its_broadcasts(spark, synth_dir, tmp_path, monkeypatch, dry_run):
    """Every broadcast the pass takes is destroyed when it returns, so no
    pickled broadcast file stays behind on the driver."""
    from pyspark import SparkContext

    made = []
    real = SparkContext.broadcast

    def spy(self, value):
        made.append(real(self, value))
        return made[-1]

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    m = pipeline.run_to_snapshot(
        spark, synth_dir, str(tmp_path / "t"), res=8, resume=False, dry_run=dry_run
    )
    assert m["rows"] == 2000
    assert made and not any(os.path.exists(b._path) for b in made)


def _counting(monkeypatch, module, name):
    """Spy on ``module.name``; returns the list of its results."""
    calls = []
    real = getattr(module, name)

    def spy(*a, **k):
        calls.append(real(*a, **k))
        return calls[-1]

    monkeypatch.setattr(module, name, spy)
    return calls


@pytest.mark.parametrize("dup", ["polygon", "feature"])
def test_join_path_collects_each_small_side_once(spark, tmp_path, monkeypatch, dup):
    """On the join path ``pip_join`` and ``knn_join`` gate on the rows
    ``flagship`` collected: one polygon collect, one feature collect."""
    from langtoolsosm_spark.operators import knn as knn_mod
    from langtoolsosm_spark.operators import pip_join as pip_mod

    if dup == "polygon":
        d = _write(spark, tmp_path, polys=POLYS + [
            ("B", "Beta2", {"lang": "it"}, _square(35.0, 5.0, 45.0, 15.0))])
        want = [("i_a", "A", "f2"), ("i_ab", "A", "f1"), ("i_c", "C", "f4")]
    else:
        d = _write(spark, tmp_path, feats=FEATS + [(1, {"name": "f1_again"}, 60.0, 60.0)])
        want = [("i_a", "A", "f2"), ("i_ab", "A", "f1"), ("i_ab", "A", "f1_again"),
                ("i_c", "C", "f4")]
    with monkeypatch.context() as m:
        polys = _counting(m, pip_mod, "_collect_small")
        feats = _counting(m, knn_mod, "_collect_features")
        narrow = _counting(m, pipeline, "_enrich_narrow")
        _, _, got = _run(spark, d, res=6)
    assert narrow == [None]
    assert len(polys) == 1 and len(polys[0]) == len(POLYS) + (dup == "polygon")
    assert len(feats) == 1 and len(feats[0]) == 3 + (dup == "feature")
    assert [(r[0], r[5], r[8]) for r in got] == want


def _table(path):
    import pandas as pd
    import pyarrow.parquet as pq

    from langtoolsosm_spark.sources.snapshots import SnapshotTable

    files = SnapshotTable(path).live_files()
    pdf = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
    return pdf.sort_values("image_id", ignore_index=True), len(files)


def test_run_to_snapshot_jobs_at_default_threshold(
    spark, synth_dir, tmp_path, monkeypatch, count_jobs
):
    """2,000 images cannot fill a tile past the 50,000-row threshold: the
    pass runs the two small-side collects and the write, with no schema
    inference, salt histogram or cache."""
    persists = _counting(monkeypatch, DataFrame, "persist")
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    m, n = count_jobs(lambda: pipeline.run_to_snapshot(
        spark, synth_dir, str(tmp_path / "t"), res=8, resume=False))
    assert m["rows"] == 2000
    assert n <= 4
    assert persists == [] and sc._jsc.getPersistentRDDs().size() == before


def test_salt_threshold_below_rows_still_splits_hot_tiles(spark, synth_dir, tmp_path):
    """Above the bound the histogram runs: a tile over the threshold is
    split over several ``__part`` file sets, and every other column is
    the same as in the unsalted default run."""
    pipeline.run_to_snapshot(spark, synth_dir, str(tmp_path / "low"), res=8, resume=False,
                             salt_threshold=100)
    pipeline.run_to_snapshot(spark, synth_dir, str(tmp_path / "dflt"), res=8, resume=False)
    low, low_files = _table(str(tmp_path / "low"))
    dflt, dflt_files = _table(str(tmp_path / "dflt"))
    assert dflt["__part"].str.endswith("_0").all()
    per_tile = low.groupby("tile")
    hot = per_tile.size()[lambda s: s > 100].index
    assert len(hot) and (per_tile["__part"].nunique()[hot] > 1).all()
    assert low_files > dflt_files
    assert low.drop(columns="__part").equals(dflt.drop(columns="__part"))


@pytest.mark.parametrize("threshold", [100, 100_000])
def test_run_ingest_decodes_once_above_salt_bound(spark, synth_dir, tmp_path, monkeypatch, threshold):
    """Above the salt bound ``run_ingest`` caches the PIP-joined frame, so
    ``add_salt``'s histogram and the write share one decode: the salted
    frame's plan holds one images scan and the two ``mapInArrow`` passes
    (decode, narrow PIP) once each, as under the bound. A cached subtree
    prints once per scan of the cache with the same expression ids, so
    the plan's distinct node lines are counted."""
    import re

    from langtoolsosm_spark.sources import snapshots

    plans = []
    real = snapshots.write_partitioned

    def spy(df, *a, **k):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *a, **k)

    monkeypatch.setattr(snapshots, "write_partitioned", spy)
    m = pipeline.run_ingest(spark, synth_dir, str(tmp_path / "t"), res=8, salt_threshold=threshold)
    assert m["rows"] == 2000
    assert m["observed"] == {"n_images": 2000, "n_decode_ok": 2000, "n_phash_ok": 2000}
    nodes = {re.sub(r"^[\s:+\-]*", "", line) for line in plans[0].splitlines()}
    assert sum("MapInArrow" in n for n in nodes) == 2
    assert sum(n.startswith("FileScan parquet") and "images.parquet" in n for n in nodes) == 1
