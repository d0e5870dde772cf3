"""Snapshot writer: width of the grouped write and parity with the
pandas-kernel writer it replaced; reads with the manifest's schema.

``_pandas_write`` is the reference: the earlier ``write_partitioned``
write path (``groupBy("__pid").applyInPandas``, one
``pa.Table.from_pandas`` parquet file per group), committed with the
same manifest bookkeeping and no ``"schema"`` key.

The read tests compare ``read`` / ``read_range`` with
``spark.read.parquet`` on the same files, the schema-inferring path they
skip when every selected file's commit recorded the same schema. In this
local session a small read with a recorded schema takes the driver-side
Arrow path (a ``LocalTableScan``); a test forces the ``spark.read`` path
by setting ``spark.sql.execution.arrow.localRelationThreshold`` under the
files' bytes, or by monkeypatching ``SparkContext.master`` off ``local``.
"""

import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from langtoolsosm_spark.operators.spread import kernel_width
from langtoolsosm_spark.sources.snapshots import (
    SnapshotTable,
    compact_table,
    write_partitioned,
)


def _pandas_write(df, table, partition_col, stats_col):
    data_dir = table.data_dir

    def kern(pdf):
        pid = int(pdf["__pid"].iloc[0])
        fn = f"part-{pid:05d}-ref.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf.drop(columns=["__pid"]), preserve_index=False),
            os.path.join(data_dir, fn),
        )
        return pd.DataFrame({
            "partition_id": [pid], "file": [fn], "rows": [len(pdf)],
            "stat_min": [int(pdf[stats_col].min())], "stat_max": [int(pdf[stats_col].max())],
        })

    recs = (
        df.withColumn("__pid", F.abs(F.hash(F.col(partition_col))))
        .groupBy("__pid")
        .applyInPandas(
            kern, "partition_id long, file string, rows long, stat_min long, stat_max long"
        )
        .collect()
    )
    return table.commit(
        files=[r["file"] for r in recs],
        lineage=[
            {"partition_id": r["partition_id"], "rows": r["rows"], "duration_ms": 0,
             "file": r["file"], "stats": {stats_col: [r["stat_min"], r["stat_max"]]}}
            for r in recs
        ],
    )


@pytest.fixture(scope="module")
def enriched(spark):
    """Flagship-shaped rows (string / double / long columns, a nullable
    string) over 30 tiles of uneven size."""
    rng = np.random.default_rng(7)
    n = 600
    tile = np.concatenate([np.arange(30), rng.zipf(1.6, n - 30) % 30])
    pdf = pd.DataFrame({
        "image_id": [f"img{i:04d}" for i in range(n)],
        "caption": [f"caption {i}" for i in range(n)],
        "lat": rng.uniform(40.5, 42.8, n),
        "lon": rng.uniform(0.2, 3.3, n),
        "tile": (tile * 7919).astype("int64"),
        "polygon_id": [f"p{t % 4}" for t in tile],
        # null in most rows, never in a whole group (see the types test)
        "nearest_name": [None if i >= 30 and i % 3 else f"feature {i % 11}" for i in range(n)],
    })
    return spark.createDataFrame(
        pdf,
        "image_id string, caption string, lat double, lon double, tile long, "
        "polygon_id string, nearest_name string",
    ).repartition(3)


def _lineage(table):
    return sorted(
        (r["partition_id"], r["rows"], *r["stats"]["tile"])
        for s in table.snapshots() for r in s["lineage"]
    )


def _content(df):
    pdf = df.toPandas()
    return pdf.sort_values("image_id").reset_index(drop=True)


def test_write_partitioned_uses_every_core(spark, tmp_path):
    """A few-KB frame with many groups still writes on ``kernel_width``
    tasks: AQE must not coalesce the grouped write onto one task."""
    n_groups = 40
    df = spark.range(0, 400, 1, 1).select(
        (F.col("id") % n_groups).alias("tile"), F.col("id").alias("v")
    )
    sc = spark.sparkContext
    group = "test-write-width"
    sc.setJobGroup(group, "write_partitioned width")
    try:
        snaps = write_partitioned(df, SnapshotTable(str(tmp_path / "t")), "tile")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sum(len(s["files"]) for s in snaps) == n_groups
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    widest = max(st.numTasks for st in stages if st is not None)
    assert widest >= min(kernel_width(spark), n_groups)


def test_arrow_writer_matches_pandas_writer(spark, enriched, tmp_path):
    new = SnapshotTable(str(tmp_path / "new"))
    ref = SnapshotTable(str(tmp_path / "ref"))
    write_partitioned(enriched, new, "tile", stats_col="tile")
    _pandas_write(enriched, ref, "tile", "tile")

    # same files: one per group, same (partition_id, rows, min, max)
    assert len(new.live_files()) == len(ref.live_files()) == 30
    assert _lineage(new) == _lineage(ref)
    # same content, order-insensitive
    pd.testing.assert_frame_equal(_content(new.read(spark)), _content(ref.read(spark)))
    # same parquet schema as from_pandas wrote, metadata aside
    ref_schema = pq.read_schema(ref.live_files()[0]).remove_metadata()
    for f in new.live_files():
        assert pq.read_schema(f).remove_metadata() == ref_schema


def test_arrow_writer_keeps_spark_types(spark, tmp_path):
    """Where the pandas kernel changed column types per group — a long
    with nulls became float64, an all-null string became Arrow ``null``
    (a file Spark then refuses to read as string) — the Arrow writer
    keeps Spark's types in every file."""
    df = spark.createDataFrame(
        [(t, None if t % 2 else t * 10, None if t < 3 else "x") for t in range(6)],
        "tile long, n long, s string",
    )
    table = SnapshotTable(str(tmp_path / "t"))
    write_partitioned(df, table, "tile", stats_col="tile")
    for f in table.live_files():
        schema = pq.read_schema(f)
        assert (schema.field("n").type, schema.field("s").type) == (pa.int64(), pa.string())
    assert sorted(table.read(spark).collect()) == sorted(df.collect())


def test_mixed_writer_table_reads_resumes_and_compacts(spark, enriched, tmp_path):
    """Files from both writers in one table: the Arrow writer resumes past
    groups the pandas writer committed, and the table reads back whole
    through read / read_range / compact_table."""
    table = SnapshotTable(str(tmp_path / "mixed"))
    _pandas_write(enriched.filter(F.col("tile") >= 7919 * 10), table, "tile", "tile")
    done = table.committed_partitions()
    assert len(done) == 20
    n_ref = len(table.live_files())
    snaps = write_partitioned(enriched, table, "tile", stats_col="tile", skip_partitions=done)
    # only the groups the pandas writer skipped were written
    assert {r["partition_id"] for s in snaps for r in s["lineage"]}.isdisjoint(done)
    assert len(table.live_files()) == 30 > n_ref
    assert len(table.committed_partitions()) == 30

    want = _content(enriched)
    pd.testing.assert_frame_equal(_content(table.read(spark)), want)
    lo, hi = 7919 * 5, 7919 * 15
    pd.testing.assert_frame_equal(
        _content(table.read_range(spark, "tile", lo, hi)),
        want[(want["tile"] >= lo) & (want["tile"] <= hi)].reset_index(drop=True),
    )
    compact_table(table, spark, target_files=3, stats_col="tile")
    assert len(table.live_files()) == 3
    pd.testing.assert_frame_equal(_content(table.read(spark)), want)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test-jobs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    # repr: rows may hold maps and bytes, which do not sort
    return sorted(repr(r) for r in df.collect())


def _assert_same(got, want):
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize(
    "op, want",
    [
        (lambda t, s: t.read_range(s, "tile", 7919 * 5, 7919 * 15), 0),
        (lambda t, s: t.read_range(s, "tile", 7919 * 5, 7919 * 15).toPandas(), 1),
        (lambda t, s: t.read_range(s, "tile", 1, 2).toPandas(), 1),
        (lambda t, s: t.read(s).toPandas(), 1),
    ],
    ids=["read_range", "read_range_to_pandas", "empty_overlap", "read_to_pandas"],
)
def test_reads_run_no_schema_inference_job(spark, enriched, tmp_path, op, want):
    table = SnapshotTable(str(tmp_path / "t"))
    write_partitioned(enriched, table, "tile", stats_col="tile")
    _, n = _jobs(spark, lambda: op(table, spark))
    assert n == want
    assert table.current()["schema"] == enriched.schema.json()


def test_mixed_writer_table_reads_with_inferred_schema(spark, enriched, tmp_path):
    """Files from a schema-less commit and a ``write_partitioned`` commit:
    reads fall back to inference and match ``spark.read.parquet``."""
    table = SnapshotTable(str(tmp_path / "mixed"))
    _pandas_write(enriched.filter(F.col("tile") >= 7919 * 10), table, "tile", "tile")
    write_partitioned(
        enriched, table, "tile", stats_col="tile", skip_partitions=table.committed_partitions()
    )
    files = table.live_files()
    df, n = _jobs(spark, lambda: table.read(spark))
    assert n >= 1  # schema inference ran
    _assert_same(df, spark.read.parquet(*files))
    lo, hi = 7919 * 5, 7919 * 15
    _assert_same(
        table.read_range(spark, "tile", lo, hi),
        spark.read.parquet(*table.pruned_files("tile", lo, hi)).filter(
            (F.col("tile") >= lo) & (F.col("tile") <= hi)
        ),
    )


@pytest.fixture(scope="module")
def typed(spark):
    """One column of each type the writer may meet, nulls included."""
    rows = [
        (
            t, t - 3, t * 300, t * 70_000, None if t % 3 == 0 else t * 10**12,
            t / 7, t % 2 == 0, None if t == 4 else f"s{t}", bytes([t, 255]),
            datetime.date(2020, 1, 1 + t), datetime.datetime(2021, 5, 4, 3, 2, t),
            [t, None, -t], {"k": f"v{t}"} if t % 4 else None, (t, f"n{t}"),
        )
        for t in range(16)
    ]
    return spark.createDataFrame(
        rows,
        "tile long, b byte, sh short, i int, ln long, d double, bo boolean, s string, "
        "bi binary, dt date, ts timestamp, arr array<bigint>, m map<string,string>, "
        "st struct<x:int,y:string>",
    ).withColumn("sq", F.sequence(F.lit(0), F.col("i") % 3))  # non-null elements


def _typed_table(typed, path):
    """``typed`` in two ``write_partitioned`` commits (tiles < 8, then the rest)."""
    table = SnapshotTable(path)
    write_partitioned(typed.filter(F.col("tile") < 8), table, "tile", stats_col="tile")
    write_partitioned(typed.filter(F.col("tile") >= 8), table, "tile", stats_col="tile")
    return table


@pytest.fixture(scope="module")
def flagship_table(spark, synth_dir, tmp_path_factory):
    from langtoolsosm_spark.plans.pipeline import run_to_snapshot

    path = str(tmp_path_factory.mktemp("flagship") / "t")
    run_to_snapshot(spark, synth_dir, path, res=8, resume=False)
    return SnapshotTable(path)


@pytest.mark.parametrize("which", ["flagship", "typed"])
def test_reads_match_inferred_schema_and_rows(spark, typed, tmp_path, request, which):
    if which == "flagship":
        table = request.getfixturevalue("flagship_table")
    else:
        table = _typed_table(typed, str(tmp_path / "typed"))
    assert all("schema" in s for s in table.snapshots())
    sid = table.snapshots()[0]["snapshot_id"]
    _assert_same(table.read(spark), spark.read.parquet(*table.live_files()))
    _assert_same(table.read(spark, snapshot_id=sid), spark.read.parquet(*table.live_files(sid)))
    tiles = sorted(r["tile"] for r in table.read(spark).select("tile").distinct().collect())
    lo, hi = tiles[1], tiles[len(tiles) // 2]
    _assert_same(
        table.read_range(spark, "tile", lo, hi),
        spark.read.parquet(*table.pruned_files("tile", lo, hi)).filter(
            (F.col("tile") >= lo) & (F.col("tile") <= hi)
        ),
    )
    empty = table.read_range(spark, "tile", tiles[-1] + 1, tiles[-1] + 2)
    assert empty.schema == spark.read.parquet(table.live_files()[0]).schema
    assert empty.count() == 0


def test_time_travel_across_added_column(spark, typed, tmp_path):
    """An append that adds a column: the old snapshot reads with its own
    recorded schema, the whole table falls back to inference."""
    table = SnapshotTable(str(tmp_path / "t"))
    old = typed.select("tile", "ln", "s")
    write_partitioned(old.filter(F.col("tile") < 8), table, "tile", stats_col="tile")
    write_partitioned(
        typed.select("tile", "ln", "s", "d").filter(F.col("tile") >= 8),
        table, "tile", stats_col="tile",
    )
    first = table.snapshots()[0]["snapshot_id"]
    df, n = _jobs(spark, lambda: table.read(spark, snapshot_id=first))
    assert n == 0
    assert df.columns == ["tile", "ln", "s"]
    _assert_same(df, spark.read.parquet(*table.live_files(first)))
    df, n = _jobs(spark, lambda: table.read(spark))
    assert n >= 1
    _assert_same(df, spark.read.parquet(*table.live_files()))


def test_compact_keeps_long_with_nulls(spark, tmp_path):
    """The rewrite is Arrow-native: a nullable long stays bigint (the
    pandas rewrite made it double) and the rows are unchanged."""
    df = spark.createDataFrame(
        [(i, i % 6, None if i % 4 == 0 else i * 3, f"r{i}") for i in range(40)],
        "id long, tile long, n long, s string",
    )
    table = SnapshotTable(str(tmp_path / "t"))
    write_partitioned(df, table, "tile", stats_col="tile")
    compact_table(table, spark, target_files=2, stats_col="tile")
    assert len(table.live_files()) == 2
    for f in table.live_files():
        assert pq.read_schema(f).field("n").type == pa.int64()
    inferred = spark.read.parquet(*table.live_files())
    assert inferred.schema["n"].dataType == LongType()
    _assert_same(table.read(spark), inferred)
    assert _rows(table.read(spark)) == _rows(df)
    assert table.current()["schema"] == table.read(spark).schema.json()


def test_expire_keeps_schema_only_when_uniform(spark, enriched, tmp_path):
    mixed = SnapshotTable(str(tmp_path / "mixed"))
    _pandas_write(enriched.filter(F.col("tile") >= 7919 * 10), mixed, "tile", "tile")
    write_partitioned(
        enriched, mixed, "tile", stats_col="tile", skip_partitions=mixed.committed_partitions()
    )
    same = SnapshotTable(str(tmp_path / "same"))
    write_partitioned(enriched.filter(F.col("tile") < 7919 * 10), same, "tile", stats_col="tile")
    write_partitioned(enriched.filter(F.col("tile") >= 7919 * 10), same, "tile", stats_col="tile")
    for table, keeps in ((mixed, False), (same, True)):
        before = table.read(spark)
        want_schema, want_rows = before.schema, _rows(before)
        assert table.expire_snapshots(keep_last=1)["removed_snapshots"] == 1
        (snap,) = table.snapshots()
        assert ("schema" in snap) is keeps
        if keeps:
            assert snap["schema"] == enriched.schema.json()
        after = table.read(spark)
        assert after.schema == want_schema
        assert _rows(after) == want_rows


def test_compact_then_append_reads_with_recorded_schema(spark, tmp_path):
    """``spark.range``'s ``id`` is non-nullable in the frame but nullable
    as Spark reads the files back; both the compaction commit and the
    later append record the nullable form, so the range read over the
    compacted and the appended files still runs no inference job."""

    def frame(lo, hi):
        return spark.range(lo, hi).withColumn("tile", F.col("id") % 6)

    table = SnapshotTable(str(tmp_path / "t"))
    write_partitioned(frame(0, 40), table, "tile", stats_col="tile")
    compact_table(table, spark, target_files=2)
    write_partitioned(frame(40, 60), table, "tile", stats_col="tile")
    df, n = _jobs(spark, lambda: table.read_range(spark, "tile", 0, 5))
    assert n == 0
    assert len({s["schema"] for s in table.snapshots()}) == 1
    _assert_same(df, spark.read.parquet(*table.live_files()))
    assert _rows(df) == _rows(frame(0, 60).select("id", "tile"))


def test_commit_parses_only_newest_manifest(tmp_path, monkeypatch):
    """A commit reads its parent from the newest manifest alone: on a
    50-snapshot table it parses one manifest, not all 50."""
    import json

    table = SnapshotTable(str(tmp_path / "t"))
    for i in range(50):
        table.commit([], [{"partition_id": i, "rows": 1}])
    loads = []
    real_load = json.load
    monkeypatch.setattr(json, "load", lambda f: loads.append(f.name) or real_load(f))
    snap = table.commit([], [{"partition_id": 50, "rows": 1}])
    assert len(loads) == 1 and loads[0].endswith("000050.json")
    assert (snap["snapshot_id"], snap["parent_id"]) == (51, 50)
    monkeypatch.undo()
    assert [s["snapshot_id"] for s in table.snapshots()] == list(range(1, 52))


# -- driver-side Arrow reads --------------------------------------------------

THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _spark_path(plan):
    return "FileScan parquet" in plan and "LocalTableScan" not in plan


def _arrow_path(plan):
    return "LocalTableScan" in plan and "FileScan" not in plan


def _reference(spark, files, where=None):
    """``spark.read.parquet`` over ``files`` (inferred schema) plus the
    range filter ``read_range`` applies."""
    df = spark.read.parquet(*files)
    if where is not None:
        col, lo, hi = where
        df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    return df


def _assert_parity(got, want):
    """Schema (names, types, nullability), sorted rows and pandas dtypes."""
    _assert_same(got, want)
    assert got.toPandas().dtypes.to_dict() == want.toPandas().dtypes.to_dict()


@pytest.fixture
def threshold(spark):
    """Set Spark's local-relation threshold for one test."""
    def set_(v):
        spark.conf.set(THRESHOLD, str(v))

    yield set_
    spark.conf.unset(THRESHOLD)


@pytest.mark.parametrize(
    "case", ["flagship", "typed_null_range_col", "time_travel", "compact_then_append"]
)
def test_arrow_read_matches_spark_read(spark, typed, tmp_path, request, case):
    """The driver-side Arrow path returns what ``spark.read.parquet`` of
    the same files plus the same filter returns."""
    if case == "flagship":
        table = request.getfixturevalue("flagship_table")
        tiles = sorted(r["tile"] for r in table.read(spark).select("tile").distinct().collect())
        col, lo, hi = "tile", tiles[2], tiles[6]
        got, files = table.read_range(spark, col, lo, hi), table.pruned_files(col, lo, hi)
        want = _reference(spark, files, (col, lo, hi))
    elif case == "typed_null_range_col":
        # ``ln`` is null in every third row and has no stats: no file is
        # pruned, and the residual filter drops the nulls
        table = _typed_table(typed, str(tmp_path / "typed"))
        col, lo, hi = "ln", 2 * 10**12, 11 * 10**12
        got = table.read_range(spark, col, lo, hi)
        want = _reference(spark, table.live_files(), (col, lo, hi))
        assert 0 < got.count() < table.read(spark).filter(F.col(col).isNotNull()).count()
    elif case == "time_travel":
        table = _typed_table(typed, str(tmp_path / "typed"))
        sid = table.snapshots()[0]["snapshot_id"]
        got, want = table.read(spark, snapshot_id=sid), _reference(spark, table.live_files(sid))
        assert got.count() == 8
    else:
        table = SnapshotTable(str(tmp_path / "t"))
        frame = spark.range(0, 60).withColumn("tile", F.col("id") % 6)
        write_partitioned(frame.filter("id < 40"), table, "tile", stats_col="tile")
        compact_table(table, spark, target_files=2)
        write_partitioned(frame.filter("id >= 40"), table, "tile", stats_col="tile")
        got = table.read_range(spark, "tile", 1, 3)
        want = _reference(spark, table.pruned_files("tile", 1, 3), ("tile", 1, 3))
    assert _arrow_path(_plan(got))
    _assert_parity(got, want)


def test_empty_overlap_opens_no_file(spark, typed, tmp_path, monkeypatch):
    """No overlapping file: an empty local relation of the manifest schema,
    built without opening a data file."""
    table = _typed_table(typed, str(tmp_path / "typed"))
    opened = []
    monkeypatch.setattr(pq, "ParquetFile", lambda *a, **k: opened.append(a) or 1 / 0)
    got = table.read_range(spark, "tile", 100, 200)
    monkeypatch.undo()
    assert opened == [] and _arrow_path(_plan(got))
    want = spark.read.parquet(table.live_files()[0]).filter(F.lit(False))
    _assert_parity(got, want)
    assert got.count() == 0


@pytest.mark.parametrize("knob", ["spark_conf", "module_constant"])
def test_arrow_read_bound_each_side(spark, flagship_table, threshold, monkeypatch, knob):
    """At the files' summed uncompressed bytes the read stays on the driver;
    one byte under it, the same read goes through ``spark.read``. Either
    bound caps it: Spark's local-relation threshold and
    ``DRIVER_READ_BYTES``."""
    from langtoolsosm_spark.sources import snapshots

    bound = threshold
    if knob == "module_constant":
        bound = lambda v: monkeypatch.setattr(snapshots, "DRIVER_READ_BYTES", v)  # noqa: E731
    table = flagship_table
    tiles = sorted(r["tile"] for r in table.read(spark).select("tile").distinct().collect())
    lo, hi = tiles[0], tiles[4]
    size = 0
    for f in table.pruned_files("tile", lo, hi):
        md = pq.ParquetFile(f).metadata
        size += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    bound(size)
    at = table.read_range(spark, "tile", lo, hi)
    bound(size - 1)
    over = table.read_range(spark, "tile", lo, hi)
    assert _arrow_path(_plan(at)) and _spark_path(_plan(over))
    _assert_parity(at, over)


def test_cluster_session_reads_through_spark(spark, enriched, tmp_path, monkeypatch):
    """Off a local master the driver may not see the files: ``spark.read``."""
    table = SnapshotTable(str(tmp_path / "t"))
    write_partitioned(enriched, table, "tile", stats_col="tile")
    lo, hi = 7919 * 5, 7919 * 15
    local = table.read_range(spark, "tile", lo, hi)
    monkeypatch.setattr(spark.sparkContext, "master", "spark://driver:7077")
    remote, whole = table.read_range(spark, "tile", lo, hi), table.read(spark)
    monkeypatch.undo()
    assert _arrow_path(_plan(local))
    assert _spark_path(_plan(remote)) and _spark_path(_plan(whole))
    _assert_parity(remote, local)


@pytest.mark.parametrize("limit", [None, 0], ids=["arrow", "spark"])
def test_read_plan_pin(spark, enriched, tmp_path, threshold, limit):
    """The executed plan names the path: a ``LocalTableScan`` and no
    ``FileScan`` under the bound, the ``FileScan`` over it."""
    table = SnapshotTable(str(tmp_path / "t"))
    write_partitioned(enriched, table, "tile", stats_col="tile")
    if limit is not None:
        threshold(limit)
    check = _arrow_path if limit is None else _spark_path
    assert check(_plan(table.read(spark)))
    assert check(_plan(table.read_range(spark, "tile", 7919 * 5, 7919 * 15)))


def test_uncommitted_temp_manifest_is_not_a_snapshot(spark, enriched, tmp_path):
    """A ``.tmp-<hex>.json`` left by a commit that died before its rename
    (or one still in flight) is not read as a snapshot."""
    import json

    table = SnapshotTable(str(tmp_path / "t"))
    write_partitioned(enriched.filter(F.col("tile") < 7919 * 10), table, "tile", stats_col="tile")
    (snap,) = table.snapshots()
    files, done = table.live_files(), table.committed_partitions()
    rows = _rows(table.read(spark))
    planted = {**snap, "snapshot_id": 2, "parent_id": 1, "files": ["b.parquet"],
               "lineage": [{"partition_id": 999_999, "rows": 1, "file": "b.parquet"}]}
    with open(os.path.join(table.snap_dir, ".tmp-deadbeef.json"), "w") as f:
        json.dump(planted, f)
    assert [s["snapshot_id"] for s in table.snapshots()] == [1]
    assert table.live_files() == files
    assert table.committed_partitions() == done
    assert _rows(table.read(spark)) == rows
    assert table.commit([], [])["snapshot_id"] == 2
    assert [s["snapshot_id"] for s in table.snapshots()] == [1, 2]
