"""``sources.footers.read_parquet``: the schema read from the parquet
footers on the driver equals the one ``spark.read.parquet`` infers, opening
an input runs no Spark job, and inputs whose footers do not give one
schema fall back to inference."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from langtoolsosm_spark.datagen import ensure_dataset
from langtoolsosm_spark.sources.footers import read_parquet


def _assert_like_inference(spark, count_jobs, path, jobs):
    (df, rows), n = count_jobs(lambda: read_parquet(spark, path))
    want = spark.read.parquet(path)
    assert n == jobs, path
    assert df.schema == want.schema, path
    assert rows == df.count() == want.count(), path
    assert df.limit(5).collect() == want.limit(5).collect(), path


@pytest.mark.parametrize("tier", ["sf0.001", "sf0.01"])
def test_synth_files_read_with_footer_schema(spark, count_jobs, tier):
    paths = sorted(glob.glob(os.path.join(ensure_dataset(tier), "*.parquet")))
    assert {"images.parquet", "polygons.parquet", "features.parquet"} <= {
        os.path.basename(p) for p in paths
    }
    for p in paths:
        _assert_like_inference(spark, count_jobs, p, jobs=0)


def test_spark_written_directory_uses_row_metadata(spark, count_jobs, tmp_path):
    """A directory Spark wrote (several files, Spark's row-metadata key)
    with timestamp, timestamp_ntz, map, array-of-struct, decimal and byte
    columns."""
    d = str(tmp_path / "spark_dir")
    spark.sql(
        "SELECT cast(id AS int) AS i, "
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts, "
        "timestamp_ntz'2024-01-01 00:00:00' AS ntz, map('k', id) AS m, "
        "array(named_struct('x', id, 'y', cast(NULL AS string))) AS arr, "
        "cast(id AS decimal(10, 2)) AS dec, cast(id AS tinyint) AS b "
        "FROM range(12)"
    ).repartition(3).write.parquet(d)
    assert len(glob.glob(os.path.join(d, "part-*"))) > 1
    _assert_like_inference(spark, count_jobs, d, jobs=0)


def test_disagreeing_files_fall_back_to_inference(spark, count_jobs, tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), str(d / "part-0.parquet"))
    pq.write_table(pa.table({"a": [3], "c": [1.5]}), str(d / "part-1.parquet"))
    (df, rows), n = count_jobs(lambda: read_parquet(spark, str(d)))
    assert n >= 1 and rows == 3
    assert df.schema == spark.read.parquet(str(d)).schema


@pytest.mark.parametrize(
    "col",
    [
        pa.array([1, 2], pa.uint16()),  # Spark widens unsigned ints
        pa.array([0, 10**6], pa.timestamp("us")),  # zone-less: NTZ by a conf
    ],
)
def test_unconverted_footer_falls_back_to_inference(spark, count_jobs, tmp_path, col):
    p = str(tmp_path / "odd.parquet")
    pq.write_table(pa.table({"id": [1, 2], "v": col}), p)
    (df, rows), n = count_jobs(lambda: read_parquet(spark, p))
    assert n >= 1 and rows == 2
    assert df.schema == spark.read.parquet(p).schema
