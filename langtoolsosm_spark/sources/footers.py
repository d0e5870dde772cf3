"""Plain parquet reads that run no schema-inference job.

``spark.read.parquet(path)`` runs one Spark job to open a footer and
infer the schema. :func:`read_parquet` reads the footers on the driver
with pyarrow instead and hands their schema to ``spark.read.schema(...)``,
so opening the input runs no job; snapshot reads do the same with the
schema their manifest records (``sources/snapshots.py``). The schema is
the one Spark's inference takes:

* a footer with Spark's ``org.apache.spark.sql.parquet.row.metadata`` key
  (any file Spark wrote) gives that StructType, as Spark's
  ``readSchemaFromFooter`` does;
* any other footer converts its Arrow schema, when every type in it is
  one Spark reads back from parquet as ``from_arrow_type`` names it
  (:func:`_plain`).

Inference runs as before when a footer does not open or convert, when a
directory's files disagree, and when the path is not a local file or a
flat directory of data files (globs, summary files, partition
subdirectories).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _data_files(path: str) -> list[str] | None:
    """The files Spark reads under ``path``, or None unless its listing is
    one file or a flat directory of data files. Names are skipped by
    Spark's rule: a leading ``.``, a leading ``_`` without ``=``, a
    trailing ``._COPYING_``."""
    if any(c in path for c in "*?[{"):
        return None
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for name in sorted(os.listdir(path)):
        if name.startswith(("_metadata", "_common_metadata")):
            return None  # summary files: Spark infers from them first
        if (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith(
            "._COPYING_"
        ):
            continue
        f = os.path.join(path, name)
        if not os.path.isfile(f):
            return None  # partition or nested directories
        files.append(f)
    return files


def _plain(t: pa.DataType, binary_as_string: bool) -> bool:
    """Whether Spark reads a parquet column of Arrow type ``t`` as
    ``from_arrow_type(t)``: not for unsigned ints, half floats, durations,
    times, nulls, fixed-size types, zone-less or nanosecond timestamps, nor
    binary under ``spark.sql.parquet.binaryAsString``."""
    types = pa.types
    if types.is_dictionary(t) or types.is_list(t) or types.is_large_list(t):
        return _plain(t.value_type, binary_as_string)
    if types.is_map(t):
        return _plain(t.key_type, binary_as_string) and _plain(t.item_type, binary_as_string)
    if types.is_struct(t):
        return all(_plain(f.type, binary_as_string) for f in t)
    if types.is_timestamp(t):
        return t.tz is not None and t.unit != "ns"
    if types.is_binary(t) or types.is_large_binary(t):
        return not binary_as_string
    return any(
        is_(t)
        for is_ in (
            types.is_boolean, types.is_int8, types.is_int16, types.is_int32, types.is_int64,
            types.is_float32, types.is_float64, types.is_decimal128, types.is_string,
            types.is_large_string, types.is_date32,
        )
    )


def _footer_schema(md: pq.FileMetaData, binary_as_string: bool) -> StructType | None:
    from pyspark.sql.pandas.types import from_arrow_schema

    spark_json = (md.metadata or {}).get(SPARK_ROW_METADATA)
    if spark_json is not None:
        try:
            return StructType.fromJson(json.loads(spark_json))
        except (ValueError, KeyError, TypeError):
            return None
    arrow = md.schema.to_arrow_schema()
    if all(_plain(f.type, binary_as_string) for f in arrow):
        return from_arrow_schema(arrow)
    return None


def read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, int | None]:
    """``spark.read.parquet(path)``, with the schema its footers give when
    every file's converts to the same one (module docstring), and the row
    count the footers record (None when a footer does not open)."""
    schema = rows = None
    files = _data_files(path)
    if files:
        try:
            mds = [pq.read_metadata(f) for f in files]
        except (OSError, pa.ArrowException):
            mds = []
        if mds:
            rows = sum(md.num_rows for md in mds)
            bas = spark.conf.get("spark.sql.parquet.binaryAsString", "false").lower() == "true"
            schemas = [_footer_schema(md, bas) for md in mds]
            if schemas[0] is not None and all(s == schemas[0] for s in schemas[1:]):
                schema = schemas[0]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path), rows
