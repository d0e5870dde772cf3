"""Iceberg-style snapshot table: immutable parquet data files + JSON
manifests, with per-partition lineage and resumable commits.

The reference's write transaction is the OSM changeset: opened lazily,
closed every ``batch`` edits, with a comment suffix `` (part N)`` and
running edit counters (/root/reference/src/fill_empty_name.py:66-89;
lib/osm_utils.py:155-165). The engine maps that to snapshot commits: each
micro-batch of partition outputs is one snapshot carrying metadata tags
(comment/source/created_by) in its summary, a monotonically increasing id,
and a lineage list (partition id -> rows, duration). Resume = skip
partitions already recorded in the latest snapshot chain
(BASELINE.json:north_rule "resumable from checkpoint with per-partition
lineage + metrics").

No Iceberg jars exist in the sandbox, so the manifest format is a trivial
JSON chain — same semantics (immutable data files, named snapshots,
time-travel by snapshot id, append/overwrite), engine-owned.

Like an Iceberg table's metadata, a snapshot may carry the Spark schema of
the data files its commit added (``"schema"``: a ``StructType.json()``
string in the all-nullable form Spark reads parquet with, so a compaction
and a later append of the same columns agree; ``write_partitioned`` and
``compact_table`` record it). Reads walk the chain once, and when every
file they select was added by a commit that recorded the SAME schema, they
hand it to ``spark.read.schema(...)``, so opening the table runs no
schema-inference job. Otherwise (manifests without the key — older
tables, direct ``commit`` calls — or files from commits with different
schemas) they fall back to ``spark.read.parquet``'s inference, unchanged.

A small read skips the Spark file scan altogether. When the session is
local (the driver sees the files the executors wrote), the selected files
share a recorded schema, and their uncompressed bytes, summed from the
parquet footers, are at most ``DRIVER_READ_BYTES`` (8 MiB: above about
13 MiB Spark's parallel scan wins, see the constant) and at most Spark's
own ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
default; above it ``createDataFrame`` would ship the batches as an RDD
anyway), the driver reads the manifest-pruned files with pyarrow, applies
``read_range``'s residual range in Arrow, and returns
``spark.createDataFrame`` over that table with the manifest schema: a
``LocalTableScan`` instead of a ``FileScan``, which halves the wall of a
few-tile read. Everything else — cluster sessions, schema-less or
mixed-schema selections, selections over the bound — reads through
``spark.read``. Row order is undefined on both paths (Spark's scan
orders its splits by file size).

Manifests are written as ``.tmp-<hex>.json`` and renamed to their
zero-padded ``NNNNNN.json`` id; only the renamed names are snapshots, so
a commit that died before its rename, or one still in flight, is never
read.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql.types import StructType

_MANIFEST = re.compile(r"\d{6,}\.json")

# Largest selection (uncompressed parquet bytes) read on the driver with
# pyarrow; Spark's ``spark.sql.execution.arrow.localRelationThreshold``
# caps it further. Above a few MiB the local relation's per-row work on
# the driver loses to Spark's parallel scan. Measured on a 4-CPU host
# (local[4], 2 GB heap), range reads of the sf0.1 flagship table (200k
# rows, 180 files, 40.8 MiB), median ms of 5 alternating reads,
# ``toPandas()`` / ``count()``, Arrow path against ``spark.read``:
#   2.2 MiB  152/158 vs 196/175     7.9 MiB  417/319 vs 548/427
#   9.9 MiB  474/347 vs 623/442    12.9 MiB  595/444 vs 567/454
#  15.8 MiB  ~770/517 vs ~670/478  25.2 MiB 1589/931 vs 1135/692
#  40.8 MiB 2307/1561 vs 1582/1057
# The crossover is near 13 MiB; 8 MiB keeps the driver read where it won.
DRIVER_READ_BYTES = 8 << 20


def _shared_schema(pairs) -> str | None:
    """The schema recorded for every one of the (file, schema) pairs, or
    None when some file's commit recorded none or two commits differ."""
    schemas = {sch for _, sch in pairs}
    return schemas.pop() if len(schemas) == 1 else None


def _nullable(t):
    """A ``DataType.jsonValue()`` with every struct field, array element
    and map key/value made nullable, recursively (Spark's ``asNullable``)."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [
            {**f, "nullable": True, "type": _nullable(f["type"])} for f in t["fields"]
        ]}
    if t["type"] == "array":
        return {**t, "elementType": _nullable(t["elementType"]), "containsNull": True}
    if t["type"] == "map":
        return {**t, "keyType": _nullable(t["keyType"]),
                "valueType": _nullable(t["valueType"]), "valueContainsNull": True}
    return t


class SnapshotTable:
    """A directory of immutable parquet files + snapshots/NNNNNN.json."""

    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.snap_dir = os.path.join(path, "snapshots")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- snapshot chain -----------------------------------------------------

    def _load(self, fn: str) -> dict:
        with open(os.path.join(self.snap_dir, fn)) as f:
            return json.load(f)

    def _manifests(self) -> list[str]:
        """Committed manifest names in snapshot-id order: only the
        zero-padded ``NNNNNN.json`` ids, never a ``.tmp-<hex>.json`` that a
        commit or an expiry has not renamed (yet)."""
        names = (fn for fn in os.listdir(self.snap_dir) if _MANIFEST.fullmatch(fn))
        return sorted(names, key=lambda fn: int(fn[:-5]))

    def snapshots(self) -> list[dict]:
        return [self._load(fn) for fn in self._manifests()]

    def current(self) -> dict | None:
        """The newest snapshot. Manifest names are zero-padded snapshot
        ids, so it is the last one in sorted order, and only that manifest
        is parsed: a commit costs one read, not one per snapshot."""
        names = self._manifests()
        return self._load(names[-1]) if names else None

    def committed_partitions(self) -> set[int]:
        """Union of partition ids recorded across the live snapshot chain."""
        done: set[int] = set()
        for s in self.snapshots():
            if s.get("operation") == "overwrite":
                done = set()
            for rec in s.get("lineage", []):
                done.add(rec["partition_id"])
        return done

    def _walk(
        self, snapshot_id: int | None = None
    ) -> tuple[list[tuple[str, str | None]], dict[str, dict]]:
        """One pass over the chain up to ``snapshot_id``: the live files in
        commit order, each paired with the schema its commit recorded (None
        when it recorded none), and the lineage record of every file."""
        live: list[tuple[str, str | None]] = []
        recs: dict[str, dict] = {}
        for s in self.snapshots():
            if snapshot_id is not None and s["snapshot_id"] > snapshot_id:
                break
            if s.get("operation") == "overwrite":
                live = []
            live.extend((f, s.get("schema")) for f in s["files"])
            for rec in s.get("lineage", []):
                if rec.get("file"):
                    recs[rec["file"]] = rec
        return live, recs

    def live_files(self, snapshot_id: int | None = None) -> list[str]:
        live, _ = self._walk(snapshot_id)
        return [os.path.join(self.data_dir, f) for f, _ in live]

    # -- commit -------------------------------------------------------------

    def commit(
        self,
        files: list[str],
        lineage: list[dict],
        summary: dict | None = None,
        operation: str = "append",
        schema: str | None = None,
    ) -> dict:
        """Record a snapshot over data files already placed in data_dir.

        files: basenames inside data_dir. lineage: one dict per partition
        {partition_id, rows, duration_ms}. summary: changeset-style
        metadata tags (comment / source / created_by ...). schema: the
        ``StructType.json()`` of ``files``, stored as the snapshot's
        ``"schema"`` key in its nullable form (``_nullable``: the form
        Spark reads parquet files with, so two writers of the same columns
        record the same string whatever their frames' nullability); reads
        over files whose commits all recorded the same schema use it
        instead of inferring one. Omit it (the key is then absent) when
        the files' schema is not known exactly.
        """
        prev = self.current()
        sid = (prev["snapshot_id"] + 1) if prev else 1
        snap = {
            "snapshot_id": sid,
            "parent_id": prev["snapshot_id"] if prev else None,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "files": files,
            "lineage": lineage,
            "summary": dict(summary or {}),
            "total_rows": sum(r.get("rows", 0) for r in lineage),
        }
        if schema is not None:
            snap["schema"] = StructType.fromJson(_nullable(json.loads(schema))).json()
        tmp = os.path.join(self.snap_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.rename(tmp, os.path.join(self.snap_dir, f"{sid:06d}.json"))
        return snap

    def new_data_file(self, partition_id: int) -> str:
        return f"part-{partition_id:05d}-{uuid.uuid4().hex}.parquet"

    # -- spark I/O ------------------------------------------------------------

    def _scan(self, spark, selected: list[tuple[str, str | None]], where=None):
        """The DataFrame over (file, schema) pairs from ``_walk``, with rows
        of ``where = (col, lo, hi)`` only when given (null ``col`` dropped).

        Two paths, same schema and rows, undefined row order:

        * driver-side Arrow, when the session is local, every file's commit
          recorded the same schema, and the files' uncompressed bytes
          (parquet footers) are at most ``DRIVER_READ_BYTES`` and Spark's
          ``spark.sql.execution.arrow.localRelationThreshold``: pyarrow
          reads the files through the footers the bound opened, filters
          ``where`` in Arrow, and ``createDataFrame`` makes a local
          relation with the manifest schema — no Spark job, no file scan;
        * else ``spark.read``, with the recorded schema when the files
          share one (no schema-inference job) or Spark's inference, and
          ``where`` as a filter.
        """
        from pyspark.sql import functions as F

        schema = _shared_schema(selected)
        struct = None if schema is None else StructType.fromJson(json.loads(schema))
        paths = [os.path.join(self.data_dir, f) for f, _ in selected]
        if struct is not None and spark.sparkContext.master.startswith("local"):
            bound = min(DRIVER_READ_BYTES, spark._jconf.arrowLocalRelationThreshold())
            tbl = _driver_table(paths, struct, bound)
            if tbl is not None:
                if where is not None:
                    import pyarrow.compute as pc

                    col, lo, hi = where
                    c = tbl.column(col)
                    tbl = tbl.filter(pc.and_(pc.greater_equal(c, lo), pc.less_equal(c, hi)))
                return spark.createDataFrame(tbl, schema=struct)
        reader = spark.read if struct is None else spark.read.schema(struct)
        df = reader.parquet(*paths)
        if where is not None:
            col, lo, hi = where
            df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
        return df

    def read(self, spark, snapshot_id: int | None = None):
        """Load the table state at a snapshot (default: current), through
        ``_scan``: a driver-side Arrow read for a small table with one
        recorded schema in a local session, else ``spark.read`` (with the
        manifest schema when the files share one). Row order is undefined."""
        live, _ = self._walk(snapshot_id)
        if not live:
            raise FileNotFoundError(f"snapshot table {self.path} is empty")
        return self._scan(spark, live)

    # -- manifest-stats file pruning (Iceberg-style) --------------------------

    def pruned_files(
        self, col: str, lo: int, hi: int, snapshot_id: int | None = None
    ) -> list[str]:
        """Live files whose manifest [min, max] stats for ``col`` overlap
        [lo, hi]. Files committed without stats are kept (never prune
        blind). This is the Iceberg manifest-pruning model: a range scan
        opens only matching data files — no footer reads, no list+filter
        over the whole table (SURVEY.md §4 cell-range pruning)."""
        _, selected = self._pruned(col, lo, hi, snapshot_id)
        return [os.path.join(self.data_dir, f) for f, _ in selected]

    def _pruned(self, col: str, lo: int, hi: int, snapshot_id: int | None):
        """``_walk``'s live (file, schema) pairs, and those of them that
        ``pruned_files`` keeps."""
        live, recs = self._walk(snapshot_id)
        selected = []
        for f, sch in live:
            st = recs.get(f, {}).get("stats", {}).get(col)
            if st is None or (st[0] <= hi and st[1] >= lo):
                selected.append((f, sch))
        return live, selected

    def read_range(self, spark, col: str, lo: int, hi: int,
                   snapshot_id: int | None = None):
        """Range scan over ``col``: manifest-pruned file list + the
        residual predicate (files can straddle the range boundary; rows
        with a null ``col`` are dropped, as Spark's filter drops them).
        ``_scan`` picks the path: a driver-side Arrow read with the filter
        in Arrow when the session is local, the pruned files share a
        recorded schema and fit under ``DRIVER_READ_BYTES`` and Spark's
        ``spark.sql.execution.arrow.localRelationThreshold``, else
        ``spark.read`` plus a filter. Row order is undefined.

        An empty overlap is a legitimate outcome (range between key
        values, or an overwrite shrank the key space): it returns an
        EMPTY DataFrame with the table schema. When the commit of the
        first live file recorded a schema, that is ``createDataFrame``
        over an empty Arrow table of it, and no file is opened; else a
        read of that one file under a false predicate. Only a table with
        no live files at all raises — that is 'missing/corrupt', not 'no
        rows in range'. Neither path runs a Spark job before an action."""
        from pyspark.sql import functions as F

        live, selected = self._pruned(col, lo, hi, snapshot_id)
        if not selected:
            if not live:
                raise FileNotFoundError(
                    f"snapshot table has no live files at {self.path}"
                )
            schema = live[0][1]
            if schema is None:
                return self._scan(spark, live[:1]).filter(F.lit(False))
            from pyspark.sql.pandas.types import to_arrow_schema

            struct = StructType.fromJson(json.loads(schema))
            return spark.createDataFrame(to_arrow_schema(struct).empty_table(), schema=struct)
        return self._scan(spark, selected, (col, lo, hi))

    # -- maintenance ----------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Expire all but the last ``keep_last`` snapshots and delete data
        files referenced ONLY by expired history — the Iceberg
        ``expire_snapshots`` maintenance op that actually reclaims space
        after compaction (the replace commit keeps old files alive for
        time travel; this drops them).

        The earliest retained snapshot is rewritten SELF-CONTAINED (an
        overwrite carrying its cumulative live-file state), because an
        append-chain snapshot is meaningless without its ancestors. Each
        file keeps its ORIGINAL lineage record (partition id, rows,
        stats) gathered from the expired chain, so manifest-stats pruning
        and ``committed_partitions`` resume bookkeeping survive
        expiration unchanged. The rewrite keeps a ``"schema"`` key only
        when every commit whose files it carries recorded that same
        schema (else reads of it infer one). Returns counts of removed
        manifests and deleted files."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"removed_snapshots": 0, "deleted_files": 0}
        cutoff = snaps[-keep_last]
        cid = cutoff["snapshot_id"]
        # live files with the schema of the commit that added each, and
        # the original lineage record per file (each data file is written
        # by exactly one commit)
        live, filerec = self._walk(cid)
        state = [f for f, _ in live]
        # the committed-partition set as of the cutoff (respecting
        # overwrite resets) — file-LESS lineage records (empty partitions)
        # must survive the rewrite too, or committed_partitions() would
        # shrink after expiration
        expired_refs: set[str] = set()
        done_at_cutoff: set[int] = set()
        for s in snaps:
            if s["snapshot_id"] <= cid:
                if s.get("operation") == "overwrite":
                    done_at_cutoff = set()
                for rec in s.get("lineage", []):
                    done_at_cutoff.add(rec["partition_id"])
            if s["snapshot_id"] < cid:
                expired_refs.update(s["files"])
        retained: set[str] = set(state)
        for s in snaps[-keep_last:]:
            if s["snapshot_id"] > cid:
                retained.update(s["files"])
        file_lineage = [
            filerec.get(
                f, {"partition_id": -1, "rows": 0, "duration_ms": 0, "file": f}
            )
            for f in state
        ]
        covered = {rec["partition_id"] for rec in file_lineage}
        fileless_lineage = [
            {"partition_id": p, "rows": 0, "duration_ms": 0}
            for p in sorted(done_at_cutoff - covered)
        ]
        rewritten = {
            **cutoff,
            "parent_id": None,
            "operation": "overwrite",
            "files": state,
            "lineage": file_lineage + fileless_lineage,
            "summary": {**cutoff.get("summary", {}), "expired-rewrite": True},
            "total_rows": sum(filerec.get(f, {}).get("rows", 0) for f in state),
        }
        # the rewrite carries files from several commits: it may keep a
        # schema only if every one of them recorded that same schema
        rewritten.pop("schema", None)
        schema = _shared_schema(live)
        if schema is not None:
            rewritten["schema"] = schema
        tmp = os.path.join(self.snap_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(rewritten, f)
        os.rename(tmp, os.path.join(self.snap_dir, f"{cid:06d}.json"))
        removed = 0
        for s in snaps:
            if s["snapshot_id"] < cid:
                os.remove(
                    os.path.join(self.snap_dir, f"{s['snapshot_id']:06d}.json")
                )
                removed += 1
        deleted = 0
        for fn in expired_refs - retained:
            p = os.path.join(self.data_dir, fn)
            if os.path.exists(p):
                os.remove(p)
                deleted += 1
        return {"removed_snapshots": removed, "deleted_files": deleted}


def _driver_table(paths: list[str], struct: StructType, bound: int):
    """The files' rows as one pyarrow Table of ``struct``'s columns, or
    None when their uncompressed bytes, summed from the parquet footers,
    exceed ``bound``; footers past the bound are never opened. Each file
    is read through the footer the bound opened."""
    import contextlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    with contextlib.ExitStack() as stack:
        files, size = [], 0
        for p in paths:
            pf = stack.enter_context(pq.ParquetFile(p))
            md = pf.metadata
            size += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
            if size > bound:
                return None
            files.append(pf)
        # nullability or Arrow field metadata may differ by writer;
        # createDataFrame casts the result to ``struct``'s Arrow types
        return pa.concat_tables(
            [pf.read(columns=struct.names) for pf in files], promote_options="permissive"
        )


def _require_integral_cols(df, cols, where: str) -> None:
    """Manifest min/max stats are stored as ints; ``int()`` on a float
    truncates toward zero (int(-3.7) -> -3), silently NARROWING the
    recorded range so ``pruned_files``/``read_range`` would skip files
    that contain matching rows. Fail loudly instead."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    for c in cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            raise TypeError(
                f"{where}: stats/cluster column '{c}' must have an integral "
                f"type, got {dt.simpleString()} — float min/max would be "
                "truncated toward zero and the manifest would wrongly prune"
            )


def _zorder_expr(a, b, bits: int = 16):
    """JVM-side Morton interleave of two non-negative integer columns
    (bit b of each lands at 2b / 2b+1): pure shift/and/add expressions,
    whole-stage codegen, no UDF. ``bits`` per dimension (values must fit;
    16 covers tile grids up to res 16)."""
    from pyspark.sql import functions as F

    a, b_ = a.cast("long"), b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(b_, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def compact_table(
    table: "SnapshotTable",
    spark,
    target_files: int = 8,
    stats_col: str | None = None,
    zorder_cols: tuple[str, str] | None = None,
    summary: dict | None = None,
    curve: str = "zorder",
) -> dict:
    """Rewrite the table's live files into ``target_files`` larger ones as
    one replace commit — the Iceberg ``rewrite_data_files`` maintenance
    op. At 100 TB streaming/batched commits leave thousands of small
    files per partition; scan task count and manifest size both degrade
    until a compaction pass folds them. Content is unchanged (tested
    order-insensitively); old files stay on disk for time travel until
    ``expire_snapshots``.

    Clustering: with ``stats_col`` the rewrite range-clusters on that
    column so its per-file min/max stats get TIGHTER and ``read_range``
    prunes better than before. With ``zorder_cols`` (two non-negative
    integer columns) the rewrite sorts by their Morton interleave —
    Z-ORDER clustering — so pruning improves on BOTH dimensions at once
    (a single-column range cluster makes the other dimension's stats
    useless); stats are recorded for both. The interleave is a pure
    shift/and expression — codegen, no UDF. ``curve="hilbert"`` sorts by
    the Hilbert key instead (operators/spatial.py ``with_hilbert``):
    every range-partitioned file then holds a CONTIGUOUS curve interval,
    and Hilbert intervals are always edge-connected 2-D regions — no
    Z-seam jumps — so per-file min/max boxes are tighter and bbox scans
    prune strictly more files (asserted in tests).

    Distributed: one executor-side parquet write per output partition
    (``mapInArrow``: the partition's Arrow batches go into a single file
    with no pandas round trip, so columns keep Spark's types — a nullable
    long stays int64); only manifest bookkeeping is driver-side. The
    replace commit records the rewritten frame's schema, so reads of the
    compacted table run no schema-inference job.

    Like any overwrite, the replace commit resets ``committed_partitions``
    to the compaction's own (synthetic) partition ids — resume bookkeeping
    for a PRIOR interrupted ingest does not survive compaction, so compact
    only completed tables (the standard maintenance-window contract)."""
    from pyspark.sql import functions as F

    df = table.read(spark)
    stats_cols: list[str] = [stats_col] if stats_col else []
    drop_cols: list[str] = []
    if zorder_cols is not None:
        za, zb = zorder_cols
        stats_cols += [c for c in (za, zb) if c not in stats_cols]
    _require_integral_cols(df, stats_cols, "compact_table")
    if curve not in ("zorder", "hilbert"):
        raise ValueError(f"curve must be 'zorder' or 'hilbert', got {curve!r}")
    if zorder_cols is not None:
        za, zb = zorder_cols
        if curve == "hilbert":
            from ..operators.spatial import with_hilbert

            keyed = with_hilbert(df, res=16, x_col=za, y_col=zb, out="__z")
        else:
            keyed = df.withColumn("__z", _zorder_expr(F.col(za), F.col(zb)))
        part = keyed.repartitionByRange(target_files, F.col("__z")).sortWithinPartitions(
            "__z"
        )
        drop_cols = ["__z"]
    elif stats_col is not None:
        part = df.repartitionByRange(target_files, F.col(stats_col))
    else:
        part = df.repartition(target_files)
    data_dir = table.data_dir

    def _rewrite(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pqw
        import time as _t
        import uuid as _u

        t0 = _t.time()
        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks).drop_columns(drop_cols)
        fn = f"compact-{_u.uuid4().hex}.parquet"
        pqw.write_table(tbl, os.path.join(data_dir, fn), row_group_size=8192)
        stats = {}
        for c in stats_cols:
            mm = pc.min_max(tbl.column(c)).as_py()
            if mm["min"] is not None:
                stats[c] = [mm["min"], mm["max"]]
        yield pa.RecordBatch.from_pydict(
            {
                "file": [fn],
                "rows": [tbl.num_rows],
                "duration_ms": [int((_t.time() - t0) * 1000)],
                "stats_json": [json.dumps(stats)],
            }
        )

    manifest = part.mapInArrow(
        _rewrite, schema="file string, rows long, duration_ms long, stats_json string"
    )
    recs = [r.asDict() for r in manifest.collect()]
    lineage = []
    for i, r in enumerate(recs):
        rec = {
            "partition_id": i,
            "rows": r["rows"],
            "duration_ms": r["duration_ms"],
            "file": r["file"],
        }
        stats = json.loads(r["stats_json"])
        if stats:
            rec["stats"] = stats
        lineage.append(rec)
    s = dict(summary or {})
    s.setdefault("comment", "compaction")
    return table.commit(
        files=[r["file"] for r in recs],
        lineage=lineage,
        summary=s,
        operation="overwrite",
        schema=df.schema.json(),
    )


def write_partitioned(
    df,
    table: SnapshotTable,
    partition_col: str,
    summary: dict | None = None,
    batch_partitions: int = 0,
    skip_partitions: set[int] | None = None,
    stats_col: str | None = None,
) -> list[dict]:
    """Write a DataFrame as snapshot commits batched by partition groups.

    Mirrors reference changeset batching: ``batch_partitions`` partitions
    per snapshot (0 = all in one), `` (part N)`` comment suffix, resumable
    via ``skip_partitions`` (from ``table.committed_partitions()``).

    ``stats_col`` (an integer column, e.g. the tile key) records per-file
    min/max in the manifest lineage so ``read_range`` can prune files
    without touching them — the Iceberg manifest-stats model.

    The write itself is distributed (one pass, hash-partitioned by
    ``partition_col``); only manifest bookkeeping is driver-side. Each
    group's Arrow table goes straight to parquet (``applyInArrow``: no
    pandas round trip), so file columns keep Spark's Arrow types, and
    every commit records ``df.schema`` as its ``"schema"`` for reads.

    Width: the groups are hash-repartitioned to ``kernel_width`` (max of
    defaultParallelism and shuffle partitions) before the grouped write.
    The count is explicit because AQE sizes an unfixed exchange by shuffle
    bytes, and a few-KB exchange feeding one parquet write per group would
    be coalesced onto one task that writes every file serially; a
    fixed-count exchange is never coalesced, and it already clusters by
    ``__pid``, so the grouped kernel adds no second shuffle.
    """
    from pyspark.sql import functions as F

    from ..operators.spread import kernel_width

    skip = skip_partitions or set()
    if stats_col is not None:
        _require_integral_cols(df, [stats_col], "write_partitioned")
    data_dir = table.data_dir

    def _write_group(tbl):
        # executor-side: one parquet file per __pid group
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pqw
        import time as _t
        import uuid as _u

        t0 = _t.time()
        schema = pa.schema(
            [("partition_id", pa.int64()), ("file", pa.string()), ("rows", pa.int64()),
             ("duration_ms", pa.int64()), ("stat_min", pa.int64()), ("stat_max", pa.int64())]
        )
        pid = tbl.column("__pid")[0].as_py()
        if pid in skip:
            return schema.empty_table()
        fn = f"part-{pid:05d}-{_u.uuid4().hex}.parquet"
        pqw.write_table(tbl.drop_columns(["__pid"]), os.path.join(data_dir, fn))
        mm = pc.min_max(tbl.column(stats_col)).as_py() if stats_col else {}
        return pa.table(
            {
                "partition_id": [pid],
                "file": [fn],
                "rows": [tbl.num_rows],
                "duration_ms": [int((_t.time() - t0) * 1000)],
                "stat_min": [mm.get("min")],
                "stat_max": [mm.get("max")],
            },
            schema=schema,
        )

    with_pid = df.withColumn("__pid", F.abs(F.hash(F.col(partition_col))))
    manifest_df = (
        with_pid.repartition(kernel_width(df.sparkSession), "__pid")
        .groupBy("__pid")
        .applyInArrow(
            _write_group,
            schema="partition_id long, file string, rows long, duration_ms long, "
            "stat_min long, stat_max long",
        )
    )
    recs = [r.asDict() for r in manifest_df.collect()]

    schema = df.schema.json()
    snaps = []
    batch = batch_partitions or len(recs) or 1
    for i in range(0, len(recs), batch):
        chunk = recs[i : i + batch]
        s = dict(summary or {})
        if len(recs) > batch:
            s["comment"] = f"{s.get('comment', '')} (part {i // batch + 1})".strip()

        def _lineage(r: dict) -> dict:
            rec = {
                "partition_id": r["partition_id"],
                "rows": r["rows"],
                "duration_ms": r["duration_ms"],
                "file": r["file"],
            }
            if stats_col is not None and r["stat_min"] is not None:
                rec["stats"] = {stats_col: [r["stat_min"], r["stat_max"]]}
            return rec

        snaps.append(
            table.commit(
                files=[r["file"] for r in chunk],
                lineage=[_lineage(r) for r in chunk],
                summary=s,
                schema=schema,
            )
        )
    return snaps
