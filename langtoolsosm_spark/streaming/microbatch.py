"""Streaming ingest: Structured Streaming sources feeding the same
snapshot/lineage layer as batch (SURVEY.md §2.9).

The reference is strictly batch; its only stream-like behavior is bounded
transactional micro-batching of changesets
(/root/reference/src/fill_empty_name.py:66-79). The engine mirrors that
as (a) deterministic batch-with-checkpoint commits (sources/snapshots.py)
and (b) real Structured Streaming for continuous ingest: files ->
transformations -> ``foreachBatch`` snapshot commits keyed by epoch id, so
replayed epochs after a crash are idempotent (exactly-once sink).

Every ``run_*_once`` driver is one ``drain_once`` call: the driver gives
the streaming plan and the batch-side finish over the sink, and
``drain_once`` opens the source (one file per trigger unless the driver
asks for more), runs the query to completion on a memory sink (or a
parquet sink where the driver keeps state across runs), builds the
result, and drops the memory sink's temp view. The sink's rows then live
only as long as the returned frame, not until the session ends.

Every stateful kernel without a timeout is one ``keyed_fold`` call.
Order-free counters (sums, sketches, monotone reservoirs) fold a key's
micro-batch chunk by chunk; their final state equals the batch operator's
under any arrival order or batching. Ordered walks see a key's
micro-batch as one frame sorted by the full ``(ts, id)``: ``ts`` at
nanoseconds, then the event id, the order the batch operators walk.
They rely on the ORDERED-INGESTION CONTRACT: per key, every micro-batch
starts strictly after the last ``(ts, id)`` of the one before, which
time-split staged files or a log partitioned by the key provide.
``keyed_fold`` keeps that last ``(ts, id)`` at nanosecond resolution
beside the kernel's state, and a batch that breaks the contract raises
an out-of-order ``ValueError`` rather than emit rows the batch operator
would not. ``stream_od_transitions_late`` is the bounded-lateness
alternative: it buffers instead of raising.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..functions.cells import micro_deg, tile_key, tile_key_col
from ..operators.tiling import assign_tiles
from ..sources.footers import read_parquet
from ..sources.snapshots import SnapshotTable


def stream_images(
    spark: SparkSession, images_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over a parquet directory, with the schema the
    batch reader would infer, read from the footers (``read_parquet``)."""
    return (
        spark.readStream.format("parquet")
        .schema(read_parquet(spark, images_dir)[0].schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(images_dir)
    )


def drain_once(
    spark: SparkSession,
    src_dir: str,
    checkpoint: str,
    build,
    mode: str,
    finish,
    out_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Run the streaming plan ``build(stream)`` over every file staged in
    ``src_dir`` (``stream_images``, availableNow, one file per trigger
    unless ``max_files_per_trigger`` says otherwise) in output ``mode``,
    wait for it, and return ``finish(sink)``.

    Without ``out_dir`` the query writes to a memory sink under a fresh
    name; ``finish`` gets that name, builds the result from the sink's
    temp view, and the view is dropped when ``finish`` returns (or the
    query fails). The returned frame keeps the rows it needs; nothing else
    holds them. With ``out_dir`` the query writes a parquet sink there —
    the memory sink cannot recover a checkpoint, the file sink can, so
    repeated runs continue the same state — and ``finish`` gets
    ``out_dir``."""
    writer = (
        build(stream_images(spark, src_dir, max_files_per_trigger))
        .writeStream.outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if out_dir is None:
        sink = f"drain_{uuid.uuid4().hex}"
        writer = writer.format("memory").queryName(sink)
    else:
        sink = out_dir
        writer = writer.format("parquet").option("path", out_dir)
    q = writer.start()
    try:
        q.awaitTermination()
        return finish(sink)
    finally:
        if out_dir is None:
            spark.catalog.dropTempView(sink)


_PD_TYPES = {"long": "int64", "int": "int32", "timestamp": "datetime64[ns]"}


def keyed_fold(
    stream: DataFrame,
    keys: list[str],
    fold,
    out_schema: str,
    state_schema: str,
    order: tuple[str, str] | None = None,
) -> DataFrame:
    """Group ``stream`` by ``keys`` into one ``applyInPandasWithState``
    without a timeout, and per key and trigger call ``fold(key, data,
    state)``, which returns ``(rows, new_state)``. ``state`` is the tuple
    (``state_schema``'s fields) the key's last call returned, or None on
    its first; ``rows`` is anything ``pd.DataFrame(rows, columns=...)``
    takes, in ``out_schema``'s column order. An empty output keeps the
    schema's dtypes.

    With ``order=(ts_col, id_col)`` the kernel is an ordered walk in
    append mode: ``data`` is the key's whole micro-batch as one frame
    sorted by (ts, id), and the ordered-ingestion check of the module
    docstring runs here, against a last (ts ns, id) stored after the
    kernel's own fields. With ``order=None`` it is an order-free counter
    in update mode: ``data`` is the chunk iterator, so a hot key's
    micro-batch is never held whole."""
    fields = [f.split() for f in out_schema.split(",")]
    cols = [name for name, _ in fields]
    empty = {name: _PD_TYPES.get(t, object) for name, t in fields}

    def kernel(key, pdf_iter, state):
        prev = tuple(state.get) if state.exists else None
        if order is None:
            rows, new = fold(key, pdf_iter, prev)
        else:
            chunks = [pdf for pdf in pdf_iter if len(pdf)]
            if not chunks:
                yield pd.DataFrame(columns=cols).astype(empty)
                return
            ts_col, id_col = order
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                [ts_col, id_col], kind="mergesort"
            )
            ts = _ns(pdf[ts_col])
            first = (int(ts[0]), int(pdf[id_col].iloc[0]))
            if prev is not None:
                if first <= (int(prev[-2]), int(prev[-1])):
                    raise ValueError(
                        f"out-of-order micro-batch for {dict(zip(keys, key))}: "
                        f"it starts at (ts ns, id) {first}, not after the last "
                        f"{prev[-2:]} — the ordered-ingestion contract is "
                        "broken, and the walk would diverge from batch"
                    )
                prev = prev[:-2]
            rows, new = fold(key, pdf, prev)
            new = (*new, int(ts[-1]), int(pdf[id_col].iloc[-1]))
        state.update(new)
        out = pd.DataFrame(rows, columns=cols)
        yield out if len(out) else out.astype(empty)

    if order is not None:
        state_schema += ", last_ts long, last_id long"
    return stream.groupBy(*keys).applyInPandasWithState(
        kernel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update" if order is None else "append",
        timeoutConf="NoTimeout",
    )


def _ns(ts: pd.Series) -> np.ndarray:
    """A timestamp column as int64 nanoseconds."""
    return ts.to_numpy("datetime64[ns]").astype(np.int64)


def _carried(state, *cols: np.ndarray) -> tuple[np.ndarray, ...]:
    """Each int64 column behind its value in ``state`` — where the key's
    last micro-batch ended — so consecutive pairs span batches."""
    if state is None:
        return cols
    return tuple(np.concatenate(([np.int64(s)], c)) for s, c in zip(state, cols))


def _micro_xy(pdf: pd.DataFrame, lat: str, lon: str, scale: int):
    """Integer (x, y) positions: floor((lon + 180) * scale) and
    floor((lat + 90) * scale), the batch operators' micro-degree grid."""
    xs = np.floor((pdf[lon].to_numpy() + 180.0) * float(scale)).astype(np.int64)
    ys = np.floor((pdf[lat].to_numpy() + 90.0) * float(scale)).astype(np.int64)
    return xs, ys


def _sums(*terms: tuple[str, ...]):
    """Order-free fold keeping (n, sum of each term) per key, where a term
    is the int64 product of its columns. Sums are associative, so the
    final state equals the batch moments under any arrival order or
    batching. Rows are (*key, n, *sums)."""

    def fold(key, chunks, state):
        acc = [int(v) for v in state] if state else [0] * (1 + len(terms))
        for pdf in chunks:
            acc[0] += len(pdf)
            for i, cols in enumerate(terms, 1):
                acc[i] += int(
                    np.prod([pdf[c].to_numpy(np.int64) for c in cols], axis=0).sum()
                )
        return [(*key, *acc)], tuple(acc)

    return fold


def _latest(view: str, keys: str, by: str, where: str = "TRUE") -> str:
    """SQL subquery over an update-mode sink: per ``keys``, the row with
    the largest ``by`` (comma-separated columns, compared in order). A
    kernel's ``by`` only grows from trigger to trigger, so that row is the
    key's final state."""
    desc = ", ".join(f"{c.strip()} DESC" for c in by.split(","))
    return (
        f"(SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY {keys} "
        f"ORDER BY {desc}) AS latest_rn FROM {view} WHERE {where}) "
        "WHERE latest_rn = 1)"
    )


def stream_tile_counts(stream: DataFrame, res: int = 6) -> DataFrame:
    """Continuous per-tile counts (stateful aggregation, complete mode)."""
    return assign_tiles(stream, res=res).groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_images")
    )


def run_tile_counts_once(
    spark: SparkSession, images_dir: str, checkpoint: str, res: int = 6
) -> DataFrame:
    """Drive the streaming agg to completion on available data (memory
    sink, availableNow trigger) and return the result table. Complete
    mode re-emits the whole state every trigger, so the source takes 4
    files per trigger: one file per trigger gives the same rows but took
    7.2-8.1 s against 2.2-2.7 s on a 12-file sf0.01 directory (local[4],
    4-CPU host)."""
    return drain_once(
        spark, images_dir, checkpoint,
        lambda st: stream_tile_counts(st, res=res), "complete",
        lambda v: spark.sql(f"SELECT tile, n_images FROM {v}"),
        max_files_per_trigger=4,
    )


def stream_windowed_counts(
    stream: DataFrame,
    window_dur: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts (SURVEY.md §2.9 late-data path):
    events later than ``watermark`` behind the observed max event time are
    dropped; windows finalize (append-mode emit) once the watermark passes
    their end. State is bounded by (windows within watermark x keys)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_dur), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            key_col,
            "n",
        )
    )


def run_windowed_counts_once(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    out_dir: str,
    window_dur: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drive the watermarked agg over available files (append mode: only
    windows the watermark has passed are emitted) into a parquet file sink
    — the memory sink can't recover a checkpoint, the file sink can, so
    repeated runs continue the same watermark — and return all rows
    emitted so far."""
    return drain_once(
        spark, events_dir, checkpoint,
        # NTZ parquet timestamps are not a valid event-time column
        lambda st: stream_windowed_counts(
            st.withColumn("ts", F.col("ts").cast("timestamp")), window_dur, watermark
        ),
        "append",
        lambda d: spark.read.schema(
            "win_start timestamp, win_end timestamp, event_type string, n long"
        ).parquet(d),
        out_dir=out_dir,
    )


def stream_dedup_exact(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes its last-seen event time, so state is
    (keys within the watermark horizon), not (all keys ever) — the
    difference between a dedup stream that runs forever at 100 TB/day
    and one that OOMs. Duplicates arriving within the watermark window
    of the first occurrence are dropped; the first row per key wins
    (same keep-first contract as the batch ``dedup_exact`` family)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def run_dedup_exact_once(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    out_dir: str,
    key_cols: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drive the streaming dedup over available files into a parquet sink
    (append mode; checkpoint-recoverable) and return everything emitted
    so far."""
    keys = key_cols or ["user_id", "event_type"]
    return drain_once(
        spark, events_dir, checkpoint,
        lambda st: stream_dedup_exact(
            st.withColumn("ts", F.col("ts").cast("timestamp")), keys, "ts", watermark
        ),
        "append", spark.read.parquet, out_dir=out_dir,
    )


def stream_tile_distinct(stream: DataFrame, res: int = 6, id_col: str = "image_id") -> DataFrame:
    """Custom stateful streaming operator (SURVEY.md §2.9 /
    applyInPandasWithState): per-tile RUNNING approximate-distinct counter
    with BOUNDED state — each tile's state is its 256-byte HLL register
    vector plus a row counter, regardless of how many ids ever stream
    through (an exact running dedup would grow state without bound).

    Registers/rho are computed JVM-side (operators/sketches.py:hll_reg_rho
    — md5 + integer ops, no Python hashing); the stateful kernel only
    merges them with a vectorized ``np.maximum.at``. Emits one update row
    per (tile, trigger): (tile, batch_rows, total_rows, est_milli). The
    register merge is max(), so the final streaming state is IDENTICAL to
    the batch sketch over the union of all micro-batches (tested).
    """
    from ..operators.sketches import M, estimate_from_registers, hll_reg_rho

    reg, rho = hll_reg_rho(id_col)
    keyed = assign_tiles(stream, res=res).select(
        "tile", reg.alias("__reg"), rho.alias("__rho")
    )

    def fold(key, chunks, state):
        regs = np.frombuffer(state[0], np.uint8).copy() if state else np.zeros(M, np.uint8)
        batch_rows = 0
        for pdf in chunks:
            batch_rows += len(pdf)
            np.maximum.at(
                regs,
                pdf["__reg"].to_numpy(dtype=np.int64),
                pdf["__rho"].to_numpy(dtype=np.int64).astype(np.uint8),
            )
        total = (int(state[1]) if state else 0) + batch_rows
        return (
            [(key[0], batch_rows, total, estimate_from_registers(regs))],
            (regs.tobytes(), total),
        )

    return keyed_fold(
        keyed, ["tile"], fold,
        "tile long, batch_rows long, total_rows long, est_milli long",
        "regs binary, total long",
    )


def run_tile_distinct_once(
    spark: SparkSession, images_dir: str, checkpoint: str, res: int = 6
) -> DataFrame:
    """Drive the stateful distinct counter over available data (one file
    per trigger so state actually carries across micro-batches) and return
    the LATEST update per tile."""
    return drain_once(
        spark, images_dir, checkpoint,
        lambda st: stream_tile_distinct(st.select("image_id", "lat", "lon"), res=res),
        "update",
        lambda v: spark.sql(
            f"SELECT tile, total_rows, est_milli FROM {_latest(v, 'tile', 'total_rows')}"
        ),
    )


def stream_sessionize(
    stream: DataFrame,
    gap_sec: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming sessionization with EVENT-TIME TIMEOUT (the stateful
    analogue of the batch sessionize query): per key, events within
    ``gap_sec`` of each other form one session. A session is emitted ONLY
    once the watermark passes (session_end + gap) — before that, even a
    gap-closed session stays in state, because a late-but-within-watermark
    event in a later micro-batch may still fall inside it (emitting early
    would split sessions and diverge from the batch result). State per key
    is the list of not-yet-watermark-safe sessions — bounded by
    (watermark delay / gap) + 1 entries.

    Merging is symmetric: new-batch events are gap-segmented (vectorized
    np.diff), the segments and held sessions are sorted by start, and one
    sweep merges anything within ``gap_sec`` of its predecessor — so late
    events can land inside, before, between, or bridging held sessions and
    the result equals the batch sessionization of the union.

    Emits (key, start_epoch, end_epoch, n_events), one row per session
    whose (end + gap) the watermark has strictly passed.
    """
    ws = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )

    def kernel(key, pdf_iter, state):
        held: list[tuple[int, int, int]] = []
        if state.exists:
            ss, es, ns = state.get
            held = [(int(s), int(e), int(n)) for s, e, n in zip(ss, es, ns)]
        eps = []
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                eps.append(
                    (pdf[ts_col].astype("datetime64[ns]").astype("int64") // 10**9).to_numpy()
                )
        ep = np.sort(np.concatenate(eps)) if eps else np.array([], dtype=np.int64)
        segs: list[tuple[int, int, int]] = []
        if len(ep):
            cuts = np.flatnonzero(np.diff(ep) > gap_sec) + 1
            bounds = np.concatenate(([0], cuts, [len(ep)]))
            segs = [
                (int(ep[a]), int(ep[b - 1]), int(b - a))
                for a, b in zip(bounds[:-1], bounds[1:])
            ]
        merged: list[tuple[int, int, int]] = []
        for s, e, n in sorted(held + segs):
            if merged and s <= merged[-1][1] + gap_sec:
                ls, le, ln = merged[-1]
                merged[-1] = (ls, max(le, e), ln + n)
            else:
                merged.append((s, e, n))
        wm_ms = state.getCurrentWatermarkMs()
        closed = [
            (key[0], s, e, n) for s, e, n in merged if (e + gap_sec) * 1000 < wm_ms
        ]
        keep = [t for t in merged if (t[1] + gap_sec) * 1000 >= wm_ms]
        if keep:
            state.update(
                ([t[0] for t in keep], [t[1] for t in keep], [t[2] for t in keep])
            )
            next_close = min((e + gap_sec) * 1000 for _, e, _ in keep)
            state.setTimeoutTimestamp(max(next_close, wm_ms + 1))
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            closed, columns=[key_col, "start_epoch", "end_epoch", "n_events"]
        )

    return ws.groupBy(key_col).applyInPandasWithState(
        kernel,
        outputStructType=f"{key_col} long, start_epoch long, end_epoch long, n_events long",
        stateStructType="ss array<long>, es array<long>, ns array<long>",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def stream_to_snapshots(
    spark: SparkSession,
    images_dir: str,
    table_path: str,
    checkpoint: str,
    res: int = 8,
) -> SnapshotTable:
    """Streaming ingest -> tile assignment -> snapshot commit per epoch.

    ``foreachBatch`` + epoch-keyed summaries give exactly-once commits:
    on restart from the checkpoint, an already-committed epoch id is
    skipped (idempotent sink), mirroring batch resume semantics.
    """
    from ..sources.snapshots import write_partitioned

    table = SnapshotTable(table_path)

    def commit_batch(df: DataFrame, epoch_id: int) -> None:
        done = {
            s["summary"].get("epoch") for s in table.snapshots()
        }
        if epoch_id in done:
            return
        # executor-side data path: the epoch flows through the same
        # distributed snapshot writer as batch (applyInPandas per tile
        # partition); only manifest bookkeeping touches the driver. The
        # round-1 implementation collected every epoch to the driver with
        # toPandas() — a non-starter for continuous ingest at scale.
        write_partitioned(
            assign_tiles(df, res=res),
            table,
            "tile",
            summary={"comment": "stream ingest", "epoch": int(epoch_id)},
            stats_col="tile",
        )

    q = (
        stream_images(spark, images_dir)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table


def stream_pixel_histogram(
    stream: DataFrame, res: int, tile_px: int = 64,
    lat: str = "lat", lon: str = "lon",
) -> DataFrame:
    """Streaming density raster state: the heatmap pixel histogram
    (operators/heatmap.py) as a stateful aggregation — state is bounded
    by non-empty pixels (<= tiles * tile_px^2), each micro-batch folds
    its points in via the same map-side partials as the batch plan.
    The batch operator works unchanged on a streaming DataFrame, so this
    is the SAME code, not a parallel implementation that could drift."""
    from ..operators.heatmap import pixel_histogram

    return pixel_histogram(stream, res, tile_px, lat, lon)


def run_heatmap_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str,
    res: int, tile_px: int = 64,
) -> DataFrame:
    """Drive the streaming pixel histogram over all staged files
    (availableNow, complete mode) and roll the FINAL state up to the
    per-tile stats the batch ``heatmap_stats`` produces. Chained
    streaming aggregations are unsupported in complete mode, so the
    rollup runs batch-side over the memory sink — the streaming part is
    exactly the stateful histogram a live deployment would run; batch
    parity with ``heatmap_stats`` is the oracle contract."""
    from ..operators.heatmap import tile_rollup

    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_pixel_histogram(st, res=res, tile_px=tile_px), "complete",
        lambda v: tile_rollup(spark.table(v)),
    )


def stream_od_transitions(
    stream: DataFrame,
    res: int = 8,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Stateful streaming OD transition extraction (the streaming half of
    operators/spatial.py ``od_flows``): per entity, state carries the
    last seen tile; each micro-batch's positions — sorted by (ts, id) and
    appended after the carried position — emit one (entity, from_tile,
    to_tile) row per consecutive pair.

    Ordered ingestion: see the module docstring. State is one row per
    entity (no timeout here; a live deployment would add an event-time
    timeout to drop idle entities — eviction semantics identical to the
    sessionize kernel's).

    Tile assignment runs inside the Arrow kernel via the NumPy twin of
    ``tile_key_col`` (bit-identical, property-tested), so the streaming
    and batch paths share the cell math.
    """

    def fold(key, pdf, state):
        # the carried position -> the first new position is a transition too
        (tiles,) = _carried(state, tile_key(pdf[lat].to_numpy(), pdf[lon].to_numpy(), res))
        rows = {
            entity_col: np.repeat(np.int64(key[0]), len(tiles) - 1),
            "from_tile": tiles[:-1].astype(np.int64),
            "to_tile": tiles[1:].astype(np.int64),
        }
        return rows, (int(tiles[-1]),)

    return keyed_fold(
        stream, [entity_col], fold,
        f"{entity_col} long, from_tile long, to_tile long", "l_tile long",
        order=(ts_col, id_col),
    )


def stream_od_transitions_late(
    stream: DataFrame,
    res: int = 8,
    lateness_s: int = 3600,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Bounded-lateness OD transition extraction — the watermark-tolerant
    sibling of ``stream_od_transitions``. That kernel's ordered-ingestion
    contract raises on ANY cross-batch disorder; this one holds events in
    per-entity state until the entity's watermark (``max event time seen
    - lateness_s``) passes them, then emits transitions in EVENT-TIME
    order — so any arrival order within the lateness bound produces
    byte-identical output to the batch ``od_flows``. Only an event BELOW
    the already-passed watermark (disorder beyond the bound) raises; the
    reference's ingestion layer tolerates bounded retries the same way
    (lib/osm_utils.py:52-66).

    Rows with NULL lat/lon are watermark PUNCTUATION (Flink-style): they
    advance the entity's watermark to ``ts - lateness`` without becoming
    positions — the stream's end-of-input flush. Events with
    ``ts < watermark`` are final (later arrivals at exactly the watermark
    stay buffered until it strictly passes them).

    State per entity: the watermark, the last emitted position, and the
    pending buffer — bounded by the entity's event rate x lateness
    window, the same bound Spark's own watermarked aggregations carry.
    """
    lateness_ns = int(lateness_s) * 1_000_000_000
    NEG = np.iinfo(np.int64).min

    def kernel(key, pdf_iter, state):
        if state.exists:
            wm, has_last, lts, leid, ltile, bts, beid, btile = state.get
            buf_ts = np.frombuffer(bts, dtype=np.int64)
            buf_eid = np.frombuffer(beid, dtype=np.int64)
            buf_tile = np.frombuffer(btile, dtype=np.int64)
        else:
            wm, has_last, lts, leid, ltile = NEG, 0, 0, 0, 0
            buf_ts = buf_eid = buf_tile = np.empty(0, dtype=np.int64)
        wm = int(wm)

        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            ts_ns = pdf[ts_col].to_numpy("datetime64[ns]").astype("int64")
            punct = pdf[lat].isna().to_numpy() | pdf[lon].isna().to_numpy()
            real = ~punct
            if real.any():
                r_ts = ts_ns[real]
                if int(r_ts.min()) < wm:
                    raise ValueError(
                        f"event beyond bounded lateness for entity "
                        f"{key[0]}: ts {int(r_ts.min())} is below the "
                        f"passed watermark {wm} (lateness_s={lateness_s})"
                    )
                buf_ts = np.concatenate([buf_ts, r_ts])
                buf_eid = np.concatenate(
                    [buf_eid, pdf.loc[real, id_col].to_numpy(np.int64)]
                )
                buf_tile = np.concatenate(
                    [
                        buf_tile,
                        tile_key(
                            pdf.loc[real, lat].to_numpy(),
                            pdf.loc[real, lon].to_numpy(),
                            res,
                        ),
                    ]
                )
            wm = max(wm, int(ts_ns.max()) - lateness_ns)

        ready = buf_ts < wm
        if ready.any():
            order = np.lexsort((buf_eid[ready], buf_ts[ready]))
            e_ts = buf_ts[ready][order]
            e_eid = buf_eid[ready][order]
            e_tile = buf_tile[ready][order]
            if has_last:
                from_tiles = np.concatenate(([np.int64(ltile)], e_tile[:-1]))
                to_tiles = e_tile
            else:
                from_tiles = e_tile[:-1]
                to_tiles = e_tile[1:]
            has_last, lts, leid, ltile = (
                1, int(e_ts[-1]), int(e_eid[-1]), int(e_tile[-1]),
            )
            keep = ~ready
            buf_ts, buf_eid, buf_tile = buf_ts[keep], buf_eid[keep], buf_tile[keep]
            out = pd.DataFrame(
                {
                    entity_col: np.repeat(np.int64(key[0]), len(to_tiles)),
                    "from_tile": from_tiles.astype(np.int64),
                    "to_tile": to_tiles.astype(np.int64),
                }
            )
        else:
            out = pd.DataFrame(
                columns=[entity_col, "from_tile", "to_tile"]
            ).astype(
                {entity_col: "int64", "from_tile": "int64", "to_tile": "int64"}
            )
        state.update(
            (
                int(wm), int(has_last), int(lts), int(leid), int(ltile),
                buf_ts.tobytes(), buf_eid.tobytes(), buf_tile.tobytes(),
            )
        )
        yield out

    return stream.groupBy(entity_col).applyInPandasWithState(
        kernel,
        outputStructType=f"{entity_col} long, from_tile long, to_tile long",
        stateStructType=(
            "wm long, has_last int, lts long, leid long, ltile long, "
            "bts binary, beid binary, btile binary"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_od_late_stream_once(
    spark: SparkSession, events_dir: str, checkpoint: str,
    res: int = 8, lateness_s: int = 3600,
) -> DataFrame:
    """Drive the bounded-lateness OD extractor over all staged files
    (availableNow, one file per trigger) and roll the emitted
    transitions up to the batch ``od_flows`` shape — same downstream
    rollup rationale as ``run_od_stream_once``."""
    return drain_once(
        spark, events_dir, checkpoint,
        lambda st: stream_od_transitions_late(st, res=res, lateness_s=lateness_s),
        "append", lambda v: _od_rollup(spark.table(v)),
    )


def _od_rollup(transitions: DataFrame) -> DataFrame:
    """(entity, from_tile, to_tile) transitions -> the batch ``od_flows``
    shape (from_tile, to_tile, n_trips, n_entities); the entity is the
    first column, whatever its name."""
    return transitions.groupBy("from_tile", "to_tile").agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.countDistinct(transitions.columns[0]).alias("n_entities"),
    )


def run_od_stream_once(
    spark: SparkSession, events_dir: str, checkpoint: str, res: int = 8
) -> DataFrame:
    """Drive the streaming OD extractor over all staged files
    (availableNow) and roll the emitted transitions up to the batch
    ``od_flows`` shape (from_tile, to_tile, n_trips, n_entities). The
    rollup runs batch-side over the memory sink — chaining a streaming
    aggregation after a stateful append source would need its own
    output-mode gymnastics and is not what a deployment does (transitions
    land in a log; flows are a downstream rollup)."""
    return drain_once(
        spark, events_dir, checkpoint,
        lambda st: stream_od_transitions(st, res=res), "append",
        lambda v: _od_rollup(spark.table(v)),
    )


def stream_geofence_transitions(
    stream: DataFrame,
    rings: dict[str, "object"],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Streaming geofence enter/exit detection (the live counterpart of
    operators/spatial.py ``geofence_transitions``): ``rings`` is the
    broadcastable polygon dimension {polygon_id: (n, 2) lat/lon ring
    array}; each micro-batch's positions get their zone from the SAME
    ray-cast kernel the batch PIP join refines with
    (functions/geo.points_in_polygon — identical half-open tie-breaks),
    unique ownership = lexicographically smallest containing polygon,
    NULL when outside all. Per-entity state carries the last zone;
    transitions (zone change, or first position inside a zone) emit as
    (entity, ts, id, from_zone, to_zone). Ordered ingestion: see the
    module docstring.

    Scale: the ring dim rides the closure (a few KB per polygon — the
    admin-boundary case that outgrows this would pre-join a cover tile
    dimension stream-static instead); state is one row per entity.
    """
    from ..functions import geo

    pids = sorted(rings)
    ring_arrays = [np.asarray(rings[p], dtype=np.float64) for p in pids]

    def zone_of(lats: "np.ndarray", lons: "np.ndarray") -> "np.ndarray":
        out = np.full(len(lats), None, dtype=object)
        # reversed: earlier (smaller) ids overwrite later ones -> min id
        for pid, ring in zip(reversed(pids), reversed(ring_arrays)):
            inside = geo.points_in_polygon(lats, lons, ring)
            out[inside] = pid
        return out

    def fold(key, pdf, state):
        zones = zone_of(pdf[lat].to_numpy(), pdf[lon].to_numpy())
        # no last zone (first batch, or "" = outside all) is NULL, so a
        # first position inside a zone is an entry
        prev = np.concatenate((
            [(state[0] or None) if state else None], zones[:-1]
        ))
        emit = prev != zones
        rows = {
            entity_col: pdf[entity_col].to_numpy()[emit],
            ts_col: pdf[ts_col].to_numpy()[emit],
            id_col: pdf[id_col].to_numpy(np.int64)[emit],
            "from_zone": prev[emit],
            "to_zone": zones[emit],
        }
        return rows, (zones[-1] or "",)

    return keyed_fold(
        stream, [entity_col], fold,
        f"{entity_col} long, {ts_col} timestamp, {id_col} long, "
        "from_zone string, to_zone string",
        "l_zone string",
        order=(ts_col, id_col),
    )


def run_geofence_stream_once(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    rings: dict[str, "object"],
) -> DataFrame:
    """Drive the streaming geofence detector over all staged files
    (availableNow, one file per trigger) and return the emitted
    transition log from the memory sink."""
    return drain_once(
        spark, events_dir, checkpoint,
        lambda st: stream_geofence_transitions(st, rings), "append", spark.table,
    )


def stream_decayed_tiles(
    stream: DataFrame, res: int, anchor_epoch: int, halflife_s: int,
    max_halvings: int = 16, lat: str = "lat", lon: str = "lon", ts: str = "ts",
) -> DataFrame:
    """Streaming recency-decayed raster state: the batch ``decayed_tiles``
    (operators/heatmap.py) unchanged on a streaming frame — the decay
    weight is a per-event column expression against a FIXED anchor, so
    the stateful per-tile sum stays associative-exact and state is
    bounded by occupied tiles. Same code as batch, not a parallel
    implementation that could drift. (A sliding "now" anchor is served
    by rescaling the stored sum by 2^-(delta // halflife) on read — the
    stored state never needs rewriting; out of gate scope.)"""
    from ..operators.heatmap import decayed_tiles

    return decayed_tiles(
        stream, res, anchor_epoch, halflife_s, max_halvings, lat, lon, ts
    )


def run_decayed_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str,
    res: int, anchor_epoch: int, halflife_s: int,
) -> DataFrame:
    """Drive the streaming decayed raster over all staged files
    (availableNow, complete mode, memory sink) and return the final
    state; batch parity with ``decayed_tiles`` is the oracle contract."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_decayed_tiles(
            st, res=res, anchor_epoch=anchor_epoch, halflife_s=halflife_s
        ),
        "complete", spark.table,
    )


def stream_tile_cap(
    stream: DataFrame, res: int, cap: int,
    id_col: str = "point_id", salt: str = "cap0",
) -> DataFrame:
    """Streaming per-tile cap sampling (applyInPandasWithState): each
    tile's state is the ``cap`` smallest (md5-hash, id) pairs seen so
    far — a MONOTONE bounded reservoir. Unlike a random reservoir, the
    hash-rank top-cap is a pure function of the SET of rows seen, so
    the final state equals the batch ``tile_cap_sample`` answer
    regardless of arrival order or batching — that's the parity
    contract the gate checks. State is <= cap (id, hash) pairs per
    tile, ever. Emits one update row per (tile, trigger) carrying the
    current kept ids in rank order plus the running seen count.

    Ids must be integral (the state blob and the ``ids array<long>``
    output serialize int64): batch ``tile_cap_sample`` accepts any
    orderable id, so the narrower streaming contract is validated UP
    FRONT with a clear error instead of a mid-stream kernel crash."""
    from ..operators.sampling import _hash32

    id_type = stream.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"stream_tile_cap: id column {id_col!r} is {id_type}, but the "
            "streaming state/output serialize int64 ids — cast to an "
            "integral type first, or use batch tile_cap_sample (which "
            "accepts any orderable id)"
        )

    keyed = assign_tiles(stream, res=res).select(
        "tile",
        F.col(id_col).alias("__id"),
        _hash32(F.col(id_col), salt).alias("__h"),
    )

    def fold(key, chunks, state):
        if state:
            ids, hs = np.frombuffer(state[0], np.int64), np.frombuffer(state[1], np.int64)
        else:
            ids = hs = np.empty(0, dtype=np.int64)
        n_seen = int(state[2]) if state else 0
        for pdf in chunks:
            n_seen += len(pdf)
            ids = np.concatenate([ids, pdf["__id"].to_numpy(dtype=np.int64)])
            hs = np.concatenate([hs, pdf["__h"].to_numpy(dtype=np.int64)])
            top = np.lexsort((ids, hs))[:cap]
            ids, hs = ids[top], hs[top]
        return [(key[0], ids.tolist(), n_seen)], (ids.tobytes(), hs.tobytes(), n_seen)

    return keyed_fold(
        keyed, ["tile"], fold,
        "tile long, ids array<long>, n_seen long", "ids_b binary, hs_b binary, n long",
    )


def run_tile_cap_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str,
    res: int, cap: int,
) -> DataFrame:
    """Drive the streaming cap reservoir over all staged files (one per
    trigger) and flatten each tile's FINAL state to (point_id, tile,
    rk) — the exact schema and values of batch ``tile_cap_sample``."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_tile_cap(st, res=res, cap=cap), "update",
        lambda v: spark.sql(
            f"""
            SELECT point_id, tile, CAST(pos + 1 AS INT) AS rk
            FROM {_latest(v, "tile", "n_seen")} latest
            LATERAL VIEW posexplode(ids) t AS pos, point_id
            """
        ),
    )


def stream_tile_first_seen(
    stream: DataFrame, res: int, ts_col: str = "ts",
    lat: str = "lat", lon: str = "lon",
) -> DataFrame:
    """Streaming coverage-novelty state (applyInPandasWithState): per
    tile, the running (first_day, distinct active days, event count).
    min / set-union / count are order-free, so the final state equals
    batch ``tile_first_seen`` under ANY arrival order or batching — no
    ordered-ingestion contract needed (the strongest parity class, like
    stream_tile_cap's monotone reservoir). State per tile is the sorted
    unique day array — bounded by the calendar, not the event rate.
    Emits one update row per (tile, trigger)."""
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    keyed = assign_tiles(stream, res=res, lat=lat, lon=lon).select(
        "tile", day.alias("__day")
    )

    def fold(key, chunks, state):
        days = np.frombuffer(state[0], np.int64) if state else np.empty(0, np.int64)
        n_events = int(state[1]) if state else 0
        for pdf in chunks:
            n_events += len(pdf)
            days = np.unique(
                np.concatenate([days, pdf["__day"].to_numpy(np.int64)])
            )
        first_day = int(days[0]) if len(days) else None
        return [(key[0], first_day, len(days), n_events)], (days.tobytes(), n_events)

    return keyed_fold(
        keyed, ["tile"], fold,
        "tile long, first_day long, n_days long, n_events long", "days_b binary, n long",
    )


def run_tile_first_seen_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str, res: int
) -> DataFrame:
    """Drive the streaming first-seen state over all staged files (one
    per trigger) and return each tile's FINAL state — the exact schema
    and values of batch ``tile_first_seen``."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_tile_first_seen(st, res=res), "update",
        lambda v: spark.sql(
            "SELECT tile, first_day, n_days, n_events "
            f"FROM {_latest(v, 'tile', 'n_events, n_days')}"
        ),
    )


def stream_gyration_moments(
    stream: DataFrame,
    entity_col: str = "user_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Streaming radius-of-gyration state: per entity the running
    micro-degree moment sums (n, sx, sy, sxx, syy) — sums are
    associative and commutative, so the final state equals the batch
    moments under ANY arrival order or batching (the strongest parity
    class; no ordering contract). int64 state holds while an entity's
    sxx stays under 2^63 (~4.5e3 years of 1 Hz positions at max
    latitude); the batch operator's DECIMAL path is the overflow-scale
    variant. Emits one update row per (entity, trigger)."""
    keyed = stream.select(
        F.col(entity_col).alias("entity"),
        micro_deg(lat).alias("__x"), micro_deg(lon).alias("__y"),
    )
    return keyed_fold(
        keyed, ["entity"],
        _sums(("__x",), ("__y",), ("__x", "__x"), ("__y", "__y")),
        "entity long, n long, sx long, sy long, sxx long, syy long",
        "n long, sx long, sy long, sxx long, syy long",
    )


def run_gyration_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str
) -> DataFrame:
    """Drive the streaming moments over all staged files and finish each
    entity's FINAL state with the same DECIMAL(38,0) rational-rg^2
    algebra as batch ``radius_of_gyration`` — byte-identical output
    schema and values."""
    return drain_once(
        spark, points_dir, checkpoint,
        stream_gyration_moments, "update",
        lambda v: spark.sql(
            f"""
            SELECT entity, CAST(n AS BIGINT) AS n_events,
                   CAST(CAST(n AS decimal(38,0))
                        * (CAST(sxx AS decimal(38,0)) + CAST(syy AS decimal(38,0)))
                        - CAST(sx AS decimal(38,0)) * CAST(sx AS decimal(38,0))
                        - CAST(sy AS decimal(38,0)) * CAST(sy AS decimal(38,0))
                     AS decimal(38,0)) AS rg2_num,
                   CAST(CAST(n AS decimal(38,0)) * CAST(n AS decimal(38,0))
                     AS decimal(38,0)) AS rg2_den
            FROM {_latest(v, "entity", "n")}
            """
        ),
    )


def stream_staypoints(
    stream: DataFrame,
    dist_micro: int,
    min_stay_s: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """Stateful streaming stay-point detection (the streaming half of
    operators/spatial.py ``staypoints``): per entity, state carries the
    OPEN anchor segment (anchor coords/rn/epoch + last-extended
    position); each micro-batch walks its (ts, id)-sorted positions,
    emits every segment CLOSED in that batch that met ``min_stay_s``
    (closed = 1, exactly once, in the trigger where the radius broke)
    plus one open-segment snapshot row per trigger (closed = 0, ``seen``
    = points processed so far — monotone, so the final snapshot is
    selectable downstream). ``run_staypoints_stream_once`` finishes the
    open segment the way the batch walk finishes its trailing segment.

    Ordered ingestion: see the module docstring — an anchor walk
    replayed out of order is a different walk. The anchor keep/break
    decision is the identical integer-squared compare as batch, so final
    output is byte-equal, not approximately equal.
    """
    if dist_micro < 1:
        raise ValueError(f"dist_micro must be >= 1, got {dist_micro}")
    d2 = dist_micro * dist_micro

    def fold(key, pdf, state):
        xs, ys = _micro_xy(pdf, lat, lon, scale)
        eps = _ns(pdf[ts_col]) // 1_000_000_000
        ax, ay, a_rn, a_ep, l_rn, l_ep, seen = (int(v) for v in state or [0] * 7)
        has_anchor = state is not None
        ent = int(key[0])
        rows = []
        for x, y, ep in zip(xs.tolist(), ys.tolist(), eps.tolist()):
            seen += 1
            if has_anchor and (x - ax) ** 2 + (y - ay) ** 2 <= d2:
                l_rn, l_ep = seen, ep
                continue
            if has_anchor and l_ep - a_ep >= min_stay_s:
                rows.append(
                    (ent, a_rn, l_rn, l_rn - a_rn + 1, a_ep, l_ep, ax, ay, 1, seen)
                )
            ax, ay, a_rn, a_ep, l_rn, l_ep = x, y, seen, ep, seen, ep
            has_anchor = True
        rows.append((ent, a_rn, l_rn, l_rn - a_rn + 1, a_ep, l_ep, ax, ay, 0, seen))
        return rows, (ax, ay, a_rn, a_ep, l_rn, l_ep, seen)

    keyed = stream.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col), F.col(id_col), F.col(lat), F.col(lon),
    )
    return keyed_fold(
        keyed, ["entity"], fold,
        "entity long, start_rn long, end_rn long, n_pts long, start_ep long, "
        "end_ep long, ax long, ay long, closed long, seen long",
        "ax long, ay long, a_rn long, a_ep long, l_rn long, l_ep long, seen long",
        order=(ts_col, id_col),
    )


def run_staypoints_stream_once(
    spark: SparkSession,
    points_dir: str,
    checkpoint: str,
    dist_micro: int,
    min_stay_s: int,
) -> DataFrame:
    """Drive the streaming stay-point kernel over all staged files and
    finish each entity's final OPEN segment exactly as the batch walk
    finishes its trailing segment: the last open-snapshot row (max
    ``seen``) qualifies iff it lasted ``min_stay_s``. Closed rows pass
    through untouched — the union is byte-equal to batch
    ``staypoints``."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_staypoints(st, dist_micro, min_stay_s), "append",
        lambda v: spark.sql(
            f"""
            SELECT entity, start_rn, end_rn, n_pts, start_ep, end_ep, ax, ay
            FROM {v} WHERE closed = 1
            UNION ALL
            SELECT entity, start_rn, end_rn, n_pts, start_ep, end_ep, ax, ay
            FROM {_latest(v, "entity", "seen", where="closed = 0")}
            WHERE end_ep - start_ep >= {min_stay_s}
            """
        ),
    )


def stream_dwell(
    stream: DataFrame,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Stateful streaming dwell segmentation (the streaming half of
    operators/tiling.py ``dwell_time``): per entity, state carries the
    last event's (epoch, tile); every new event CLOSES the previous
    segment and emits (tile, entity, gap) — the segment's start tile
    and exact epoch-second duration — including segments that span
    micro-batch boundaries. ``run_dwell_stream_once`` rolls the
    emitted segments into the batch operator's exact output.

    Tile assignment uses the numpy ``tile_key`` twin of the batch
    ``tile_key_col`` (bit-identical, property-tested), so final output
    is byte-equal to batch, not approximately equal.

    Ordered ingestion: see the module docstring — a dwell segment
    replayed out of order is a different segment."""

    def fold(key, pdf, state):
        eps, tiles = _carried(
            state,
            _ns(pdf[ts_col]) // 1_000_000_000,
            tile_key(pdf[lat].to_numpy(), pdf[lon].to_numpy(), res).astype(np.int64),
        )
        rows = {
            "tile": tiles[:-1],
            "entity": np.repeat(np.int64(key[0]), len(tiles) - 1),
            "gap": np.diff(eps),
        }
        return rows, (int(eps[-1]), int(tiles[-1]))

    keyed = stream.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col), F.col(id_col), F.col(lat), F.col(lon),
    )
    return keyed_fold(
        keyed, ["entity"], fold,
        "tile long, entity long, gap long", "l_ep long, l_tile long",
        order=(ts_col, id_col),
    )


def run_dwell_stream_once(
    spark: SparkSession,
    points_dir: str,
    checkpoint: str,
    res: int,
) -> DataFrame:
    """Drive the streaming dwell kernel over all staged files and roll
    the emitted (tile, entity, gap) segments into exactly the batch
    ``dwell_time`` shape: (tile, total_dwell_s, n_segments,
    n_entities). Every segment is emitted exactly once (when the next
    event closes it), so the rollup is byte-equal to batch."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_dwell(st, res), "append",
        lambda v: spark.sql(
            f"""
            SELECT tile, sum(gap) AS total_dwell_s,
                   count(*) AS n_segments,
                   count(DISTINCT entity) AS n_entities
            FROM {v} GROUP BY tile
            """
        ),
    )


def stream_wait_time(
    stream: DataFrame,
    res: int,
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Stateful streaming inter-arrival tracker (the streaming half of
    operators/tiling.py ``wait_time_hist``): keyed by the res-cell
    (computed with the batch ``tile_key_col`` twin, bit-identical),
    state carries the cell's last (epoch, id); every event emits the
    gap to its predecessor IN THAT CELL — including gaps spanning
    micro-batch boundaries. ``run_wait_time_stream_once`` rolls the
    gaps into the batch operator's exact log2-bucket histogram.

    Ordered ingestion (see the module docstring) is per cell here, which
    globally time-ordered staging implies."""

    def fold(key, pdf, state):
        (eps,) = _carried(state, _ns(pdf[ts_col]) // 1_000_000_000)
        rows = {"tile": np.repeat(np.int64(key[0]), len(eps) - 1), "gap": np.diff(eps)}
        return rows, (int(eps[-1]),)

    keyed = stream.select(
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        F.col(ts_col), F.col(id_col),
    )
    return keyed_fold(
        keyed, ["tile"], fold, "tile long, gap long", "l_ep long",
        order=(ts_col, id_col),
    )


def run_wait_time_stream_once(
    spark: SparkSession,
    points_dir: str,
    checkpoint: str,
    res: int,
) -> DataFrame:
    """Drive the streaming wait-time kernel over all staged files and
    roll the emitted gaps into exactly the batch ``wait_time_hist``
    shape: (bucket, n_gaps, total_gap_s, max_gap_s) with the same
    length(bin(gap)) integer bucketing."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_wait_time(st, res), "append",
        lambda v: spark.sql(
            f"""
            SELECT CAST(length(bin(gap)) AS INT) AS bucket,
                   count(*) AS n_gaps,
                   sum(gap) AS total_gap_s,
                   max(gap) AS max_gap_s
            FROM {v} GROUP BY 1
            """
        ),
    )


def stream_speed_outliers(
    stream: DataFrame,
    vmax_micro: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    scale: int = 1_000_000,
) -> DataFrame:
    """Stateful streaming GPS teleport detector (the streaming half of
    operators/spatial.py ``speed_outliers``): per entity, state carries
    the last event's (epoch, x, y); each event closes a segment and
    emits it iff the exact integer test dist2 > (vmax * dt)^2 flags it
    — Python ints are unbounded so the squared budget needs no decimal
    staging. Emits (entity, start_ep, end_ep, dt_s, dist2) exactly
    once per flagged segment, byte-equal to batch.

    Ordered ingestion: see the module docstring."""
    if vmax_micro < 1:
        raise ValueError(f"vmax_micro must be >= 1, got {vmax_micro}")

    def fold(key, pdf, state):
        walk = _carried(
            state, _ns(pdf[ts_col]) // 1_000_000_000, *_micro_xy(pdf, lat, lon, scale)
        )
        pts = list(zip(*(c.tolist() for c in walk)))
        rows = []
        for (e0, x0, y0), (e1, x1, y1) in zip(pts, pts[1:]):
            dt, d2 = e1 - e0, (x1 - x0) ** 2 + (y1 - y0) ** 2
            if d2 > (vmax_micro * dt) ** 2:
                rows.append((int(key[0]), e0, e1, dt, d2))
        return rows, pts[-1]

    keyed = stream.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col), F.col(id_col), F.col(lat), F.col(lon),
    )
    return keyed_fold(
        keyed, ["entity"], fold,
        "entity long, start_ep long, end_ep long, dt_s long, dist2 long",
        "l_ep long, l_x long, l_y long",
        order=(ts_col, id_col),
    )


def run_speed_stream_once(
    spark: SparkSession,
    points_dir: str,
    checkpoint: str,
    vmax_micro: int,
) -> DataFrame:
    """Drive the streaming teleport detector over all staged files; the
    emitted rows ARE the batch ``speed_outliers`` output (no rollup
    needed — flagged segments emit exactly once)."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_speed_outliers(st, vmax_micro), "append",
        lambda v: spark.sql(f"SELECT entity, start_ep, end_ep, dt_s, dist2 FROM {v}"),
    )


def stream_cohorts(
    stream: DataFrame,
    period_s: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Stateful streaming cohort tracker (the streaming half of
    operators/tiling.py ``user_cohorts``): per entity, state carries
    (cohort = first active period, last emitted period); because the
    ordered-ingestion contract (module docstring) guarantees per-entity
    event-time order, a NEW active period is exactly an event whose
    period exceeds the last emitted one — each (entity, period) emits
    exactly once with its cohort attached, across micro-batch
    boundaries. ``run_cohorts_stream_once`` rolls the emissions into
    the batch operator's exact retention triangle."""
    if period_s < 1:
        raise ValueError(f"period_s must be >= 1, got {period_s}")

    def fold(key, pdf, state):
        periods = _ns(pdf[ts_col]) // 1_000_000_000 // period_s
        cohort, last_p = state or (int(periods[0]), int(periods[0]) - 1)
        # periods are sorted, so the new ones are the distinct tail
        new = np.unique(periods[periods > last_p]).tolist()
        rows = [(int(key[0]), int(cohort), p) for p in new]
        return rows, (int(cohort), new[-1] if new else int(last_p))

    keyed = stream.select(
        F.col(entity_col).alias("entity"), F.col(ts_col), F.col(id_col)
    )
    return keyed_fold(
        keyed, ["entity"], fold,
        "entity long, cohort long, period long", "cohort long, last_p long",
        order=(ts_col, id_col),
    )


def run_cohorts_stream_once(
    spark: SparkSession,
    points_dir: str,
    checkpoint: str,
    period_s: int,
) -> DataFrame:
    """Drive the streaming cohort tracker over all staged files and
    roll the (entity, cohort, period) emissions into exactly the batch
    ``user_cohorts`` shape: (cohort_period, periods_since, n_active)."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_cohorts(st, period_s), "append",
        lambda v: spark.sql(
            f"""
            SELECT cohort AS cohort_period, period - cohort AS periods_since,
                   count(DISTINCT entity) AS n_active
            FROM {v} GROUP BY 1, 2
            """
        ),
    )


def stream_trip_od(
    stream: DataFrame,
    max_gap_s: int,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Stateful streaming trip-endpoint extractor (the streaming half of
    operators/spatial.py ``trip_od``): per entity, state carries the
    OPEN trip's (origin cell, last cell, last epoch); a gap beyond
    ``max_gap_s`` CLOSES the trip — its (from, to) emits exactly once
    (closed = 1) — and every trigger also emits one open-trip snapshot
    (closed = 0, monotone ``seen``) so ``run_trip_od_stream_once`` can
    finish the final open trip the way batch finishes its trailing
    trip. Cells come from the numpy ``tile_key`` twin (bit-identical to
    batch). Ordered ingestion: see the module docstring."""
    if max_gap_s < 1:
        raise ValueError(f"max_gap_s must be >= 1, got {max_gap_s}")

    def fold(key, pdf, state):
        eps = _ns(pdf[ts_col]) // 1_000_000_000
        tiles = tile_key(pdf[lat].to_numpy(), pdf[lon].to_numpy(), res)
        o_tile, l_tile, l_ep, seen = (int(v) for v in state or [0] * 4)
        has_trip = state is not None
        ent = int(key[0])
        rows = []
        for ep, tile in zip(eps.tolist(), tiles.tolist()):
            seen += 1
            if has_trip and ep - l_ep > max_gap_s:
                rows.append((ent, o_tile, l_tile, 1, seen))
                has_trip = False
            if not has_trip:
                o_tile, has_trip = tile, True
            l_tile, l_ep = tile, ep
        rows.append((ent, o_tile, l_tile, 0, seen))
        return rows, (o_tile, l_tile, l_ep, seen)

    keyed = stream.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col), F.col(id_col), F.col(lat), F.col(lon),
    )
    return keyed_fold(
        keyed, ["entity"], fold,
        "entity long, from_tile long, to_tile long, closed long, seen long",
        "o_tile long, l_tile long, l_ep long, seen long",
        order=(ts_col, id_col),
    )


def run_trip_od_stream_once(
    spark: SparkSession,
    points_dir: str,
    checkpoint: str,
    max_gap_s: int,
    res: int,
) -> DataFrame:
    """Drive the streaming trip extractor over all staged files, finish
    each entity's final OPEN trip (max ``seen`` snapshot), and roll the
    endpoints into exactly the batch ``trip_od`` shape — stationary
    trips excluded."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_trip_od(st, max_gap_s, res), "append",
        lambda v: spark.sql(
            f"""
            WITH trips AS (
              SELECT entity, from_tile, to_tile FROM {v} WHERE closed = 1
              UNION ALL
              SELECT entity, from_tile, to_tile
              FROM {_latest(v, "entity", "seen", where="closed = 0")}
            )
            SELECT from_tile, to_tile, count(*) AS n_trips,
                   count(DISTINCT entity) AS n_entities
            FROM trips WHERE from_tile <> to_tile GROUP BY 1, 2
            """
        ),
    )


def stream_cms_hitters(
    stream: DataFrame, res: int, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    """Streaming count-min sketch + hot-key counts as ONE stateful
    operator (applyInPandasWithState): every event fans into
    CMS_DEPTH counter-cell increments (kind i, bucket) plus one exact
    key increment (kind CMS_DEPTH, tile); each group's state is a
    single additive counter. Addition is commutative and associative,
    so the final states equal batch ``cms_heavy_hitters``'s counter
    table and key histogram under ANY arrival order or batching — the
    strongest parity class (like stream_tile_first_seen). The sketch
    side holds at most CMS_DEPTH * width groups REGARDLESS of event
    rate; the key side is bounded by occupied cells. Emits one running
    (kind, id, n) row per touched group per trigger; heavy-hitter
    extraction happens once over final states via the SAME
    ``cms_score`` back half the batch operator uses."""
    from ..operators.sketches import CMS_DEPTH, CMS_SALTS, CMS_WIDTH, cms_bucket

    key = F.col("tile")
    fan = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("kind"),
                    cms_bucket(key, CMS_SALTS[i], CMS_WIDTH).alias("id"),
                )
                for i in range(CMS_DEPTH)
            ],
            F.struct(F.lit(CMS_DEPTH).alias("kind"), key.alias("id")),
        )
    ).alias("g")
    keyed = (
        assign_tiles(stream, res=res, lat=lat, lon=lon)
        .select(fan)
        .select("g.kind", "g.id")
    )

    return keyed_fold(
        keyed, ["kind", "id"], _sums(), "kind int, id long, n long", "n long"
    )


def run_cms_stream_once(
    spark: SparkSession,
    points_dir: str,
    checkpoint: str,
    res: int,
    mass_denom: int = 256,
) -> DataFrame:
    """Drive the streaming CMS over all staged files (one per trigger),
    take each group's FINAL (monotone) counter, and score heavy hitters
    with the batch operator's own ``cms_score`` — the exact schema and
    values of batch ``cms_heavy_hitters``."""
    from ..operators.sketches import CMS_DEPTH, cms_score

    def finish(v):
        fin = spark.sql(
            f"SELECT kind, id, n FROM {_latest(v, 'kind, id', 'n')}"
        ).localCheckpoint(eager=True)
        exact = fin.filter(F.col("kind") == CMS_DEPTH).select(
            F.col("id").alias("key"), F.col("n").alias("exact_n")
        )
        counters = fin.filter(F.col("kind") < CMS_DEPTH).select(
            F.col("kind").cast("int").alias("row"),
            F.col("id").alias("bucket"),
            F.col("n").alias("c"),
        )
        return cms_score(exact, counters, mass_denom)

    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_cms_hitters(st, res=res), "update", finish,
    )


def stream_line_density(
    stream: DataFrame,
    res: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Stateful streaming segment rasterizer (the streaming half of
    operators/spatial.py ``line_density``): per entity, state carries
    the LAST ping's (cell, epoch, event id); each new ping closes a
    segment and emits that segment's integer-interpolated cells exactly
    once, already per-segment deduped — the same
    ((x0*(s-i) + x1*i) div s) walk as batch, via the numpy
    ``tile_key`` twin. No trailing state to flush: a segment closes
    the moment its end ping arrives. Ordered ingestion: see the module
    docstring."""
    n = 1 << res

    def fold(key, pdf, state):
        (tiles,) = _carried(
            state, tile_key(pdf[lat].to_numpy(), pdf[lon].to_numpy(), res).astype(np.int64)
        )
        ent = int(key[0])
        rows = []
        for prev, t in zip(tiles[:-1].tolist(), tiles[1:].tolist()):
            x0, y0 = prev // n, prev % n
            x1, y1 = t // n, t % n
            s = max(abs(x1 - x0), abs(y1 - y0))
            if s == 0:
                cells = [prev]
            else:
                ii = np.arange(s + 1, dtype=np.int64)
                cx = (x0 * (s - ii) + x1 * ii) // s
                cy = (y0 * (s - ii) + y1 * ii) // s
                cells = np.unique(cx * n + cy).tolist()
            rows.extend((ent, int(c)) for c in cells)
        return rows, (int(tiles[-1]),)

    keyed = stream.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col), F.col(id_col), F.col(lat), F.col(lon),
    )
    return keyed_fold(
        keyed, ["entity"], fold, "entity long, tile long", "l_tile long",
        order=(ts_col, id_col),
    )


def run_line_density_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str, res: int
) -> DataFrame:
    """Drive the streaming segment rasterizer over all staged files and
    roll the emitted (segment, cell) rows into exactly the batch
    ``line_density`` shape."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_line_density(st, res=res), "append",
        lambda v: spark.sql(
            f"""
            SELECT tile, CAST(count(*) AS BIGINT) AS n_segments,
                   CAST(count(DISTINCT entity) AS BIGINT) AS n_entities
            FROM {v} GROUP BY 1
            """
        ),
    )


def stream_tile_trend(
    stream: DataFrame,
    res: int,
    value_col: str = "value",
    ts_col: str = "ts",
    q_scale: int = 1000,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Streaming per-cell TREND state: the five OLS moment sums of batch
    ``tile_trend`` — (n, st, sy, sty, stt) over t = epoch day and
    y = round(value * q_scale) — kept per tile. The sums are associative
    and commutative, so the final state equals the batch moments under
    ANY arrival order or batching (the order-free parity class of
    ``stream_gyration_moments``; no ordering contract). int64 holds by
    the same bound as batch (day ~ 2e4, |y| <= ~1e6, per-cell n <= ~1e6
    keeps every term under 2^63). Emits one update row per
    (tile, trigger)."""
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    yq = F.round(F.col(value_col).cast("double") * q_scale).cast("long")
    keyed = stream.select(
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        day.alias("__t"),
        yq.alias("__y"),
    )
    return keyed_fold(
        keyed, ["tile"],
        _sums(("__t",), ("__y",), ("__t", "__y"), ("__t", "__t")),
        "tile long, n long, st long, sy long, sty long, stt long",
        "n long, st long, sy long, sty long, stt long",
    )


def run_tile_trend_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str, res: int
) -> DataFrame:
    """Drive the streaming trend moments over all staged files and finish
    each tile's FINAL state with the same rational-slope algebra as batch
    ``tile_trend`` — byte-identical output schema and values."""
    return drain_once(
        spark, points_dir, checkpoint,
        lambda st: stream_tile_trend(st, res=res), "update",
        lambda v: spark.sql(
            f"""
            SELECT tile, CAST(n AS BIGINT) AS n_events, CAST(st AS BIGINT) AS sum_t,
                   CAST(sy AS BIGINT) AS sum_y,
                   CAST(n * sty - st * sy AS BIGINT) AS slope_num,
                   CAST(n * stt - st * st AS BIGINT) AS slope_den
            FROM {_latest(v, "tile", "n")}
            """
        ),
    )


def stream_centroid_moments(
    stream: DataFrame,
    ts_col: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Streaming daily activity-center state: per epoch-day the running
    (n, sum_x, sum_y) micro-degree moments — order-free sums (the
    strongest parity class), so the final per-day state equals the
    batch daily rollup of ``centroid_drift`` under ANY arrival order.
    Emits one update row per (day, trigger)."""
    keyed = stream.select(
        F.expr(f"div(unix_timestamp({ts_col}), 86400)").alias("day"),
        micro_deg(lat).alias("__x"),
        micro_deg(lon).alias("__y"),
    )
    return keyed_fold(
        keyed, ["day"], _sums(("__x",), ("__y",)),
        "day long, n long, sx long, sy long", "n long, sx long, sy long",
    )


def run_centroid_drift_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str
) -> DataFrame:
    """Drive the streaming daily moments over all staged files and
    finish with the batch ``centroid_drift`` lag algebra — byte-identical
    output schema and values."""
    return drain_once(
        spark, points_dir, checkpoint,
        stream_centroid_moments, "update",
        lambda v: spark.sql(
            f"""
            WITH daily AS (SELECT day, n, sx, sy FROM {_latest(v, "day", "n")}),
            lagged AS (
              SELECT day, n, sx, sy,
                     lag(n) OVER (ORDER BY day) AS pn,
                     lag(sx) OVER (ORDER BY day) AS px,
                     lag(sy) OVER (ORDER BY day) AS py
              FROM daily
            )
            SELECT day, CAST(n AS BIGINT) AS n_events,
                   CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
                   CAST(sx * pn - px * n AS BIGINT) AS dx_num,
                   CAST(sy * pn - py * n AS BIGINT) AS dy_num,
                   CAST(n * pn AS BIGINT) AS drift_den
            FROM lagged
            """
        ),
    )


def stream_hour_type_counts(
    stream: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming (hour-of-day x event-type) contingency state: running
    counts per cell — order-free sums keyed by (hour, etype), so the
    final state equals the batch contingency under ANY arrival order.
    Emits one update row per (cell, trigger)."""
    keyed = stream.select(
        F.expr(f"(unix_timestamp({ts_col}) % 86400) div 3600").alias("hour"),
        F.col(type_col).alias("etype"),
    )
    return keyed_fold(
        keyed, ["hour", "etype"], _sums(), "hour long, etype string, obs long", "n long"
    )


def run_hour_type_stream_once(
    spark: SparkSession, points_dir: str, checkpoint: str
) -> DataFrame:
    """Drive the streaming contingency over all staged files and finish
    with the batch ``hour_type_mix`` marginal/residual algebra —
    byte-identical output schema and values."""
    return drain_once(
        spark, points_dir, checkpoint,
        stream_hour_type_counts, "update",
        lambda v: spark.sql(
            f"""
            WITH obs AS (SELECT hour, etype, obs FROM {_latest(v, "hour, etype", "obs")}),
            mh AS (SELECT hour, sum(obs) AS n_hour FROM obs GROUP BY 1),
            mt AS (SELECT etype, sum(obs) AS n_type FROM obs GROUP BY 1),
            tot AS (SELECT sum(obs) AS n_total FROM obs)
            SELECT o.hour, o.etype, CAST(o.obs AS BIGINT) AS obs,
                   CAST(mh.n_hour AS BIGINT) AS n_hour,
                   CAST(mt.n_type AS BIGINT) AS n_type,
                   CAST(o.obs * t.n_total - mh.n_hour * mt.n_type AS BIGINT)
                     AS res_num,
                   CAST(t.n_total AS BIGINT) AS res_den
            FROM obs o
            JOIN mh ON mh.hour = o.hour
            JOIN mt ON mt.etype = o.etype
            CROSS JOIN tot t
            """
        ),
    )
