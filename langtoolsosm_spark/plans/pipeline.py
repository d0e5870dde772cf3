"""Flagship pipeline: the engine's end-to-end slice (SURVEY.md §7.1 M2).

scan images -> cell encode (pure column expr) -> PIP join against admin
polygons (cell prefilter + exact refine) -> unique tile ownership ->
kNN-enrich captions with nearest named features -> per-tile name:LANG
fill (reference fill_empty_name semantics tile-locally) -> snapshot write
with per-partition lineage.

This is the query benched by bench.py (images/sec north-star metric,
BASELINE.json) and smoke-run by __spark_entry__.entry().

Two physical paths, one answer (``flagship``):

* **Narrow path** (at most ``pip_join.NARROW_ROWS`` polygons and, with
  kNN, at most ``knn.BROADCAST_ROWS`` named features, each side's ids
  unique and non-null; one bounded collect per side decides): both small
  sides are broadcast and one ``mapInArrow`` pass over the tiled points
  does the PIP match, the polygon attributes and the nearest name — no
  join, no exchange, no cache. The points stay where the scan put them;
  the small sides are replicated, as adaptive spatial joins do.
* **Join path** (any gate fails): ``pip_join`` -> broadcast join of the
  polygon attributes -> cached owners -> ``knn_join`` -> joins back.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import knn as knn_mod
from ..operators import pip_join as pip_mod
from ..operators import tiling
from ..sources.footers import read_parquet


def load_synth(spark: SparkSession, synth_dir: str):
    """(images, polygons, features, wikidata), schemas from the footers."""
    return tuple(
        read_parquet(spark, f"{synth_dir}/{name}.parquet")[0]
        for name in ("images", "polygons", "features", "wikidata")
    )


def flagship(
    spark: SparkSession,
    synth_dir: str,
    res: int = 8,
    k: int = 1,
    with_knn: bool = True,
    replicate: int = 1,
    cleanup: list | None = None,
) -> DataFrame:
    """Enriched image table: (image_id, caption, lat, lon, tile, polygon_id,
    lang, nearest_name?, caption_enriched).

    Two paths, one answer (module docstring): one bounded collect per
    small side (polygons, and with ``with_knn`` the named features) gates
    :func:`_enrich_narrow`, one ``mapInArrow`` pass; any failed gate runs
    :func:`_enrich_joined`, where duplicated ids multiply rows as joins
    do. Broadcasts and caches taken land in ``cleanup`` for the caller to
    release after its last action (``run_to_snapshot`` does).

    Column pruning note: ``bytes`` is never selected here, so the parquet
    scan reads only the metadata columns (verified via .explain ReadSchema).
    """
    return _flagship(spark, synth_dir, res, k, with_knn, replicate, cleanup)[0]


def _flagship(
    spark, synth_dir, res, k, with_knn, replicate, cleanup
) -> tuple[DataFrame, int | None]:
    """:func:`flagship` and an upper bound on its rows for ``add_salt``:
    the images' footer row count times the replicas when the narrow pass
    ran (it only drops rows), else None (the join path multiplies rows on
    duplicated ids)."""
    # only the three tables used here, schemas from their footers
    (images, n_images), (polygons, _), (features, _) = (
        read_parquet(spark, f"{synth_dir}/{name}.parquet")
        for name in ("images", "polygons", "features")
    )
    # replicas get distinct ids and the same coords, so every result
    # replicates deterministically
    pts = replicate_images(images.select("image_id", "caption", "lat", "lon"), replicate)
    tiled = tiling.assign_tiles(pts, res=res)
    # each small side is collected once (polys None: over the gate), and
    # whichever path runs uses those rows
    polys = pip_mod._collect_small(polygons, pip_mod.NARROW_ROWS, *_polygon_attrs())
    named = feats = None
    if with_knn:
        named = features.filter(F.map_contains_key("tags", F.lit("name"))).select(
            "id", F.element_at("tags", F.lit("name")).alias("feature_name"), "lat", "lon"
        )
        feats = knn_mod._collect_features(named, "id", knn_mod.BROADCAST_ROWS, "feature_name")
    owned = _enrich_narrow(tiled, polygons, named, polys, feats, res, k, cleanup)
    bound = None if owned is None or n_images is None else n_images * max(replicate, 1)
    if owned is None:
        owned = _enrich_joined(tiled, polygons, named, polys, feats, res, k, cleanup)
    if not with_knn:
        owned = owned.withColumn("nearest_name", F.lit(None).cast("string"))

    return owned.select(
        "image_id", "caption", "lat", "lon", "tile", "polygon_id", "polygon_name", "lang",
        "nearest_name",
        F.concat_ws(
            " — ",
            F.col("caption"),
            F.when(
                F.col("nearest_name").isNotNull(),
                F.concat(F.lit("prop de "), F.col("nearest_name")),
            ),
        ).alias("caption_enriched"),
    ), bound


def _unique_ids(ids) -> bool:
    return bool(ids.notna().all()) and ids.is_unique


def _polygon_attrs():
    """The polygon's language rule (which name:LANG applies per tile) and
    its name, as the enrichment attaches them to each owner."""
    return (
        F.element_at("tags", F.lit("lang")).alias("lang"),
        F.col("name").alias("polygon_name"),
    )


def _enrich_narrow(
    tiled: DataFrame,
    polygons: DataFrame,
    named: DataFrame | None,
    polys,
    feats,
    res: int,
    k: int,
    cleanup: list | None,
) -> DataFrame | None:
    """The whole enrichment as one ``mapInArrow`` pass over ``tiled``, or
    None when a gate fails (polygons over ``pip_join.NARROW_ROWS``, named
    features over ``knn.BROADCAST_ROWS``, or either id column with a null
    or a duplicate). ``polys`` and ``feats`` are the sides ``flagship``
    collected (``pip_join._collect_small``, ``knn._collect_features``).

    Both small sides are broadcast together: the ``pip_join`` narrow
    index (cover, rings, and the polygon attributes in polygon-number
    order) and the ``knn_join`` grid index. Per batch,
    ``_narrow_match`` finds each row's smallest containing polygon, the
    matched rows pass through as ``RecordBatch.take``, the polygon columns
    are taken by polygon number, and ``_grid_topk`` finds the rank-1
    feature under the (dist, id) order of ``knn_join`` with the same ``k``
    and grid. Image ids must be unique, as ``pip_join(unique=True)``
    requires. The broadcast lands in ``cleanup``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StringType, StructField, StructType

    if polys is None or not _unique_ids(polys["polygon_id"]):
        return None
    attr_fields = polygons.select(*_polygon_attrs()).schema.fields
    fields = [StructField("polygon_id", StringType())] + attr_fields
    if feats is not None:
        if len(feats) > knn_mod.BROADCAST_ROWS or not _unique_ids(feats["neighbor_id"]):
            return None
        fields.append(StructField("nearest_name", named.schema["feature_name"].dataType))

    cover_res = res + 3
    idx = pip_mod._narrow_index(polys, res, cover_res)
    attrs = idx.pop("attrs")
    cols = [pa.array(idx["pids"], pa.string())] + [
        pa.Array.from_pandas(attrs[f.name], type=to_arrow_type(f.dataType))
        for f in attr_fields
    ]
    grid = names = None
    if feats is not None:
        # ids are unique: sorted by id, the names line up with the grid's fid
        feats = feats.sort_values("neighbor_id", kind="stable")
        names = pa.Array.from_pandas(
            feats["feature_name"], type=to_arrow_type(fields[-1].dataType)
        )
        if len(feats):
            grid = knn_mod._knn_grid(feats, k, "euclid_deg", None)
    bc = tiled.sparkSession.sparkContext.broadcast(
        dict(idx=idx, cols=cols, grid=grid, names=names)
    )
    if cleanup is not None:
        cleanup.append(bc)
    schema = StructType(tiled.schema.fields + fields)

    def run(batches):
        import pyarrow.compute as pc

        v = bc.value
        g = v["grid"]
        for b in batches:
            if b.num_rows == 0:
                continue
            la, ln = (
                pc.cast(b.column(c), pa.float64()).to_numpy(zero_copy_only=False)
                for c in ("lat", "lon")
            )
            rows, poly = pip_mod._narrow_match(la, ln, v["idx"], res, cover_res, True)
            if not len(rows):
                continue
            out = b.take(pa.array(rows))
            extra = [c.take(pa.array(poly)) for c in v["cols"]]
            if g is not None:
                nid, _, _ = knn_mod._grid_topk(la[rows], ln[rows], g, k, "euclid_deg", 1.0)
                extra.append(v["names"].take(pa.array(np.searchsorted(g["fid"], nid[:, 0]))))
            elif v["names"] is not None:  # no named feature at all
                extra.append(pa.nulls(len(rows), v["names"].type))
            yield pa.RecordBatch.from_arrays(
                out.columns + extra, names=out.schema.names + [f.name for f in fields]
            )

    return tiled.mapInArrow(run, schema)


def _enrich_joined(
    tiled: DataFrame,
    polygons: DataFrame,
    named: DataFrame | None,
    polys,
    feats,
    res: int,
    k: int,
    cleanup: list | None,
) -> DataFrame:
    """The enrichment as a chain of operators: ``pip_join``, a broadcast
    join of the polygon attributes, then (with ``named``) ``knn_join`` and
    the joins that bring the nearest name back to each owner. Both
    operators gate on the sides ``flagship`` collected, not a new collect."""
    owned = pip_mod.pip_join(
        tiled, polygons, res=res, unique=True, id_col="image_id", _small=polys
    )
    attrs = polygons.select("polygon_id", *_polygon_attrs())
    owned = owned.join(F.broadcast(attrs), "polygon_id", "left")
    if named is None:
        return owned
    # the kNN loop fires several driver actions over this subtree;
    # cache it once instead of re-running the PIP join per round
    owned = owned.persist()
    if cleanup is not None:
        cleanup.append(owned)
    nn = knn_mod.knn_join(
        owned.select("image_id", "lat", "lon"), named, k=k, res=None,
        point_id="image_id", feature_id="id", _feats=feats,
    ).filter(F.col("rank") == 1)
    nn = nn.join(
        named.select(F.col("id").alias("neighbor_id"), "feature_name"),
        "neighbor_id",
    ).select("image_id", F.col("feature_name").alias("nearest_name"))
    return owned.join(nn, "image_id", "left")


def run_to_snapshot(
    spark: SparkSession,
    synth_dir: str,
    out_path: str,
    res: int = 8,
    with_knn: bool = True,
    resume: bool = True,
    salt_threshold: int = 50_000,
    replicate: int = 1,
    dry_run: bool = False,
) -> dict:
    """Full benched job: flagship plan + hot-cell salt + snapshot
    commit with lineage; returns run metrics. Resumable: committed
    partitions are skipped on restart (BASELINE.json:north_rule).

    ``dry_run=True`` mirrors the reference's ``--dry-run`` flag on every
    command (src/fill_empty_name.py:14,80-81): the full plan is evaluated
    and metrics are returned, but nothing is written — no table directory,
    no data files, no snapshot manifests. All caches and broadcasts taken
    by the run are released either way.
    """
    t0 = time.time()
    cleanup: list = []
    df, max_rows = _flagship(spark, synth_dir, res, 1, with_knn, replicate, cleanup)
    try:
        if dry_run:
            return _metrics(t0, df.count(), [], skipped_partitions=0, dry_run=True)
        # cached only when add_salt's histogram reads the frame before the
        # write does: not under a row bound at or below the threshold (no
        # histogram), nor for dry_run's single count
        if max_rows is None or max_rows > salt_threshold:
            df = df.persist()
            cleanup.append(df)
        snaps, skipped = _salted_write(
            df, out_path, salt_threshold, max_rows, "flagship tile enrichment", resume
        )
        return _metrics(t0, None, snaps, skipped_partitions=skipped)
    finally:
        for d in cleanup:
            d.unpersist() if isinstance(d, DataFrame) else d.destroy()


def _salted_write(df, out_path, salt_threshold, max_rows, comment, resume=False):
    """``df`` salted by tile (``add_salt``: 8 buckets, ``max_rows`` its row
    bound) and committed to the snapshot table at ``out_path``, one file
    set per (tile, salt); returns the snapshots and how many committed
    partitions ``resume`` skipped."""
    from ..sources.snapshots import SnapshotTable, write_partitioned

    # salt only: write_partitioned hash-partitions on the (tile, salt)
    # part key itself, so a (tile, salt) repartition here would be a
    # second shuffle of every row
    salted = tiling.add_salt(df, "tile", salt_threshold, 8, max_rows=max_rows)
    table = SnapshotTable(out_path)
    skip = table.committed_partitions() if resume else set()
    snaps = write_partitioned(
        salted.withColumn("__part", F.concat_ws("_", F.col("tile"), F.col("salt"))).drop("salt"),
        table,
        "__part",
        summary={"comment": comment, "created_by": "langtoolsosm_spark"},
        skip_partitions=skip,
        stats_col="tile",
    )
    return snaps, len(skip)


def _metrics(t0: float, rows: int | None, snaps: list, **extra) -> dict:
    """A run's metrics; ``rows`` None counts the snapshots' rows."""
    wall = time.time() - t0
    if rows is None:
        rows = sum(s["total_rows"] for s in snaps)
    return {
        "rows": rows,
        "wall_sec": wall,
        "rows_per_sec": rows / wall if wall > 0 else 0.0,
        "snapshots": [s["snapshot_id"] for s in snaps],
        **extra,
    }


def replicate_images(images: DataFrame, replicate: int) -> DataFrame:
    """Scale the workload by unioning id-remapped copies (coords and bytes
    identical -> outputs replicate deterministically)."""
    if replicate <= 1:
        return images
    parts = [
        images.withColumn(
            "image_id", F.concat(F.lit(f"r{i}_"), F.col("image_id"))
        )
        for i in range(replicate)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_ingest(
    spark: SparkSession,
    synth_dir: str,
    out_path: str,
    res: int = 8,
    replicate: int = 1,
    salt_threshold: int = 100_000,
    dry_run: bool = False,
) -> dict:
    """The north-star benched job (BASELINE.json "metric": images/sec
    through H3 PIP-join + tile assignment): decode + integrity-verify every
    image (vectorized Arrow kernel over the binary column), assign tiles,
    resolve unique polygon ownership, snapshot-write with lineage.

    Unlike ``run_to_snapshot`` (the richer flagship with kNN caption
    enrichment), this is the compute-dominated ingest path used for the
    N-vs-4N scaling measurement."""
    from ..operators.images import _verify, per_image

    t0 = time.time()
    (images, n_images), (polygons, _) = (
        read_parquet(spark, f"{synth_dir}/{name}.parquet") for name in ("images", "polygons")
    )
    images = replicate_images(images, replicate)

    def decode_verify(px, img_id, caption, lat, lon, w, h, ph):
        return [(img_id, caption, lat, lon, *_verify(px, w, h, ph))]

    decoded = per_image(
        images,
        decode_verify,
        "image_id string, caption string, lat double, lon double, "
        "decode_ok boolean, phash_dist int",
        cols=("image_id", "caption", "lat", "lon", "w", "h", "phash"),
    )
    # observable metrics: the engine's analogue of the reference's
    # n_edits/total_edits counters (src/fill_empty_name.py:54-57) — counted
    # inside the job, no extra pass
    from pyspark.sql import Observation

    obs = Observation("ingest_metrics")
    decoded = decoded.observe(
        obs,
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decode_ok"),
        F.sum((F.col("phash_dist") <= 8).cast("long")).alias("n_phash_ok"),
    )
    tiled = tiling.assign_tiles(decoded, res=res)
    owned = pip_mod.pip_join(tiled, polygons, res=res, unique=True, id_col="image_id")
    if dry_run:
        # --dry-run parity: evaluate the full plan (decode/verify metrics
        # included via the observation) but write nothing
        return _metrics(t0, owned.count(), [], observed=dict(obs.get), dry_run=True)
    # one row per decoded image at most: pip_join(unique=True) keeps one owner each
    max_rows = None if n_images is None else n_images * max(replicate, 1)
    # cached when add_salt's histogram reads the frame before the write
    # does, as in run_to_snapshot: the decode and PIP join then run once
    cached = max_rows is None or max_rows > salt_threshold
    if cached:
        owned = owned.persist()
    try:
        snaps, _ = _salted_write(owned, out_path, salt_threshold, max_rows, "ingest")
    finally:
        if cached:
            owned.unpersist()
    return _metrics(t0, None, snaps, observed=dict(obs.get))
