"""Flagship pipeline: the engine's end-to-end slice (SURVEY.md §7.1 M2).

scan images -> cell encode (pure column expr) -> PIP join against admin
polygons (cell prefilter + exact refine) -> unique tile ownership ->
kNN-enrich captions with nearest named features -> per-tile name:LANG
fill (reference fill_empty_name semantics tile-locally) -> snapshot write
with per-partition lineage.

This is the query benched by bench.py (images/sec north-star metric,
BASELINE.json) and smoke-run by __spark_entry__.entry().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import knn as knn_mod
from ..operators import pip_join as pip_mod
from ..operators import tiling


def load_synth(spark: SparkSession, synth_dir: str):
    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    polygons = spark.read.parquet(f"{synth_dir}/polygons.parquet")
    features = spark.read.parquet(f"{synth_dir}/features.parquet")
    wikidata = spark.read.parquet(f"{synth_dir}/wikidata.parquet")
    return images, polygons, features, wikidata


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

    Column pruning note: ``bytes`` is never selected here, so the parquet
    scan reads only the metadata columns (verified via .explain ReadSchema).
    """
    # only the three tables used here: load_synth's wikidata read would
    # cost a schema-inference job per pass for nothing
    images, polygons, features = (
        spark.read.parquet(f"{synth_dir}/{name}.parquet")
        for name in ("images", "polygons", "features")
    )
    pts = images.select("image_id", "caption", "lat", "lon")
    if replicate > 1:
        # scale the measured workload without regenerating data: replicas
        # get distinct ids (same coords — grid/PIP/kNN results replicate
        # deterministically, so outputs stay parallelism-invariant)
        parts = [
            pts.select(
                F.concat(F.lit(f"r{i}_"), F.col("image_id")).alias("image_id"),
                "caption", "lat", "lon",
            )
            for i in range(replicate)
        ]
        pts = parts[0]
        for p_ in parts[1:]:
            pts = pts.unionByName(p_)

    tiled = tiling.assign_tiles(pts, res=res)

    owned = pip_mod.pip_join(
        tiled, polygons, res=res, unique=True, id_col="image_id"
    )
    # attach the polygon's language rule (which name:LANG applies per tile)
    polys = polygons.select(
        "polygon_id", F.element_at("tags", F.lit("lang")).alias("lang"),
        F.col("name").alias("polygon_name"),
    )
    owned = owned.join(F.broadcast(polys), "polygon_id", "left")

    if with_knn:
        # the kNN loop fires several driver actions over this subtree;
        # cache it once instead of re-running the PIP join per round.
        # The handle lands in ``cleanup`` so the caller can unpersist
        # after the final action (run_to_snapshot does).
        owned = owned.persist()
        if cleanup is not None:
            cleanup.append(owned)
        named = features.filter(F.map_contains_key("tags", F.lit("name"))).select(
            "id", F.element_at("tags", F.lit("name")).alias("feature_name"), "lat", "lon"
        )
        nn = knn_mod.knn_join(
            owned.select("image_id", "lat", "lon"), named, k=k, res=None,
            point_id="image_id", feature_id="id",
        ).filter(F.col("rank") == 1)
        nn = nn.join(
            named.select(F.col("id").alias("neighbor_id"), "feature_name"),
            "neighbor_id",
        ).select("image_id", F.col("feature_name").alias("nearest_name"))
        owned = owned.join(nn, "image_id", "left")
    else:
        owned = owned.withColumn("nearest_name", F.lit(None).cast("string"))

    return owned.select(
        "image_id",
        "caption",
        "lat",
        "lon",
        "tile",
        "polygon_id",
        "polygon_name",
        "lang",
        "nearest_name",
        F.concat_ws(
            " — ",
            F.col("caption"),
            F.when(
                F.col("nearest_name").isNotNull(),
                F.concat(F.lit("prop de "), F.col("nearest_name")),
            ),
        ).alias("caption_enriched"),
    )


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
    no data files, no snapshot manifests. All caches taken by the run are
    released either way.
    """
    import time

    from ..sources.snapshots import SnapshotTable, write_partitioned

    t0 = time.time()
    cleanup: list = []
    # persist: the salting histogram and the write job would otherwise each
    # re-evaluate the full enrichment DAG
    df = flagship(
        spark, synth_dir, res=res, with_knn=with_knn, replicate=replicate,
        cleanup=cleanup,
    ).persist()
    cleanup.append(df)
    try:
        if dry_run:
            rows = df.count()
            wall = time.time() - t0
            return {
                "rows": rows,
                "wall_sec": wall,
                "rows_per_sec": rows / wall if wall > 0 else 0.0,
                "snapshots": [],
                "skipped_partitions": 0,
                "dry_run": True,
            }
        # salt only: write_partitioned hash-partitions on the (tile, salt)
        # part key itself, so a (tile, salt) repartition here would be a
        # second shuffle of every row
        salted = tiling.add_salt(df, "tile", threshold=salt_threshold, buckets=8)
        table = SnapshotTable(out_path)
        skip = table.committed_partitions() if resume else set()
        snaps = write_partitioned(
            salted.withColumn(
                "__part", F.concat_ws("_", F.col("tile"), F.col("salt"))
            ).drop("salt"),
            table,
            "__part",
            summary={"comment": "flagship tile enrichment", "created_by": "langtoolsosm_spark"},
            skip_partitions=skip,
            stats_col="tile",
        )
        wall = time.time() - t0
        rows = sum(s["total_rows"] for s in snaps)
        return {
            "rows": rows,
            "wall_sec": wall,
            "rows_per_sec": rows / wall if wall > 0 else 0.0,
            "snapshots": [s["snapshot_id"] for s in snaps],
            "skipped_partitions": len(skip),
        }
    finally:
        for d in cleanup:
            d.unpersist()


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
    import time

    import pandas as pd

    from ..functions import imagecodec as ic
    from ..sources.snapshots import SnapshotTable, write_partitioned

    t0 = time.time()
    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    polygons = spark.read.parquet(f"{synth_dir}/polygons.parquet")
    images = replicate_images(images, replicate)

    def decode_verify(batches):
        for pdf in batches:
            ok = []
            phd = []
            for buf, fmt, w, h, ph in zip(
                pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"], pdf["phash"]
            ):
                px = ic.decode(buf, fmt)
                ok.append(px.shape[0] == h and px.shape[1] == w)
                phd.append(ic.phash_hamming(int(ph), ic.phash64(px)))
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "caption": pdf["caption"],
                    "lat": pdf["lat"],
                    "lon": pdf["lon"],
                    "decode_ok": ok,
                    "phash_dist": phd,
                }
            )

    decoded = images.mapInPandas(
        decode_verify,
        schema="image_id string, caption string, lat double, lon double, "
        "decode_ok boolean, phash_dist int",
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
        rows = owned.count()
        wall = time.time() - t0
        return {
            "rows": rows,
            "wall_sec": wall,
            "rows_per_sec": rows / wall if wall > 0 else 0.0,
            "snapshots": [],
            "observed": dict(obs.get),
            "dry_run": True,
        }
    salted = tiling.add_salt(owned, "tile", threshold=salt_threshold, buckets=8)
    table = SnapshotTable(out_path)
    snaps = write_partitioned(
        salted.withColumn("__part", F.concat_ws("_", F.col("tile"), F.col("salt"))).drop(
            "salt"
        ),
        table,
        "__part",
        summary={"comment": "ingest", "created_by": "langtoolsosm_spark"},
        stats_col="tile",
    )
    wall = time.time() - t0
    rows = sum(s["total_rows"] for s in snaps)
    return {
        "rows": rows,
        "wall_sec": wall,
        "rows_per_sec": rows / wall if wall > 0 else 0.0,
        "snapshots": [s["snapshot_id"] for s in snaps],
        "observed": dict(obs.get),
    }
