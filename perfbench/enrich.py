"""``enrich`` workload: the flagship batch job, then closed-loop tile reads.

Each cycle runs one ``plans.pipeline.run_to_snapshot`` pass (tile
assignment -> PIP join -> kNN enrichment -> salted snapshot write) into a
fresh snapshot table, then ``READS_PER_PASS`` seeded tile-range reads
(``SnapshotTable.read_range``) against the table it just committed, one
client, each read waiting for the last. A write-layout change that hurts
manifest pruning therefore shows up as read latency.

Traced mode adds, per pass, a replay of the pipeline's layer calls with
each result materialized inside its own span, writing a second table
whose content hash must equal the untouched pass's; and it times
``imagecodec.decode`` / ``imagecodec.phash64`` in-process over a seeded
sample of the image payloads.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
import oracles
from common import Run, latency_summary

N_IMAGES = 4000
RES = 8
READS_PER_PASS = 24
WARM_READS = 24
N_RANGES = 64
MAX_RANGE_TILES = 4
KNN_K = 5
CODEC_SAMPLE = 200


def _table_pdf(table) -> pd.DataFrame:
    return pd.concat(
        [pq.read_table(f).to_pandas() for f in table.live_files()], ignore_index=True
    )


class Enrich:
    name = "enrich"

    def __init__(self, run: Run):
        self.run = run
        self.passes = 0

    # -- inputs and set-up ------------------------------------------------

    def generate(self) -> None:
        self.synth = inputs.enrich_inputs(self.run.seed, N_IMAGES)

    def _table_path(self, tag: str) -> str:
        return os.path.join(self.run.workdir, f"table-{tag}-{self.passes}")

    def setup(self, spark) -> None:
        from langtoolsosm_spark.plans.pipeline import run_to_snapshot
        from langtoolsosm_spark.sources.snapshots import SnapshotTable

        self.spark = spark
        # warm-up: one untimed pass, a full-table read, WARM_READS range reads
        path = self._table_path("warm")
        run_to_snapshot(spark, self.synth, path, res=RES, resume=False)
        table = SnapshotTable(path)
        t = table.read_range(spark, "tile", 0, 1 << 62).toPandas()
        assert len(t) == N_IMAGES, f"warm-up read returned {len(t)} rows"
        with self.run.untimed():
            full = _table_pdf(table)
            assert len(full) == N_IMAGES == full["image_id"].nunique(), "warm-up table"
            self.hash = oracles.table_hash(full)
            rng = np.random.default_rng(self.run.seed + 17)
            tiles = np.sort(full["tile"].unique())
            self.ranges = []
            for _ in range(N_RANGES):
                a = int(rng.integers(len(tiles)))
                b = min(len(tiles) - 1, a + int(rng.integers(MAX_RANGE_TILES)))
                lo, hi = int(tiles[a]), int(tiles[b])
                n = int(((full["tile"] >= lo) & (full["tile"] <= hi)).sum())
                self.ranges.append((lo, hi, n))
            self.recall = self._knn_recall()
        for lo, hi, n in self.ranges[-WARM_READS:]:
            got = len(table.read_range(spark, "tile", lo, hi).toPandas())
            assert got == n, f"warm-up read of tiles [{lo}, {hi}]: {got} rows, expected {n}"
        if self.run.traced:
            with self.run.untimed():
                self._codec_costs()
        shutil.rmtree(path, ignore_errors=True)

    def _named_features(self):
        from pyspark.sql import functions as F

        feats = self.spark.read.parquet(f"{self.synth}/features.parquet")
        return feats.filter(F.map_contains_key("tags", F.lit("name"))).select(
            "id", F.element_at("tags", F.lit("name")).alias("feature_name"), "lat", "lon"
        )

    def _knn_recall(self) -> float:
        """Recall@5 of ``knn.knn_join`` (the enrichment's neighbour search)
        against a NumPy brute force over the same named features."""
        from langtoolsosm_spark.operators.knn import knn_join

        named = self._named_features()
        pts = self.spark.read.parquet(f"{self.synth}/images.parquet").select(
            "image_id", "lat", "lon"
        )
        got = knn_join(pts, named, k=KNN_K, point_id="image_id", feature_id="id").toPandas()
        exact = oracles.knn_exact(pts.toPandas(), named.select("id", "lat", "lon").toPandas(), KNN_K)
        hits = sum(
            len(set(g["neighbor_id"]) & set(exact[pid]))
            for pid, g in got.groupby("image_id")
        )
        return hits / (KNN_K * len(exact))

    def _codec_costs(self) -> None:
        """Per-image decode and phash cost over a seeded payload sample."""
        from langtoolsosm_spark.functions import imagecodec as ic

        imgs = pq.read_table(f"{self.synth}/images.parquet").to_pandas()
        rng = np.random.default_rng(self.run.seed + 29)
        sample = imgs.iloc[rng.choice(len(imgs), CODEC_SAMPLE, replace=False)]
        dec, ph = [], []
        for _ in range(3):
            t = time.perf_counter()
            pxs = [ic.decode(b, f) for b, f in zip(sample["bytes"], sample["fmt"])]
            dec.append((time.perf_counter() - t) / CODEC_SAMPLE)
            t = time.perf_counter()
            hashes = [ic.phash64(px) for px in pxs]
            ph.append((time.perf_counter() - t) / CODEC_SAMPLE)
        bad = sum(
            px.shape[0] != h or px.shape[1] != w
            for px, w, h in zip(pxs, sample["w"], sample["h"])
        )
        far = sum(ic.phash_hamming(int(a), b) > 8 for a, b in zip(sample["phash"], hashes))
        self.run.info["imagecodec_sample"] = {"images": CODEC_SAMPLE, "bad_shape": bad,
                                             "phash_far": far}
        self.run.info["layer_extra"] = {
            "imagecodec.decode.s_per_image": statistics.median(dec),
            "imagecodec.phash64.s_per_image": statistics.median(ph),
        }
        if bad:
            raise AssertionError(f"imagecodec.decode: {bad} payloads decoded to the wrong shape")

    # -- the closed loop ----------------------------------------------------

    def cycle(self) -> None:
        from langtoolsosm_spark.plans.pipeline import run_to_snapshot
        from langtoolsosm_spark.sources.snapshots import SnapshotTable

        run, tr = self.run, self.run.tracer
        self.passes += 1
        rid = run.next_rid()
        path = self._table_path("pass")
        with run.op("pass") as rec:
            with tr.span("pipeline.run_to_snapshot", rid):
                m = run_to_snapshot(self.spark, self.synth, path, res=RES, resume=False)
        table = SnapshotTable(path)
        if rec["ok"]:
            with run.untimed():
                full = _table_pdf(table)
                if m["rows"] != N_IMAGES or len(full) != N_IMAGES:
                    run.fail(rec, f"committed {m['rows']} rows, read {len(full)}")
                elif full["image_id"].nunique() != N_IMAGES:
                    run.fail(rec, "image_id not unique")
                elif oracles.table_hash(full) != self.hash:
                    run.fail(rec, "content hash differs from the warm-up pass")
                if run.traced:
                    try:
                        self._replay(rid)
                    except Exception as e:  # noqa: BLE001 - counted as a failed check
                        run.fail(rec, f"traced replay: {type(e).__name__}: {e}")
        if rec["ok"]:
            self._reads(table, rid)
        shutil.rmtree(path, ignore_errors=True)

    def _reads(self, table, rid: int) -> None:
        run = self.run
        file_rows = {}
        if run.traced:
            for s in table.snapshots():
                for r in s["lineage"]:
                    if r.get("file"):
                        file_rows[os.path.join(table.data_dir, r["file"])] = r["rows"]
        for _ in range(READS_PER_PASS):
            lo, hi, want = self.ranges[len(run.of_kind("read")) % N_RANGES]
            with run.op("read") as rec:
                with run.tracer.span("snapshots.read_range", rid) as sp:
                    df = table.read_range(self.spark, "tile", lo, hi)
                    sp.called()
                    got = len(df.toPandas())
            if rec["ok"] and got != want:
                run.fail(rec, f"tiles [{lo}, {hi}]: {got} rows, expected {want}")
            if run.traced and rec["ok"]:
                files = table.pruned_files("tile", lo, hi)
                opened = sum(file_rows.get(f, 0) for f in files)
                sp.extra["files_opened"] = float(len(files))
                sp.extra["rows_useful_ratio"] = got / opened if opened else 1.0

    def _replay(self, rid: int) -> None:
        """Replay ``run_to_snapshot``'s layer calls, one span each, with
        every result materialized inside its span; the written table must
        hash equal to the untouched pass's."""
        from pyspark.sql import functions as F

        from langtoolsosm_spark.operators import knn as knn_mod
        from langtoolsosm_spark.operators import pip_join as pip_mod
        from langtoolsosm_spark.operators import tiling
        from langtoolsosm_spark.plans.pipeline import load_synth
        from langtoolsosm_spark.sources.snapshots import SnapshotTable, write_partitioned

        tr, spark = self.run.tracer, self.spark
        held = []

        def pin(df):
            df = df.persist()
            df.count()
            held.append(df)
            return df

        images, polygons, _features, _ = load_synth(spark, self.synth)
        pts = images.select("image_id", "caption", "lat", "lon")
        try:
            with tr.span("tiling.assign_tiles", rid) as sp:
                tiled = tiling.assign_tiles(pts, res=RES)
                sp.called()
                tiled = pin(tiled)
            with tr.span("pip_join.pip_join", rid) as sp:
                owned = pip_mod.pip_join(tiled, polygons, res=RES, unique=True, id_col="image_id")
                sp.called()
                owned = pin(owned)
            polys = polygons.select(
                "polygon_id", F.element_at("tags", F.lit("lang")).alias("lang"),
                F.col("name").alias("polygon_name"),
            )
            owned = owned.join(F.broadcast(polys), "polygon_id", "left")
            named = self._named_features()
            with tr.span("knn.knn_join", rid) as sp:
                nn = knn_mod.knn_join(
                    owned.select("image_id", "lat", "lon"), named, k=1, res=None,
                    point_id="image_id", feature_id="id",
                )
                sp.called()
                nn = pin(nn)
            nn = nn.filter(F.col("rank") == 1).join(
                named.select(F.col("id").alias("neighbor_id"), "feature_name"), "neighbor_id",
            ).select("image_id", F.col("feature_name").alias("nearest_name"))
            owned = owned.join(nn, "image_id", "left")
            df = owned.select(
                "image_id", "caption", "lat", "lon", "tile", "polygon_id",
                "polygon_name", "lang", "nearest_name",
                F.concat_ws(
                    " — ", F.col("caption"),
                    F.when(F.col("nearest_name").isNotNull(),
                           F.concat(F.lit("prop de "), F.col("nearest_name"))),
                ).alias("caption_enriched"),
            )
            with tr.span("tiling.salted_repartition", rid) as sp:
                salted = tiling.salted_repartition(df, "tile", threshold=50_000, buckets=8)
                sp.called()
                salted = pin(salted)
            table = SnapshotTable(self._table_path("replay"))
            with tr.span("snapshots.write_partitioned", rid) as sp:
                snaps = write_partitioned(
                    salted.withColumn(
                        "__part", F.concat_ws("_", F.col("tile"), F.col("salt"))
                    ).drop("salt"),
                    table, "__part",
                    summary={"comment": "flagship tile enrichment",
                             "created_by": "langtoolsosm_spark"},
                    stats_col="tile",
                )
                sp.called()
                sp.extra["files"] = float(sum(len(s["files"]) for s in snaps))
        finally:
            for d in held:
                d.unpersist()
        got = oracles.table_hash(_table_pdf(table))
        shutil.rmtree(table.path, ignore_errors=True)
        if got != self.hash:
            raise AssertionError("table hash differs from run_to_snapshot's")
        self.run.info["replay_hash_ok"] = self.run.info.get("replay_hash_ok", 0) + 1

    # -- metrics --------------------------------------------------------------

    def e2e(self) -> dict:
        passes = [o for o in self.run.of_kind("pass") if o["ok"]]
        reads = self.run.of_kind("read")
        ok_reads = [o["s"] for o in reads if o["ok"]]
        lat = latency_summary([o["s"] for o in reads])
        return {
            "images_per_s": statistics.median(N_IMAGES / o["s"] for o in passes) if passes else 0.0,
            "requests_per_s": len(ok_reads) / sum(o["s"] for o in reads) if reads else 0.0,
            "latency_p50_s": lat["latency_p50_s"],
            "latency_tail_s": lat["latency_tail_s"],
            "recall_at_5": self.recall,
            "_latency": lat,
            "_passes": len(self.run.of_kind("pass")),
            "_pass_s": [round(o["s"], 3) for o in self.run.of_kind("pass")],
            "_read_s": [round(o["s"], 3) for o in reads],
        }
