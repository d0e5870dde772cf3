"""Seeded benchmark inputs, cached by (kind, seed, size) under .cache/.

Images, features, polygons and embeddings come from the program's own
public ``datagen.synth_*`` generators at the benchmark's seed (so the 20%
hot urban cell is kept); trajectories come from ``synth_trajectories``
below. Nothing is written outside this directory.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

_STR = pa.string()
_TAGS = pa.map_(pa.string(), pa.string())
SCHEMAS = {
    "images": pa.schema([
        ("image_id", _STR), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", _STR), ("caption", _STR),
        ("phash", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64()),
    ]),
    "polygons": pa.schema([
        ("polygon_id", _STR), ("name", _STR), ("tags", _TAGS),
        ("ring", pa.list_(pa.struct([("lat", pa.float64()), ("lon", pa.float64())]))),
    ]),
    "features": pa.schema([
        ("osm_type", _STR), ("id", pa.int64()), ("tags", _TAGS),
        ("lat", pa.float64()), ("lon", pa.float64()), ("version", pa.int32()),
    ]),
    "wikidata": pa.schema([
        ("wikidata", _STR), ("canonical", _STR), ("wikipedia_title", _STR),
        ("label", _STR), ("aliases", pa.list_(_STR)), ("sitelinks", _TAGS),
        ("p31_labels", pa.list_(_STR)),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]),
    "events": pa.schema([
        ("user_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
        ("event_id", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64()),
    ]),
    "pois": pa.schema([
        ("id", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64()),
    ]),
}


def _write(df: pd.DataFrame, kind: str, path: str) -> None:
    table = pa.Table.from_pandas(df, schema=SCHEMAS[kind], preserve_index=False)
    # several row groups, so Spark scans split across all cores
    pq.write_table(table, path, row_group_size=1024)


def _cached(key: str, build) -> str:
    """Directory for ``key``, built once by ``build(tmp_dir)``."""
    out = os.path.join(CACHE, key)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def enrich_inputs(seed: int, n_images: int) -> str:
    """The flagship's four input tables, laid out as the pipeline's
    ``load_synth`` reads them."""
    from langtoolsosm_spark import datagen

    def build(d):
        _write(datagen.synth_images(n_images, seed=seed), "images", f"{d}/images.parquet")
        _write(datagen.synth_polygons(), "polygons", f"{d}/polygons.parquet")
        _write(datagen.synth_features(max(500, n_images // 20), seed=seed),
               "features", f"{d}/features.parquet")
        _write(datagen.synth_wikidata(seed=seed), "wikidata", f"{d}/wikidata.parquet")

    return _cached(f"enrich-s{seed}-n{n_images}", build)


def synth_trajectories(
    seed: int,
    n_events: int,
    n_users: int,
    n_days: int,
    hot_share: float,
    n_pois: int,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Multi-day user trajectories and points of interest.

    Each user wanders around a home point (0.3 deg sigma); a
    ``hot_share`` of all events lands in the datagen hot cluster, the
    dense cell where co-visits, Knox pairs and radius-join fan-out pile
    up. Timestamps are whole seconds over ``n_days`` days. POIs take the
    same hot share."""
    from langtoolsosm_spark.datagen import HOT, REGION

    rng = np.random.default_rng(seed + 1009)
    user = rng.integers(0, n_users, n_events)
    home_lat = rng.uniform(REGION["lat0"] + 0.5, REGION["lat1"] - 0.5, n_users)
    home_lon = rng.uniform(REGION["lon0"] + 0.5, REGION["lon1"] - 0.5, n_users)
    hot = rng.random(n_events) < hot_share
    lat = np.where(
        hot, rng.uniform(HOT["lat0"], HOT["lat1"], n_events),
        np.clip(home_lat[user] + rng.normal(0, 0.3, n_events), REGION["lat0"], REGION["lat1"]),
    )
    lon = np.where(
        hot, rng.uniform(HOT["lon0"], HOT["lon1"], n_events),
        np.clip(home_lon[user] + rng.normal(0, 0.3, n_events), REGION["lon0"], REGION["lon1"]),
    )
    t0 = int(pd.Timestamp("2024-03-04", tz="UTC").timestamp())
    secs = t0 + rng.integers(0, n_days * 86400, n_events)
    events = pd.DataFrame({
        "user_id": user.astype(np.int64),
        "ts": pd.to_datetime(secs, unit="s", utc=True),
        "event_id": np.arange(n_events, dtype=np.int64),
        "lat": lat,
        "lon": lon,
    })
    phot = rng.random(n_pois) < hot_share
    pois = pd.DataFrame({
        "id": np.arange(1_000_000, 1_000_000 + n_pois, dtype=np.int64),
        "lat": np.where(phot, rng.uniform(HOT["lat0"], HOT["lat1"], n_pois),
                        rng.uniform(REGION["lat0"], REGION["lat1"], n_pois)),
        "lon": np.where(phot, rng.uniform(HOT["lon0"], HOT["lon1"], n_pois),
                        rng.uniform(REGION["lon0"], REGION["lon1"], n_pois)),
    })
    return events, pois


def ann_mobility_inputs(seed: int, n_vectors: int, n_events: int, **traj) -> str:
    """Clustered embeddings plus trajectories and POIs."""
    from langtoolsosm_spark import datagen

    def build(d):
        _write(datagen.synth_clustered_embeddings(n_vectors, seed=seed),
               "embeddings", f"{d}/embeddings.parquet")
        events, pois = synth_trajectories(seed, n_events, **traj)
        _write(events, "events", f"{d}/events.parquet")
        _write(pois, "pois", f"{d}/pois.parquet")

    return _cached(f"ann_mobility-s{seed}-v{n_vectors}-e{n_events}", build)
