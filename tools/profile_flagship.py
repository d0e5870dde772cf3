"""Per-stage wall-clock profile of the flagship pipeline at a tier."""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from langtoolsosm_spark.datagen import ensure_dataset
from langtoolsosm_spark.operators import knn as knn_mod
from langtoolsosm_spark.operators import pip_join as pip_mod
from langtoolsosm_spark.operators import tiling
from langtoolsosm_spark.session import get_spark

tier = sys.argv[1] if len(sys.argv) > 1 else "sf0.1"
synth = ensure_dataset(tier)
# default sizing: $SPARK_GRAFT_CPUS, else every CPU of the machine
spark = get_spark("profile")

t = time.time()
def lap(msg):
    global t
    now = time.time()
    print(f"{msg}: {now - t:.1f}s", flush=True)
    t = now

images = spark.read.parquet(f"{synth}/images.parquet")
polygons = spark.read.parquet(f"{synth}/polygons.parquet")
features = spark.read.parquet(f"{synth}/features.parquet")
pts = images.select("image_id", "caption", "lat", "lon")
print("partitions:", pts.rdd.getNumPartitions(), flush=True)
lap("setup")

tiled = tiling.assign_tiles(pts, res=8)
print("tiled rows:", tiled.count(), flush=True)
lap("tile_assign")

cover = pip_mod.polygon_cover(polygons, res=8)
print("cover rows:", cover.count(), flush=True)
lap("polygon_cover")

owned = pip_mod.pip_join(tiled, polygons, res=8, unique=True, id_col="image_id")
print("owned rows:", owned.count(), flush=True)
lap("pip_join_unique")

named = features.filter(F.map_contains_key("tags", F.lit("name"))).select(
    "id", F.element_at("tags", F.lit("name")).alias("feature_name"), "lat", "lon"
)
nn = knn_mod.knn_join(
    owned.select("image_id", "lat", "lon"), named, k=1, res=7,
    point_id="image_id", feature_id="id",
)
print("nn rows:", nn.count(), flush=True)
lap("knn")
