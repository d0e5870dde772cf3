"""Physical-plan assertions: pushdown, pruning, broadcast, codegen
(SURVEY.md §4 — "the plan you'd want, not the first one that passed")."""

from pyspark.sql import functions as F

from langtoolsosm_spark.operators.pip_join import bbox_filter
from langtoolsosm_spark.operators.tiling import assign_tiles
from langtoolsosm_spark.plans import pipeline
from langtoolsosm_spark.plans.pipeline import flagship


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bbox_filter_pushed_to_parquet(spark, synth_dir):
    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    q = bbox_filter(images.select("image_id", "lat", "lon"), 40.0, 0.0, 43.0, 5.0)
    plan = _formatted(q)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(lat,40.0)" in plan


def test_column_pruning_excludes_bytes(spark, synth_dir):
    """The flagship never touches pixels: the scan must not read bytes."""
    df = flagship(spark, synth_dir, res=8, with_knn=False)
    plan = _formatted(df)
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas
    assert not any("bytes" in l for l in read_schemas)


def test_tile_assign_is_codegen_not_udf(spark, synth_dir):
    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    tiled = assign_tiles(images.select("image_id", "lat", "lon"), res=8)
    plan = _plan(tiled)
    # "*(n)" prefixes mark WholeStageCodegen stages in executedPlan toString
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_polygon_dim_joins_are_broadcast(spark, synth_dir, monkeypatch):
    # small dims: the whole enrichment is one MapInArrow, no join at all
    plan = _plan(flagship(spark, synth_dir, res=8, with_knn=False))
    assert plan.count("MapInArrow") == 1
    assert "Join" not in plan and "Exchange" not in plan  # SortMergeJoin too
    # the join path (what a failed narrow gate runs) broadcasts the
    # polygon dims, and the fact-side PIP candidate join must not
    # sort-merge the small cover
    monkeypatch.setattr(pipeline, "_enrich_narrow", lambda *a, **k: None)
    plan = _plan(flagship(spark, synth_dir, res=8, with_knn=False))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0


def _docs(spark):
    import pandas as pd

    rows = [(i, f"src{i % 3}", f"word{i % 5} common a b c token{i}") for i in range(40)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    )


def test_simhash_is_jvm_only(spark):
    """SimHash must stay codegen-eligible: md5 + integer bit arithmetic,
    zero Python eval nodes (the round-1 per-row kernel is banned)."""
    from langtoolsosm_spark.operators.dedup import simhash

    plan = _plan(simhash(_docs(spark)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan


def test_ann_lsh_plan_is_jvm_only_no_cartesian(spark, synth_dir):
    """The ANN path: bucket expressions are column-level (no UDF), and the
    candidate join is keyed (never a cartesian product)."""
    import pandas as pd

    from langtoolsosm_spark.operators.similarity import ann_lsh_topk

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(200),
                "embedding": [
                    [((i * 31 + d * 7) % 13 - 6) / 6.0 for d in range(64)]
                    for i in range(200)
                ],
            }
        )
    )
    plan = _plan(ann_lsh_topk(emb))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_has_no_join_node(spark):
    """The as-of join must compile to union + window (one shuffle on the
    key), never a physical join — a per-key range join is quadratic when
    keys have many rows on both sides."""
    import pandas as pd

    from langtoolsosm_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "ts": [10, 20, 15], "x": ["a", "b", "c"]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "ts": [5, 30], "value": [1.0, 2.0]})
    )
    out = asof_join(left, right, ["k"], left_ts="ts", right_ts="ts")
    plan = _plan(out)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert node not in plan
    assert "Window" in plan
    # correctness spot-check: backward matches incl. none-found null
    rows = {(r["k"], r["ts"]): (r["__matched_ts"], r["matched_value"]) for r in out.collect()}
    assert rows[(1, 10)] == (5, 1.0)
    assert rows[(1, 20)] == (5, 1.0)
    assert rows[(2, 15)] == (None, None)


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed+sorted on the same key with equal bucket counts
    must join without ANY Exchange in the physical plan — the write-once
    shuffle that makes recurring fact-fact joins viable at scale."""
    from langtoolsosm_spark.sources.bucketed import read_table, write_bucketed

    a = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("va")
    )
    b = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("vb")
    )
    write_bucketed(a, "bt_a", "k", buckets=4)
    write_bucketed(b, "bt_b", "k", buckets=4)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-or-bucket decision (tiny test tables would
        # otherwise broadcast and bypass the bucketed path entirely)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_table(spark, "bt_a").join(read_table(spark, "bt_b"), "k")
        plan = _plan(j)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert j.count() == 2000
        # and an aggregation on the bucket key is also shuffle-free
        g = read_table(spark, "bt_a").groupBy("k").agg(F.sum("va").alias("s"))
        assert "Exchange" not in _plan(g)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_salted_join_spreads_hot_key_and_matches_plain(spark):
    """The salted join must (a) equal the plain join, and (b) actually
    spread the hot key across salt buckets so no task owns it whole."""
    import pandas as pd

    from langtoolsosm_spark.operators.joins import salted_join

    fact = spark.range(0, 5000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id") % 40).alias("k"),
    )
    dim = spark.range(0, 40).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id")).alias("label")
    )
    got = (
        salted_join(fact, dim, "k", buckets=8, hot_threshold=500)
        .toPandas().sort_values("row_id").reset_index(drop=True)
    )
    exp = (
        fact.join(dim, "k").toPandas().sort_values("row_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["row_id", "k", "label"]], exp[["row_id", "k", "label"]], check_dtype=False
    )
    # distribution check: re-derive the salts the operator assigns and
    # confirm the hot key's rows land in >= 6 of 8 buckets
    hot_rows = fact.filter(F.col("k") == 7)
    salts = hot_rows.select(
        F.pmod(F.abs(F.hash(*[F.col(c) for c in fact.columns])), F.lit(8)).alias("s")
    ).distinct().count()
    assert salts >= 6


def test_topk_kernel_plan_has_no_explode_join(spark):
    """The exact top-k kernel must be one mapInPandas pass over the
    corpus + a k-per-query window merge — never the dimension-explode
    join (|q| x |corpus| x dim shuffle rows, a factored cross product)."""
    import pandas as pd

    from langtoolsosm_spark.operators.similarity import topk_dot_kernel

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(150),
                "embedding": [
                    [((i * 17 + d * 3) % 11 - 5) / 5.0 for d in range(8)]
                    for i in range(150)
                ],
            }
        )
    )
    plan = _plan(topk_dot_kernel(emb))
    # the mapInPandas partial pass is materialized behind an eager
    # localCheckpoint (so per-shard query broadcasts can be destroyed);
    # the final plan is the checkpointed partial scan + the k-per-query
    # window merge — still zero joins, zero Generate (explode) nodes
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "Generate"):
        assert node not in plan
    assert "Window" in plan
    assert "ExistingRDD" in plan  # the checkpointed partial winners


def test_token_shard_pack_is_one_shuffle_jvm_only(spark):
    """Shard packing must be pure column arithmetic + ONE bucket-keyed
    window shuffle — no Python nodes, no global single-partition sort."""
    from langtoolsosm_spark.operators.sampling import token_shard_pack

    plan = _plan(token_shard_pack(_docs(spark)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


def test_jaccard_and_banded_hamming_are_jvm_only(spark):
    from pyspark.sql import functions as F2

    from langtoolsosm_spark.operators.dedup import hamming_band_pairs, jaccard_pairs

    plan = _plan(jaccard_pairs(_docs(spark)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    hashed = _docs(spark).select(
        "doc_id",
        F2.lit(0).alias("tile"),
        (F2.col("doc_id") * 2654435761 % 9223372036854775783).alias("phash"),
    )
    plan2 = _plan(
        hamming_band_pairs(hashed, "doc_id", "phash", 12, block_cols=("tile",))
    )
    assert "ArrowEvalPython" not in plan2 and "BatchEvalPython" not in plan2
    assert "CartesianProduct" not in plan2


def test_decontamination_plans_are_jvm_keyed_joins(spark):
    """All three decontamination ops must be keyed joins over JVM-side
    feature extraction — no Python eval nodes, no cartesian products."""
    import pandas as pd

    from langtoolsosm_spark.operators.dedup import (
        contamination_check,
        hamming_cross_contamination,
    )
    from langtoolsosm_spark.operators.similarity import embedding_contamination

    docs = _docs(spark)
    p1 = _plan(contamination_check(docs, docs.limit(10), n=3))
    imgs = docs.select(
        F.col("doc_id").alias("image_id"),
        (F.col("doc_id") * 2654435761 % 9223372036854775783).alias("phash"),
    )
    p2 = _plan(
        hamming_cross_contamination(imgs, imgs.limit(10), "image_id", "phash")
    )
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(60),
                "embedding": [
                    [((i * 13 + d * 5) % 9 - 4) / 4.0 for d in range(64)]
                    for i in range(60)
                ],
            }
        )
    )
    p3 = _plan(embedding_contamination(emb, emb.limit(10)))
    for plan in (p1, p2, p3):
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_tile_pyramid_explodes_histogram_not_fact_rows(spark, synth_dir):
    """The pyramid must aggregate at max_res BEFORE the level explode —
    the Generate node sits above a HashAggregate, never on the raw scan,
    so the fact table is never fanned out (max_res + 1)x."""
    from langtoolsosm_spark.operators.tiling import tile_pyramid

    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    df = tile_pyramid(images.select("lat", "lon"), max_res=8)
    plan = _plan(df)
    lines = plan.splitlines()
    gen = [i for i, l in enumerate(lines) if "Generate" in l]
    assert len(gen) == 1, plan
    # executedPlan prints root-first: an aggregate AFTER the Generate line
    # is the max_res pre-aggregation feeding the explode
    aggs_below = [i for i, l in enumerate(lines) if "HashAggregate" in l and i > gen[0]]
    assert aggs_below, plan


def test_pip_join_broadcast_path_plan_shape(spark, synth_dir):
    """Small polygon dims take the narrow path: the cover and rings are
    broadcast and the whole join is ONE Python map node over the points —
    no exchange, no join, no aggregate. The forced scale path keeps the
    distributed cover build and makes unique ownership a
    map-side-combinable min aggregate, not a sort-based row_number
    window."""
    from langtoolsosm_spark.operators.pip_join import pip_join

    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    polygons = spark.read.parquet(f"{synth_dir}/polygons.parquet")
    df = pip_join(
        images.select("image_id", "lat", "lon"), polygons, res=8,
        unique=True, id_col="image_id",
    )
    plan = _plan(df)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan  # cover built driver-side
    assert "hashpartitioning" not in plan and "Exchange" not in plan
    assert "SortAggregate" not in plan and "HashAggregate" not in plan
    assert "Join" not in plan
    # the forced scale path keeps the distributed cover build, the refine
    # kernel, and a min aggregate: struct-min plans as SortAggregate, but
    # the partial_min below the exchange is the map-side combine the
    # window formulation lacks (at most one row per (partition, image_id))
    df_sh = pip_join(
        images.select("image_id", "lat", "lon"), polygons, res=8,
        unique=True, id_col="image_id",
        broadcast_cover=False, broadcast_rings=False,
    )
    plan_sh = _plan(df_sh)
    assert "FlatMapGroupsInPandas" in plan_sh
    assert "MapInPandas" in plan_sh
    assert "partial_min" in plan_sh
    assert "Window" not in plan_sh


def test_spatial_family_plan_shapes(spark):
    """Round-5 spatial ops: distance/bbox joins stay hash joins with no
    cartesian product and no dedup aggregate; polygon shoelace is pure
    per-row expression work (zero exchanges); the trajectory window +
    rollup share ONE entity-key exchange."""
    import pandas as pd

    from langtoolsosm_spark.operators import spatial

    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": [1, 2], "lat": [40.0, 41.0], "lon": [2.0, 3.0]})
    )
    feats = spark.createDataFrame(
        pd.DataFrame({"id": [7, 8], "lat": [40.1, 41.2], "lon": [2.1, 2.9]})
    )
    dj = spatial.distance_join(pts, feats, radius=0.5)
    plan = _plan(dj)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    rect = spark.createDataFrame(
        pd.DataFrame(
            {"id": [1, 2], "south": [0.0, 1.0], "west": [0.0, 1.0],
             "north": [2.0, 3.0], "east": [2.0, 3.0]}
        )
    )
    bj = spatial.bbox_join(rect, rect, res=6)
    plan = _plan(bj)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the anchor-cell trick replaces a distinct: no aggregate anywhere
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    poly = spark.createDataFrame(
        [("p", [{"lat": 0.0, "lon": 0.0}, {"lat": 0.0, "lon": 1.0},
                {"lat": 1.0, "lon": 1.0}])],
        "polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    pa_plan = _plan(spatial.polygon_area_centroid(poly))
    assert "Exchange" not in pa_plan
    assert "ArrowEvalPython" not in pa_plan and "BatchEvalPython" not in pa_plan

    ev = spark.createDataFrame(
        pd.DataFrame({"e": [1, 1, 2], "ts": [1, 2, 3],
                      "lat": [0.0, 1.0, 2.0], "lon": [0.0, 1.0, 2.0]})
    )
    tr_plan = _plan(spatial.trajectory_stats(ev, "e", "ts"))
    assert tr_plan.count("Exchange") == 1, tr_plan


def test_heatmap_histogram_partial_aggregates_and_codegen(spark):
    """The pixel histogram must partially aggregate map-side (two
    HashAggregate levels around one exchange) with zero Python nodes —
    at 100 TB the shuffle carries only distinct non-empty pixels."""
    import pandas as pd

    from langtoolsosm_spark.operators.heatmap import heatmap_stats

    pts = spark.createDataFrame(
        pd.DataFrame({"lat": [40.0, 40.0, 41.0], "lon": [2.0, 2.0, 3.0]})
    )
    df = heatmap_stats(pts, res=6, tile_px=16)
    df.collect()  # finalize the adaptive plan so codegen stages are visible
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels
    assert "*(1)" in plan or "WholeStageCodegen" in plan


def test_round5b_plan_shapes(spark):
    """Session additions: hex binning + Hilbert are pure codegen (zero
    exchanges, no Python eval); the hex rollup carries exactly one
    partial-aggregated exchange; distinctive_terms' df dimension joins
    by BroadcastHashJoin; od_flows shares one entity exchange between
    window and rollup pair-count."""
    import pandas as pd

    from langtoolsosm_spark.operators import spatial, textstats

    pts = spark.createDataFrame(
        pd.DataFrame({"lat": [40.0, 41.0], "lon": [2.0, 3.0]})
    )
    hb = spatial.hex_bin(pts)
    p = _plan(hb)
    assert "Exchange" not in p and "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p and "mapInPandas" not in p.lower()

    hr = spatial.hex_rollup(pts)
    p = _plan(hr)
    assert p.count("Exchange") == 1
    assert "partial" in _formatted(hr).lower()  # map-side combine

    hk = spatial.with_hilbert(
        spark.createDataFrame(pd.DataFrame({"ix": [1], "iy": [2]})), res=8
    )
    p = _plan(hk)
    assert "Exchange" not in p and "Python" not in p

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "b c"]})
    )
    p = _plan(textstats.distinctive_terms(docs))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p

    ev = spark.createDataFrame(
        pd.DataFrame(
            {"uid": [1], "ts": [1], "eid": [1], "lat": [0.0], "lon": [0.0]}
        )
    )
    od = spatial.od_flows(ev, "uid", "ts", res=4, order_tiebreak="eid")
    # window partitions on uid; the pair rollup re-keys on (from, to):
    # exactly two exchanges total, nothing redundant
    assert _plan(od).count("Exchange") <= 3


def test_round5c_plan_shapes(spark):
    """raster_polygonize's adjacency must be hash equi-joins (an OR-join
    would degrade to BroadcastNestedLoop); merge_tile_histogram is one
    union + one partial-aggregated exchange; quadkey is pure codegen."""
    import pandas as pd

    from langtoolsosm_spark.functions.cells import quadkey_col
    from langtoolsosm_spark.operators import spatial, tiling

    pts = spark.createDataFrame(
        pd.DataFrame({"lat": [10.0, 10.0, 10.0], "lon": [10.0, 10.0, 40.0]})
    )
    rp = spatial.raster_polygonize(pts, res=4, min_count=1)
    p = _plan(rp)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p

    base = tiling.cell_histogram(tiling.assign_tiles(pts, res=4), "tile")
    delta = pts.withColumn("sign", F.lit(1))
    mh = tiling.merge_tile_histogram(base, delta, res=4)
    p = _plan(mh)
    assert "Union" in p and "Join" not in p

    qk = pts.select(quadkey_col(F.col("lat"), F.col("lon"), 8).alias("q"))
    p = _plan(qk)
    assert "Exchange" not in p and "Python" not in p


def test_round6_plan_shapes(spark, synth_dir):
    """Plan assertions for the round-6 curation family."""
    import pandas as pd

    from langtoolsosm_spark.operators.images import aspect_buckets
    from langtoolsosm_spark.operators.sampling import geo_split
    from langtoolsosm_spark.operators.spatial import gearys_c, marching_cases
    from langtoolsosm_spark.operators.tiling import kring_smooth

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": range(100),
                "lat": [36.0 + i * 0.05 for i in range(100)],
                "lon": [0.0 + i * 0.05 for i in range(100)],
            }
        )
    )

    # geo_split: pure column expressions — no exchange, no python
    plan = _plan(geo_split(pts, res=6))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan

    # aspect_buckets: the parquet scan must read only the two dim ints
    imgs = spark.read.parquet(f"{synth_dir}/images.parquet")
    fplan = _formatted(aspect_buckets(imgs))
    read_schemas = [l for l in fplan.splitlines() if "ReadSchema" in l]
    assert read_schemas and not any("bytes" in l for l in read_schemas)
    assert "struct<w:int,h:int>" in read_schemas[0].replace(" ", "")

    # kring / gearys / marching: exactly one fact-side shuffle (the
    # histogram); the fan-out works on histogram rows, and aggregates
    # are map-side partial
    for df in (
        kring_smooth(pts, res=6, k=2),
        gearys_c(pts, res=6),
        marching_cases(pts, res=6, threshold=1),
    ):
        p = _plan(df)
        assert "EvalPython" not in p
        assert "partial_count" in p or "partial_sum" in p or "HashAggregate" in p
        # the histogram explode/fan must come AFTER the first aggregate:
        # no Generate/fan node may feed the first Exchange from the scan
        first_exchange = p.find("Exchange")
        assert first_exchange != -1


def test_graph_ops_plan_shapes(spark):
    """Graph family: no cartesian products, no Python eval; the wedge
    join keys on the middle vertex."""
    import pandas as pd

    from langtoolsosm_spark.operators.graphs import (
        clustering_coefficients,
        triangle_counts,
    )

    edges = spark.createDataFrame(
        pd.DataFrame({"src": list(range(50)) * 2,
                      "dst": [(i * 7 + 1) % 50 for i in range(100)]})
    )
    for df in (triangle_counts(edges), clustering_coefficients(edges)):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "EvalPython" not in p


def test_capture_bursts_scan_excludes_bytes(spark, synth_dir):
    """Burst detection is metadata-only: the parquet scan must read
    (phash, lat, lon), never the blob column."""
    from langtoolsosm_spark.operators.images import capture_bursts

    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    plan = _formatted(capture_bursts(images, res=8))
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas
    assert not any("bytes" in l for l in read_schemas)


def test_region_image_stats_shuffles_no_blob(spark, synth_dir):
    """The PIP/rollup carries one length per row; the blob never appears
    past the scan (no 'bytes' column in any exchange-side projection)."""
    from langtoolsosm_spark.operators.images import region_image_stats
    from langtoolsosm_spark.plans.driver_queries import geo_polygons_df

    images = spark.read.parquet(f"{synth_dir}/images.parquet")
    df = region_image_stats(images, geo_polygons_df(spark), res=8)
    plan = _plan(df)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes#" not in line, line


def test_hotspot_profile_broadcasts_fan_not_histogram(spark):
    """The ring fan (k x 49 rows) must be the broadcast side; the
    histogram side can be millions of cells at 100x and must stay
    partitioned — a reversed broadcast would ship the big side."""
    import pandas as pd

    from langtoolsosm_spark.operators.tiling import hotspot_profile

    df = spark.createDataFrame(
        pd.DataFrame(
            [(10.0 + i * 0.01, 20.0) for i in range(50)],
            columns=["lat", "lon"],
        )
    )
    plan = _plan(hotspot_profile(df, res=6))
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan
    # the broadcast subtree is the top-k fan (TakeOrderedAndProject sits
    # under the BroadcastExchange), not the histogram scan
    assert "TakeOrderedAndProject(limit=20" in plan
    assert plan.index("BroadcastExchange") < plan.index(
        "TakeOrderedAndProject"
    )


def test_path_crossings_is_jvm_only(spark):
    """Orientation predicates are column expressions — no Python UDF,
    no cartesian product in the plan."""
    import pandas as pd

    from langtoolsosm_spark.operators.spatial import path_crossings

    rows = [(1, 0, 1, 10.0, 20.0), (1, 10, 2, 10.1, 20.1),
            (2, 0, 3, 10.0, 20.1), (2, 10, 4, 10.1, 20.0)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    plan = _plan(path_crossings(df, pairs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_knox_stat_single_fact_lineage(spark):
    """knox_stat pins the projected fact frame (localCheckpoint) so the
    gate count, the spatial fan, the base side and the histogram all
    read the checkpoint — the executed plan must contain no parquet/
    LocalTableScan re-derivation beyond checkpoint scans."""
    import pandas as pd

    from langtoolsosm_spark.operators.spatial import knox_stat

    rows = [(i, i * 100, 10.0 + i * 0.001, 20.0) for i in range(20)]
    pdf = pd.DataFrame(rows, columns=["event_id", "epoch", "lat", "lon"])
    df = spark.createDataFrame(pdf).select(
        "event_id", F.timestamp_seconds("epoch").alias("ts"), "lat", "lon"
    )
    out = knox_stat(df, ds_micro=5000, dt_sec=500)
    plan = _plan(out)
    assert "BatchEvalPython" not in plan
    # every leaf that feeds the three subtrees is the checkpointed RDD
    assert plan.count("Scan ExistingRDD") >= 3


def test_freq_spectrum_broadcasts_octave_dim(spark):
    """The 41-row octave dim is the broadcast side of the range join;
    the vocabulary side (100s of millions of words at 100x) streams —
    a reversed build would ship the vocab."""
    from langtoolsosm_spark.operators.textstats import freq_spectrum

    docs = spark.createDataFrame(
        [(1, "a b a", "s")], "doc_id long, text string, source string"
    )
    plan = _plan(freq_spectrum(docs))
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    assert "BatchEvalPython" not in plan


def test_rank_rewrites_have_no_single_partition_exchange(spark):
    """embedding_norm_audit and vocab_growth must not funnel rows
    through a single-partition global sort (r8 range_ranked rewrite —
    the pre-r8 plans carried Exchange SinglePartition windows)."""
    from langtoolsosm_spark.plans.driver_queries import REGISTRY

    for name in ("embedding_norm_audit", "vocab_growth"):
        fn, _ = REGISTRY[name]
        df = fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, f"{name}:\n{plan[:2000]}"


def _row_path_hash_exchanges(df) -> list[str]:
    """Hash exchanges the rows of ``df`` pass through: the planned
    (pre-execution) physical tree, without broadcast subtrees (the
    build side of a broadcast join is its own small query)."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name == "BroadcastExchangeExec":
            return
        if name == "ShuffleExchangeExec":
            part = node.outputPartitioning().toString()
            if part.startswith("hashpartitioning"):
                out.append(part)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_flagship_write_shuffles_rows_once(spark, synth_dir, tmp_path, monkeypatch):
    """run_to_snapshot salts hot tiles without a (tile, salt) repartition:
    the grouped snapshot write's own ``__pid`` exchange is the only hash
    exchange on the row path of the write plan."""
    from pyspark.sql.classic.dataframe import DataFrame

    from langtoolsosm_spark.plans.pipeline import run_to_snapshot

    write_plans = []
    collect = DataFrame.collect

    def spy(self):
        if "FlatMapGroupsInArrow" in _plan(self):
            write_plans.append(_row_path_hash_exchanges(self))
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    m = run_to_snapshot(spark, synth_dir, str(tmp_path / "t"), resume=False)
    assert m["rows"] > 0
    assert len(write_plans) == 1
    (exchanges,) = write_plans
    assert len(exchanges) == 1 and "__pid" in exchanges[0], exchanges
