"""Round-8 optimization parity pins: every rewritten execution path must
stay byte-identical to the reference formulation it replaced (kept in
``tests/reference/ann_join.py`` for the ANN families), plus the query
gate and shard bound of the shared ``corpus_topk`` loop.

The optimization round's contract is "same rows, faster plan" — these
tests pin the "same rows" half on the deterministic sf0.01 fixtures so a
kernel regression is caught before the oracle gate."""

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F


def _sorted_pdf(df):
    cols = sorted(df.columns)
    return df.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_ivf_kernel_matches_join(spark, emb):
    """Masked-matmul IVF rescore == candidate-join formulation."""
    from langtoolsosm_spark.operators.similarity import ivf_ann_topk
    from tests.reference.ann_join import ivf_ann_topk_join

    got = _sorted_pdf(ivf_ann_topk(emb))
    exp = _sorted_pdf(ivf_ann_topk_join(emb))
    assert got.equals(exp) and len(got) > 0


def test_ivf_lloyd_kernel_matches_join(spark, emb):
    from langtoolsosm_spark.operators.similarity import ivf_lloyd_ann_topk
    from tests.reference.ann_join import ivf_lloyd_ann_topk_join

    got = _sorted_pdf(ivf_lloyd_ann_topk(emb))
    exp = _sorted_pdf(ivf_lloyd_ann_topk_join(emb))
    assert got.equals(exp) and len(got) > 0


def test_lsh_kernel_matches_join(spark, emb):
    from langtoolsosm_spark.operators.similarity import ann_lsh_topk
    from tests.reference.ann_join import ann_lsh_topk_join

    got = _sorted_pdf(ann_lsh_topk(emb))
    exp = _sorted_pdf(ann_lsh_topk_join(emb))
    assert got.equals(exp) and len(got) > 0


def test_lsh_kernel_nondefault_params(spark, emb):
    """Parity must hold off the default config too (different table/bit
    geometry exercises the probe-mask indexing)."""
    from langtoolsosm_spark.operators.similarity import ann_lsh_topk
    from tests.reference.ann_join import ann_lsh_topk_join

    kw = dict(k=3, n_tables=2, n_bits=4, probe_radius=1)
    got = _sorted_pdf(ann_lsh_topk(emb, **kw))
    exp = _sorted_pdf(ann_lsh_topk_join(emb, **kw))
    assert got.equals(exp) and len(got) > 0


def test_ivf_kernel_sharded_queries(spark, emb):
    """Tiny shard_rows forces the multi-broadcast sharded query path —
    must be byte-identical to the single-shard answer."""
    from langtoolsosm_spark.operators.similarity import (
        _corpus_vecs,
        _fixture_queries,
        _ivf_topk_kernel,
        _seed_vecs,
        ivf_ann_topk,
    )

    vecs = _corpus_vecs(emb, "vec_id", "embedding")
    cent_ids, C = _seed_vecs(vecs, 16)
    got = _sorted_pdf(
        _ivf_topk_kernel(
            vecs, _fixture_queries(vecs), cent_ids, C, 5, 8, shard_rows=3
        )
    )
    exp = _sorted_pdf(ivf_ann_topk(emb))
    assert got.equals(exp) and len(got) > 0


def test_topk_shards_hold_at_most_shard_rows(spark, emb, monkeypatch):
    """``corpus_topk`` shard bound: above ``shard_rows`` queries, every
    broadcast holds at most ``shard_rows`` query rows, there are exactly
    ceil(n_q / shard_rows) of them (no empty shard pays a corpus pass),
    and the answer equals the single-shard one."""
    import math

    from langtoolsosm_spark.operators.similarity import topk_dot_kernel

    exp = _sorted_pdf(topk_dot_kernel(emb, k=5))
    n_q = emb.filter(F.col("vec_id") % 50 == 0).count()

    real = SparkContext.broadcast
    shard_sizes = []

    def spy(self, value):
        shard_sizes.append(len(value[0]))
        return real(self, value)

    # patched on the class: an instance attribute would outlive undo()
    monkeypatch.setattr(SparkContext, "broadcast", spy)
    got = topk_dot_kernel(emb, k=5, shard_rows=3)
    monkeypatch.undo()

    assert n_q > 3
    assert len(shard_sizes) == math.ceil(n_q / 3), shard_sizes
    assert max(shard_sizes) <= 3 and sum(shard_sizes) == n_q, shard_sizes
    got = _sorted_pdf(got)
    assert got.equals(exp) and len(got) > 0


@pytest.mark.parametrize("family", ["topk_dot_kernel", "ivf_ann_topk"])
def test_single_shard_gate_runs_no_count(spark, emb, monkeypatch, family):
    """Up to ``shard_rows`` queries the bounded ``limit`` collect is the
    whole ``corpus_topk`` gate: no separate ``count()`` job."""
    from langtoolsosm_spark.operators import similarity

    def no_count(self):
        raise AssertionError("corpus top-k ran a DataFrame.count()")

    monkeypatch.setattr(type(emb), "count", no_count)
    got = getattr(similarity, family)(emb).toPandas()
    assert len(got) > 0


def test_lsh_kernel_sharded_queries(spark, emb):
    """Sharded LSH pass == single-shard answer, for the fixture query
    sample and for an explicit queries frame."""
    from langtoolsosm_spark.operators.similarity import (
        _lsh_topk_kernel,
        ann_lsh_topk,
    )

    args = (5, 4, 6, 2, 64, "vec_id", "embedding")
    got = _sorted_pdf(_lsh_topk_kernel(emb, None, *args, shard_rows=3))
    exp = _sorted_pdf(ann_lsh_topk(emb))
    assert got.equals(exp) and len(got) > 0

    queries = emb.filter(F.col("vec_id") % 40 == 3)
    got2 = _sorted_pdf(_lsh_topk_kernel(emb, queries, *args, shard_rows=3))
    exp2 = _sorted_pdf(ann_lsh_topk(emb, queries=queries))
    assert got2.equals(exp2) and len(got2) > 0


def test_sq8_kernel_sharded_queries(spark, emb):
    from langtoolsosm_spark.operators.similarity import sq8_ann_topk

    got = _sorted_pdf(sq8_ann_topk(emb, shard_rows=3))
    exp = _sorted_pdf(sq8_ann_topk(emb))
    assert got.equals(exp) and len(got) > 0


def test_lsh_pairs_first_match_band_matches_distinct(spark):
    """First-match-band pair emission == banded join + DISTINCT, on a
    fixture with real dup clusters AND a null-text doc (null sigs /
    buckets must neither match nor suppress later-band matches)."""
    from langtoolsosm_spark.operators.dedup import (
        _banded,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, f"the quick brown fox {i % 7} jumps over the lazy dog") for i in range(60)]
    rows += [(100 + i, None) for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = _sorted_pdf(lsh_candidate_pairs(docs))

    sigs = minhash_signatures(docs)
    keyed = _banded(sigs, 4, 2, "doc_id")
    a, c = keyed.alias("a"), keyed.alias("b")
    exp = _sorted_pdf(
        a.join(c, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    assert got.equals(exp) and len(got) > 0


def test_co_visitation_block_kernel_matches_join(spark):
    """Block-partitioned presence-matrix co_visitation == the
    within-(tile, day) self-join + countDistinct rollup, on a fixture
    with multi-tile same-day co-presence (the day-dedup case) and
    entities spread across several hash blocks."""
    import datetime

    from langtoolsosm_spark.operators.tiling import co_visitation

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for day in range(6):
        for u in range(40):
            for visit in range(2):
                # users co-locate in overlapping groups; two tiles per day
                lat = 10.0 + ((u + visit) % 4) * 0.01
                lon = 20.0 + (u % 3) * 0.01 + day * 0.001
                rows.append(
                    (u, base + datetime.timedelta(days=day, minutes=u + visit),
                     lat, lon)
                )
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, lat double, lon double"
    )
    got = _sorted_pdf(co_visitation(ev, res=9, min_days=3))

    # reference: the pre-r8 join formulation inlined
    n = 1 << 9
    fx = F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    fy = F.floor((F.col("lat") + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    tile = (
        F.least(F.greatest(fx, F.lit(0)), F.lit(n - 1)).cast("long") * n
        + F.least(F.greatest(fy, F.lit(0)), F.lit(n - 1)).cast("long")
    )
    day = (F.unix_timestamp(F.col("ts")) / F.lit(86400)).cast("long")
    pres = ev.select(
        tile.alias("tile"), day.alias("day"), F.col("user_id").alias("entity")
    ).distinct()
    other = pres.select(
        F.col("tile").alias("__t"), F.col("day").alias("__d"),
        F.col("entity").alias("__e"),
    )
    pairs = pres.join(
        other,
        (pres["tile"] == other["__t"]) & (pres["day"] == other["__d"])
        & (pres["entity"] < other["__e"]),
    ).select(F.col("entity").alias("a"), F.col("__e").alias("b"), "day")
    exp = _sorted_pdf(
        pairs.groupBy("a", "b")
        .agg(F.countDistinct("day").alias("n_codays"))
        .filter(F.col("n_codays") >= 3)
    )
    assert got.equals(exp) and len(got) > 0


def test_ivf_kernel_explicit_small_k_ties(spark):
    """Masked partial top-k must keep boundary ties per partition: a
    fixture where many corpus vectors tie on the dot product."""
    from langtoolsosm_spark.operators.similarity import ivf_ann_topk
    from tests.reference.ann_join import ivf_ann_topk_join

    rows = []
    for i in range(120):
        # two distinct vector shapes -> massive dot-product ties
        base = [1.0] * 8 if i % 2 == 0 else [1.0] * 4 + [0.0] * 4
        rows.append((i, base))
    spark_df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = spark_df.repartition(7)  # spread ties across partitions
    got = _sorted_pdf(ivf_ann_topk(df, k=3, n_centroids=4, nprobe=2))
    exp = _sorted_pdf(ivf_ann_topk_join(df, k=3, n_centroids=4, nprobe=2))
    assert got.equals(exp) and len(got) > 0


def test_pq_adc_kernel_matches_join(spark, emb):
    """Masked ADC corpus-pass PQ top-k == broadcast-join formulation."""
    from langtoolsosm_spark.operators.similarity import pq_ann_topk
    from tests.reference.ann_join import pq_ann_topk_join

    got = _sorted_pdf(pq_ann_topk(emb))
    exp = _sorted_pdf(pq_ann_topk_join(emb))
    assert got.equals(exp) and len(got) > 0


def test_pq_rescored_kernel_matches_join(spark, emb):
    from langtoolsosm_spark.operators.similarity import pq_ann_rescored
    from tests.reference.ann_join import pq_ann_rescored_join

    got = _sorted_pdf(pq_ann_rescored(emb))
    exp = _sorted_pdf(pq_ann_rescored_join(emb))
    assert got.equals(exp) and len(got) > 0


def test_sq8_kernel_matches_join(spark, emb):
    from langtoolsosm_spark.operators.similarity import sq8_ann_topk
    from tests.reference.ann_join import sq8_ann_topk_join

    got = _sorted_pdf(sq8_ann_topk(emb))
    exp = _sorted_pdf(sq8_ann_topk_join(emb))
    assert got.equals(exp) and len(got) > 0


def test_ivf_pq_kernel_matches_join(spark, emb):
    from langtoolsosm_spark.operators.similarity import ivf_pq_ann_topk
    from tests.reference.ann_join import ivf_pq_ann_topk_join

    got = _sorted_pdf(ivf_pq_ann_topk(emb))
    exp = _sorted_pdf(ivf_pq_ann_topk_join(emb))
    assert got.equals(exp) and len(got) > 0


def test_ivf_pq_rescored_kernel_matches_join(spark, emb):
    from langtoolsosm_spark.operators.similarity import ivf_pq_ann_rescored
    from tests.reference.ann_join import ivf_pq_ann_rescored_join

    got = _sorted_pdf(ivf_pq_ann_rescored(emb))
    exp = _sorted_pdf(ivf_pq_ann_rescored_join(emb))
    assert got.equals(exp) and len(got) > 0


def test_pq_kernel_nondefault_geometry(spark, emb):
    """Parity off the default config (m=4 subspaces, 8 codes, 1 Lloyd
    iter; nprobe=3 over 8 coarse lists for the IVF composite) exercises
    the per-subspace book indexing and the probe mask off-path."""
    from langtoolsosm_spark.operators.similarity import (
        ivf_pq_ann_topk,
        pq_ann_topk,
    )
    from tests.reference.ann_join import ivf_pq_ann_topk_join, pq_ann_topk_join

    kw = dict(m=4, k_codes=8, iters=1)
    got = _sorted_pdf(pq_ann_topk(emb, **kw))
    exp = _sorted_pdf(pq_ann_topk_join(emb, **kw))
    assert got.equals(exp) and len(got) > 0

    kw2 = dict(m=4, k_codes=8, iters=1, n_centroids=8, nprobe=3)
    got2 = _sorted_pdf(ivf_pq_ann_topk(emb, **kw2))
    exp2 = _sorted_pdf(ivf_pq_ann_topk_join(emb, **kw2))
    assert got2.equals(exp2) and len(got2) > 0


def test_pq_adc_kernel_sharded_queries(spark, emb):
    """Tiny shard_rows forces the multi-broadcast sharded query path of
    the ADC kernel — must be byte-identical to the single-shard answer."""
    from langtoolsosm_spark.operators.similarity import (
        _pq_adc_topk_kernel,
        _pq_artifacts,
        pq_ann_topk,
    )

    corpus, books, sd, _coarse = _pq_artifacts(emb, 8, 16, 2, "vec_id", "embedding")
    got = _sorted_pdf(_pq_adc_topk_kernel(corpus, books, sd, 5, shard_rows=3))
    exp = _sorted_pdf(pq_ann_topk(emb))
    assert got.equals(exp) and len(got) > 0


def test_pq_train_kernel_matches_join(spark, emb):
    """Corpus-pass Lloyd training == the join/explode formulation, both
    at the default geometry and off it (odd k_codes exercises dropped
    codes / non-contiguous seed ids)."""
    from langtoolsosm_spark.operators.similarity import pq_train
    from tests.reference.ann_join import pq_train_join

    def rows(df):
        return sorted(
            (r["s"], r["code"], list(r["__cv"])) for r in df.collect()
        )

    got = rows(pq_train(emb))
    exp = rows(pq_train_join(emb))
    assert got == exp and len(got) > 0

    got2 = rows(pq_train(emb, m=4, k_codes=7, iters=3))
    exp2 = rows(pq_train_join(emb, m=4, k_codes=7, iters=3))
    assert got2 == exp2 and len(got2) > 0


def test_ivf_train_lloyd_kernel_matches_join(spark, emb):
    """Corpus-pass IVF Lloyd training == the join/explode formulation
    (default and off-default geometry)."""
    from langtoolsosm_spark.operators.similarity import ivf_train_lloyd
    from tests.reference.ann_join import ivf_train_lloyd_join

    def rows(df):
        return sorted((r["centroid_id"], list(r["__cv"])) for r in df.collect())

    got = rows(ivf_train_lloyd(emb))
    exp = rows(ivf_train_lloyd_join(emb))
    assert got == exp and len(got) > 0

    got2 = rows(ivf_train_lloyd(emb, n_centroids=5, iters=3))
    exp2 = rows(ivf_train_lloyd_join(emb, n_centroids=5, iters=3))
    assert got2 == exp2 and len(got2) > 0


def test_range_ranked_matches_global_window(spark):
    """Two-pass range-partitioned rank == the single-task global window,
    on a fixture with heavy key duplication spread across partitions
    (ties broken by the unique id column)."""
    from pyspark.sql import Window

    from langtoolsosm_spark.operators.rank import range_ranked

    rows = [(i, (i * 7) % 13) for i in range(5_000)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(11)
    got, n = range_ranked(df, ["v", "id"], "rank")
    exp = df.withColumn(
        "rank", F.row_number().over(Window.orderBy("v", "id")).cast("long")
    )
    assert n == 5_000
    g = _sorted_pdf(got)
    e = _sorted_pdf(exp)
    assert g.equals(e)


def test_norm_audit_and_vocab_growth_rank_rewrite(spark):
    """The range_ranked rewrites must reproduce the operators' previous
    windowed output exactly (norm ties + empty-token docs included)."""
    from pyspark.sql import Window

    from langtoolsosm_spark.operators.similarity import embedding_norm_audit
    from langtoolsosm_spark.operators.textstats import vocab_growth

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = _sorted_pdf(embedding_norm_audit(emb))
    # inline pre-r8 reference: global window rank over (norm2_q, id)
    norm2 = F.aggregate(
        F.expr(
            "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))"
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    scored = emb.select(F.col("vec_id").alias("id"), norm2.alias("norm2_q"))
    ranked = scored.withColumn(
        "rank", F.row_number().over(Window.orderBy("norm2_q", "id"))
    )
    n = ranked.count()
    lo = 10 * n // 1000
    hi = n - lo
    exp = _sorted_pdf(
        ranked.select(
            "id", "norm2_q", F.col("rank").cast("long"),
            F.lit(n).cast("long").alias("n"),
            F.when((F.col("rank") <= lo) | (F.col("rank") > hi), F.lit(1))
            .otherwise(F.lit(0)).cast("int").alias("is_outlier"),
        )
    )
    assert got.equals(exp) and len(got) > 0

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "beta gamma delta"), (4, "42 !!"),
         (5, "delta alpha"), (6, "epsilon")],
        "doc_id long, text string",
    )
    vg = _sorted_pdf(vocab_growth(docs, steps=4))
    assert len(vg) == 4 and int(vg["vocab"].max()) == 5
