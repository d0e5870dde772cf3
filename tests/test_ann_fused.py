"""The two-stage PQ families as one corpus pass, the Arrow corpus
kernels and the driver-held training artifacts of
``operators/similarity.py``.

``pq_ann_rescored`` and ``ivf_pq_ann_rescored`` keep each batch's ADC
shortlist and its exact dots in one ``corpus_topk`` pass; these tests pin
them to the two-pass join formulations of ``tests/reference/ann_join.py``
on the cases where a one-pass merge could go wrong (ADC ties at the
shortlist cut spread over partitions, probes that reach fewer than
``shortlist`` candidates, ``shortlist < k``, several query shards), pin
the job counts of the corpus families, and check that no broadcast
outlives a call."""

import os

import numpy as np
import pytest

from langtoolsosm_spark.operators import similarity as S
from tests.reference import ann_join as ref


def _sorted_pdf(df):
    cols = sorted(df.columns)
    return df.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


@pytest.fixture(scope="module")
def dup_emb(spark):
    """200 vectors of 8 distinct directions, 25 copies each, over 7
    partitions: ADC and exact-dot ties everywhere, so a shortlist of 5 cuts
    through a tie group that spans partitions."""
    rng = np.random.default_rng(5)
    shapes = rng.normal(size=(8, 8))
    rows = [(i, [float(x) for x in shapes[(i * 3) % 8]]) for i in range(200)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(7)


def test_pq_rescored_adc_ties_at_shortlist_cut(spark, dup_emb):
    kw = dict(k=3, shortlist=5, m=2, k_codes=4, iters=1)
    short = _sorted_pdf(ref.pq_ann_topk_join(dup_emb, k=kw["shortlist"], m=2, k_codes=4, iters=1))
    # the fixture really cuts ties: some query's shortlist boundary ADC
    # value also belongs to a candidate left out
    full = _sorted_pdf(ref.pq_ann_topk_join(dup_emb, k=200, m=2, k_codes=4, iters=1))
    cut = short.groupby("query_id")["adc"].max()
    left = full[full["rank"] > kw["shortlist"]].groupby("query_id")["adc"].min()
    assert (cut == left.reindex(cut.index)).any()

    got = _sorted_pdf(S.pq_ann_rescored(dup_emb, **kw))
    exp = _sorted_pdf(ref.pq_ann_rescored_join(dup_emb, **kw))
    assert got.equals(exp) and len(got) > 0


def test_ivf_pq_rescored_ties_and_short_probes(spark, dup_emb, emb):
    """Duplicate vectors, and a one-list probe over 16 lists on the
    fixture, where some queries reach fewer than ``shortlist``
    candidates and rank all of them."""
    kw = dict(k=3, shortlist=5, n_centroids=4, nprobe=2, m=2, k_codes=4, iters=1)
    got = _sorted_pdf(S.ivf_pq_ann_rescored(dup_emb, **kw))
    exp = _sorted_pdf(ref.ivf_pq_ann_rescored_join(dup_emb, **kw))
    assert got.equals(exp) and len(got) > 0

    kw = dict(k=5, shortlist=40, n_centroids=16, nprobe=1)
    reach = ref.ivf_pq_ann_topk_join(emb, k=kw["shortlist"], n_centroids=16, nprobe=1)
    n_cand = reach.groupBy("query_id").count().toPandas()["count"]
    assert (n_cand < kw["shortlist"]).any()
    got = _sorted_pdf(S.ivf_pq_ann_rescored(emb, **kw))
    exp = _sorted_pdf(ref.ivf_pq_ann_rescored_join(emb, **kw))
    assert got.equals(exp) and len(got) > 0


@pytest.mark.parametrize("family", ["pq_ann_rescored", "ivf_pq_ann_rescored"])
def test_rescored_shortlist_below_k(spark, emb, family):
    got = _sorted_pdf(getattr(S, family)(emb, k=5, shortlist=3))
    exp = _sorted_pdf(getattr(ref, f"{family}_join")(emb, k=5, shortlist=3))
    assert got.equals(exp) and len(got) > 0
    assert got.groupby("query_id")["rank"].max().max() == 3


@pytest.mark.parametrize("ivf", [False, True])
def test_rescored_query_shards(spark, emb, monkeypatch, ivf):
    """``shard_rows=3`` cuts the 10 fixture queries into 4 shards, each a
    fused pass of its own; the merged answer equals the two-pass join."""
    from pyspark import SparkContext

    real = SparkContext.broadcast
    shards = []

    def spy(self, value):
        if isinstance(value, tuple):
            shards.append(len(value[0]))
        return real(self, value)

    corpus, books, sd, coarse = S._pq_artifacts(
        emb, 8, 16, 2, "vec_id", "embedding", 16 if ivf else 0
    )
    # patched on the class: an instance attribute would outlive undo()
    monkeypatch.setattr(SparkContext, "broadcast", spy)
    got = S._pq_adc_topk_kernel(
        corpus, books, sd, 5, coarse if ivf else None, 8 if ivf else None,
        shard_rows=3, shortlist=50,
    )
    monkeypatch.undo()
    assert len(shards) >= 2 and max(shards) <= 3
    exp = ref.ivf_pq_ann_rescored_join(emb) if ivf else ref.pq_ann_rescored_join(emb)
    got, exp = _sorted_pdf(got), _sorted_pdf(exp)
    assert got.equals(exp) and len(got) > 0


@pytest.mark.parametrize(
    "family,most",
    [
        ("pq_ann_rescored", 9),
        ("ivf_pq_ann_rescored", 9),
        ("ivf_lloyd_ann_topk", 9),
        ("topk_dot_kernel", 5),
    ],
)
def test_corpus_family_job_count(spark, emb, count_jobs, family, most):
    """Call plus collect, counted by job group: the rescored families run
    their ADC shortlist and exact rescore in one pass (15 and 16 jobs as
    two passes with a shortlist collect), trained artifacts go from
    training to the scan without a collect, and the exact kernel's query
    gate reads the unspread frame."""
    pdf, n = count_jobs(lambda: getattr(S, family)(emb, k=5).toPandas())
    assert len(pdf) > 0
    assert n <= most, f"{family} ran {n} jobs"


@pytest.mark.parametrize(
    "call",
    [
        lambda e: S.sign_lsh_buckets_kernel(e).collect(),
        lambda e: S.pq_ann_rescored(e).collect(),
        lambda e: S.ivf_pq_ann_rescored(e).collect(),
    ],
    ids=["sign_lsh_buckets_kernel", "pq_ann_rescored", "ivf_pq_ann_rescored"],
)
def test_no_broadcast_outlives_the_call(spark, emb, monkeypatch, call):
    from pyspark import SparkContext

    made = []
    real = SparkContext.broadcast

    def spy(self, value):
        made.append(real(self, value))
        return made[-1]

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    assert call(emb)
    assert not any(os.path.exists(b._path) for b in made)


@pytest.mark.parametrize("kw", [dict(m=8, k_codes=16, iters=2), dict(m=4, k_codes=7, iters=3)])
def test_pq_encode_matches_assign_join(spark, emb, kw):
    """The in-task argmin encoder == subvector explode + broadcast join +
    struct-min: rows, column names and types."""
    got = S.pq_encode(emb, **kw)
    _sub, _cents, exp = ref._pq_join_artifacts(
        emb, kw["m"], kw["k_codes"], kw["iters"], "vec_id", "embedding"
    )
    assert got.schema.simpleString() == exp.schema.simpleString()
    got, exp = _sorted_pdf(got), _sorted_pdf(exp)
    assert got.equals(exp) and len(got) == 500 * kw["m"]


def test_ragged_vectors_raise(spark):
    rows = [(i, [1.0, 0.5, 0.25, 0.0]) for i in range(60)] + [(61, [1.0, 0.5])]
    ragged = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="must all have 4 non-null values"):
        S.topk_dot_kernel(ragged, k=3).collect()


def test_pq_empty_table_error_kept(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for fn in (S.pq_train, S.pq_ann_rescored, S.ivf_pq_ann_rescored):
        with pytest.raises(ValueError, match="pq: empty embedding table"):
            fn(empty)
    # no seed id below k_codes: the dimension still comes from a row, the
    # codebook is empty and so is the answer
    high = spark.createDataFrame(
        [(100 + i, [float(i % 3), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="m=3 must divide dim=2"):
        S.pq_train(high, m=3)
    assert S.pq_ann_rescored(high, m=2).count() == 0
