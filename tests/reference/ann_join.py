"""Reference formulations of the ANN top-k families, kept for parity.

Each function here is the oracle-shaped DataFrame formulation (explode /
candidate joins, per-pair ``zip_with`` aggregates, window ranks) that the
corpus-pass kernels in ``langtoolsosm_spark.operators.similarity``
replaced. They are not query paths: the tests pin every kernel
byte-identical to its reference on the deterministic fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from langtoolsosm_spark.operators.similarity import (
    _buckets_keyed,
    _quantize,
    _quantized_vecs,
    _sq8_flat,
    _sq8_stats,
    pq_train,
    probe_masks,
)
from langtoolsosm_spark.operators.spread import scan_spread


def _quantized_flat(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, i, xq): posexploded, scalar-quantized to int (x1000)."""
    return emb.select(
        F.col(id_col), F.posexplode(vec_col).alias("i", "x")
    ).withColumn("xq", F.round(F.col("x").cast("double") * 1000.0).cast("long")).drop("x")


def topk_dot(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by quantized dot product (self-join when
    ``queries`` is None means every % 50 == 0 id is a query — the driver
    fixture; pass an explicit queries frame in real use)."""
    flat = _quantized_flat(emb, id_col, vec_col)
    if queries is None:
        q = flat.filter(F.col(id_col) % 50 == 0)
    else:
        q = _quantized_flat(queries, id_col, vec_col)
    q = q.select(F.col(id_col).alias("query_id"), "i", F.col("xq").alias("qx"))
    dots = (
        q.join(flat, "i")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum(F.col("qx") * F.col("xq")).alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor_id").asc())
    return (
        dots.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: (id, centroid_id, l2q) — each vector joins
    its nearest coarse centroid by exact quantized L2, ties broken by the
    smaller centroid id.

    Centroids are the ``n_centroids`` smallest-id vectors (a deterministic
    'training' that both engines reproduce — k-means would converge to an
    engine-dependent float fixpoint and break the oracle). The centroid
    table broadcasts; assignment is one zip_with expression per row pair —
    no shuffle beyond the broadcast join and the per-id argmin aggregate.
    """
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cv")
    )
    l2q = F.aggregate(
        F.zip_with(
            vec_col, "__cv", lambda a, b: (_quantize(a) - _quantize(b)) * (_quantize(a) - _quantize(b))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d = emb.crossJoin(F.broadcast(cents)).withColumn("__d", l2q)
    return (
        d.groupBy(id_col)
        .agg(F.min(F.struct(F.col("__d"), F.col("centroid_id"))).alias("__m"))
        .select(
            id_col,
            F.col("__m.centroid_id").alias("centroid_id"),
            F.col("__m.__d").alias("l2q"),
        )
    )


def ivf_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate-join formulation of ``ivf_ann_topk`` — the oracle-shaped
    reference the kernel is parity-tested against (not a query path)."""
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col)
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cv")
    )
    q = emb.filter(F.col(id_col) % 50 == 0).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    l2q = F.aggregate(
        F.zip_with(
            "__qv", "__cv", lambda a, b: (_quantize(a) - _quantize(b)) * (_quantize(a) - _quantize(b))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("centroid_id").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__d", l2q)
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        probes.join(assigned.select(id_col, "centroid_id"), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor_id").asc())
    return (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def _assign_to(vecs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """(id, centroid_id): argmin quantized L2 against a broadcast centroid
    table (cents: centroid_id, __cv array<long>), ties to smaller id."""
    l2 = F.aggregate(
        F.zip_with("__xq", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("__d", l2)
        .groupBy(id_col)
        .agg(F.min(F.struct(F.col("__d"), F.col("centroid_id"))).alias("__m"))
        .select(id_col, F.col("__m.centroid_id").alias("centroid_id"))
    )


def ivf_train_lloyd_join(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Join formulation of ``ivf_train_lloyd`` — the oracle-shaped
    reference the corpus-pass kernel is parity-tested against."""
    vecs = _quantized_vecs(emb, id_col, vec_col, "__xq")
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"),
        F.transform(F.col(vec_col), lambda x: _quantize(x)).alias("__cv"),
    )
    for _ in range(iters):
        assigned = _assign_to(vecs, cents, id_col)
        comp = (
            assigned.join(vecs, id_col)
            .select("centroid_id", F.posexplode("__xq").alias("d", "xq"))
            .groupBy("centroid_id", "d")
            .agg(F.sum("xq").alias("__s"), F.count(F.lit(1)).alias("__c"))
            .withColumn("cq", F.expr("CAST(div(__s, __c) AS BIGINT)"))
        )
        cents = comp.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "cq"))), lambda s: s["cq"]
            ).alias("__cv")
        )
    return cents


def ivf_lloyd_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate-join formulation of ``ivf_lloyd_ann_topk`` — the
    parity-test reference (not a query path; uses the join training so
    the topk parity pin covers training parity transitively)."""
    cents = ivf_train_lloyd_join(emb, n_centroids, iters, id_col, vec_col)
    vecs = _quantized_vecs(emb, id_col, vec_col, "__xq")
    assigned = _assign_to(vecs, cents, id_col)
    l2 = F.aggregate(
        F.zip_with("__xq", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("centroid_id").asc()
    )
    probes = (
        vecs.filter(F.col(id_col) % 50 == 0)
        .select(F.col(id_col).alias("query_id"), "__xq")
        .crossJoin(F.broadcast(cents))
        .withColumn("__d", l2)
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        probes.join(assigned.select(id_col, "centroid_id"), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def ann_lsh_topk_join(
    emb: DataFrame,
    k: int = 5,
    n_tables: int = 4,
    n_bits: int = 6,
    probe_radius: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
    kernel_buckets: bool | None = None,
) -> DataFrame:
    """Candidate-join formulation of ``ann_lsh_topk`` — the oracle-shaped
    parity-test reference (not a query path).

    Scale path: candidates are bounded by (tables x probes x bucket
    occupancy); the only shuffles are the (table, bucket) candidate join
    and the id-keyed vector re-attach. On clustered real-world embeddings
    the candidate fraction drops exponentially with n_bits; the uniform
    fixture is the worst case (documented in BENCH notes) — the default
    (4 tables, 6 bits, radius 2) holds recall@5 >= 0.95 there.

    ``kernel_buckets`` picks the bucket implementation (None = auto by
    dim, see ``_buckets_keyed``): expression buckets stay JVM-codegen at
    dim<=128; the broadcast-matrix kernel keeps planning O(1) in dim.
    """
    keyed = _buckets_keyed(emb, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets)
    if queries is None:
        q = keyed.filter(F.col(id_col) % 50 == 0)
    else:
        q = _buckets_keyed(
            queries, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets
        )
    probes = q.select(
        F.col(id_col).alias("query_id"),
        "table",
        F.explode(
            F.array(*[F.lit(m) for m in probe_masks(n_bits, probe_radius)])
        ).alias("mask"),
        F.col("bucket").alias("qbucket"),
    ).select(
        "query_id", "table", F.col("qbucket").bitwiseXOR(F.col("mask")).alias("bucket")
    )
    # candidate id pairs, deduped across tables/probes BEFORE the vector
    # re-attach (distinct on two ids, never on arrays)
    cand = (
        probes.join(keyed, ["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    qvec = (queries if queries is not None else emb).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe")
    )
    nvec = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(qvec, "query_id")
        .join(nvec, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def _subvectors(
    emb: DataFrame, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, s, __sv array<long>): the vector scalar-quantized and split
    into ``m`` contiguous subspaces (one row per subspace). The dimension
    is read from one row; slicing happens JVM-side."""
    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("pq: empty embedding table")
    dim = len(first[0])
    if m < 1 or dim % m:
        raise ValueError(f"pq: m={m} must divide dim={dim}")
    sd = dim // m
    q = _quantized_vecs(emb, id_col, vec_col, "__xq")
    return q.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice("__xq", s * sd + 1, sd) for s in range(m)])
        ).alias("s", "__sv"),
    )


def _pq_assign(sub: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """(id, s, code): per-subspace argmin quantized L2 against the
    broadcast codebook (ties to the smaller code — struct-min order).
    The join formulation of ``pq_encode``."""
    l2 = F.aggregate(
        F.zip_with("__sv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        sub.join(F.broadcast(cents), "s")
        .withColumn("__d", l2)
        .groupBy(id_col, "s")
        .agg(F.min(F.struct(F.col("__d"), F.col("code"))).alias("__m"))
        .select(id_col, "s", F.col("__m.code").alias("code"))
    )


def _pq_join_artifacts(
    emb: DataFrame, m: int, k_codes: int, iters: int, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sub, codebook, codes) of the PQ join formulations: the pinned
    subvector frame, ``pq_train``'s codebook and the corpus codes from
    ``_pq_assign``."""
    cents = pq_train(emb, m, k_codes, iters, id_col, vec_col)
    sub = scan_spread(_subvectors(emb, m, id_col, vec_col)).localCheckpoint(
        eager=True
    )
    codes = _pq_assign(sub, cents, id_col).localCheckpoint(eager=True)
    return sub, cents, codes


def pq_train_join(
    emb: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _sub: DataFrame | None = None,
) -> DataFrame:
    """Join formulation of ``pq_train`` — the oracle-shaped reference the
    corpus-pass kernel is parity-tested against (not a query path)."""
    sub = _sub if _sub is not None else _subvectors(emb, m, id_col, vec_col)
    cents = sub.filter(F.col(id_col) < k_codes).select(
        "s", F.col(id_col).alias("code"), F.col("__sv").alias("__cv")
    )
    for _ in range(iters):
        a = _pq_assign(sub, cents, id_col)
        comp = (
            a.join(sub, [id_col, "s"])
            .select("s", "code", F.posexplode("__sv").alias("ds", "xq"))
            .groupBy("s", "code", "ds")
            .agg(F.sum("xq").alias("__t"), F.count(F.lit(1)).alias("__c"))
            .withColumn("cq", F.expr("CAST(div(__t, __c) AS BIGINT)"))
        )
        cents = comp.groupBy("s", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ds", "cq"))), lambda x: x["cq"]
            ).alias("__cv")
        ).localCheckpoint(eager=True)
    return cents


def pq_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Broadcast-join formulation of ``pq_ann_topk`` — the oracle-shaped
    reference the kernel is parity-tested against (not a query path)."""
    sub, cents, codes = _artifacts or _pq_join_artifacts(
        emb, m, k_codes, iters, id_col, vec_col
    )

    l2 = F.aggregate(
        F.zip_with("__sv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qd = (
        sub.filter(F.col(id_col) % 50 == 0)
        .select(F.col(id_col).alias("query_id"), "s", "__sv")
        .join(F.broadcast(cents), "s")
        .select("query_id", "s", "code", l2.alias("qd"))
    )
    adc = (
        codes.join(F.broadcast(qd), ["s", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("qd").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def pq_ann_rescored_join(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Join formulation of ``pq_ann_rescored`` — the oracle-shaped
    reference the kernel pair is parity-tested against."""
    short = pq_ann_topk_join(
        emb, k=shortlist, m=m, k_codes=k_codes, iters=iters,
        id_col=id_col, vec_col=vec_col, _artifacts=_artifacts,
    ).select("query_id", "neighbor_id")
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def sq8_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension broadcast-join formulation of ``sq8_ann_topk`` —
    the oracle-shaped reference the kernel is parity-tested against."""
    flat = _sq8_flat(emb, id_col, vec_col)
    stats = _sq8_stats(flat)
    deq = (
        flat.join(F.broadcast(stats), "d")
        .select(
            F.col(id_col),
            "d",
            (
                F.col("mn")
                + (
                    (((F.col("xq") - F.col("mn")) * 255) / F.col("span"))
                    .cast("long")
                    * F.col("span")
                    / F.lit(255)
                ).cast("long")
            ).alias("dq"),
        )
    )
    q = flat.filter(F.col(id_col) % 50 == 0).select(
        F.col(id_col).alias("query_id"), "d", "xq"
    )
    dist = (
        deq.join(F.broadcast(q), "d")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(
            F.sum(
                (F.col("xq") - F.col("dq")) * (F.col("xq") - F.col("dq"))
            ).alias("adist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


def ivf_pq_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Candidate-join formulation of ``ivf_pq_ann_topk`` — the
    oracle-shaped reference the kernel is parity-tested against."""
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col)
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cv")
    )
    q = emb.filter(F.col(id_col) % 50 == 0).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    l2q = F.aggregate(
        F.zip_with(
            "__qv", "__cv",
            lambda a, b: (_quantize(a) - _quantize(b)) * (_quantize(a) - _quantize(b)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("centroid_id").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__d", l2q)
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        probes.join(assigned.select(id_col, "centroid_id"), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )

    sub, pq_cents, codes_raw = _artifacts or _pq_join_artifacts(
        emb, m, k_codes, iters, id_col, vec_col
    )
    codes = codes_raw.select(F.col(id_col).alias("neighbor_id"), "s", "code")
    l2 = F.aggregate(
        F.zip_with("__sv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qd = (
        sub.filter(F.col(id_col) % 50 == 0)
        .select(F.col(id_col).alias("query_id"), "s", "__sv")
        .join(F.broadcast(pq_cents), "s")
        .select("query_id", "s", "code", l2.alias("qd"))
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(qd), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def ivf_pq_ann_rescored_join(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Join formulation of ``ivf_pq_ann_rescored`` — the oracle-shaped
    reference the kernel pair is parity-tested against."""
    arts = _pq_join_artifacts(emb, m, k_codes, iters, id_col, vec_col)
    short = ivf_pq_ann_topk_join(
        emb, k=shortlist, n_centroids=n_centroids, nprobe=nprobe, m=m,
        k_codes=k_codes, iters=iters, id_col=id_col, vec_col=vec_col,
        _artifacts=arts,
    ).select("query_id", "neighbor_id")
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )
