"""Similarity search over embedding columns (array<float>).

Exact brute-force top-k on scalar-quantized dot products (integer sums:
order-independent, bit-reproducible in any engine — the oracle contract),
plus a sign-LSH bucketed approximate variant as the scale path.

At 100 TB the exact path is the per-bucket kernel of the LSH/IVF variant,
not a global cross join: candidates are bounded by bucket occupancy and
the shuffle key is the bucket id.

Every corpus top-k family (exact, IVF, LSH, PQ-ADC, SQ8) runs through
``corpus_topk``: the families supply only a driver-side ``prepare`` and
a per-batch ``score``. The two-stage PQ families (``pq_ann_rescored``,
``ivf_pq_ann_rescored``) are the same single pass with a ``shortlist``:
each batch keeps its ADC shortlist and scores the exact quantized dot
of just those candidates from the vectors already in the task, and the
merge cuts the global shortlist before ranking by that dot. Every
corpus pass (top-k, Lloyd rounds, PQ encoding, LSH buckets) is a
``mapInArrow`` kernel that rebuilds its batch's (n, dim) matrix from
the Arrow list column (``_batch_matrix``); trained artifacts (seeds,
codebooks, centroids) stay on the driver as NumPy arrays between
stages. Their DataFrame join formulations live in
``tests/reference/ann_join.py`` as parity references.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.cells import in_grid, stencil, tile_ixy

# int64 min: the score of a (query, corpus) pair that is not a candidate
NEG = -(1 << 63)


def topk_dot_kernel(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_rows: int = 65_536,
) -> DataFrame:
    """Exact top-k neighbors by quantized dot product — the scale-safe
    plan: ``corpus_topk`` passes with the query matrix broadcast.
    Bit-identical to the dimension-explode SQL formulation (the DuckDB
    oracle spec, kept as ``tests/reference/ann_join.py::topk_dot``: same
    quantization, same (dot desc, id asc) total order), which
    materializes |queries| x |corpus| x dim rows into a shuffle — a
    factored cross product that dies at 100x. Quantization runs JVM-side
    (``_quantized_vecs``) for byte-exact rounding parity; the kernel only
    does integer arithmetic (``_guarded_matmul``). ``queries=None``
    means every % 50 == 0 id (the driver fixture), taken from the
    unspread frame so the query collect is one job."""
    qsrc = _corpus_vecs(emb if queries is None else queries, id_col, vec_col)
    return corpus_topk(
        _corpus_vecs(emb, id_col, vec_col, spread=True),
        _fixture_queries(qsrc) if queries is None else qsrc,
        k, lambda qids, Q: Q,
        lambda Q, cid, X: _guarded_matmul(Q, X), shard_rows=shard_rows,
    )


def lsh_sign(table: int, bit: int, dim: int) -> int:
    """Rademacher ±1 entry of the seeded projection matrix: parity of the
    first hex digit of md5("{table}_{bit}_{dim}"). Deterministic and
    engine-portable — the DuckDB oracle inlines the identical matrix."""
    import hashlib

    return 1 if int(hashlib.md5(f"{table}_{bit}_{dim}".encode()).hexdigest()[0], 16) % 2 == 0 else -1


def probe_masks(n_bits: int, radius: int) -> list[int]:
    """All XOR masks with popcount <= radius (multi-probe LSH: also search
    buckets within Hamming ``radius`` of the query's bucket)."""
    return [m for m in range(1 << n_bits) if bin(m).count("1") <= radius]


def _quantize(x):
    return F.round(x.cast("double") * 1000.0).cast("long")


def sign_lsh_buckets(
    emb: DataFrame,
    n_tables: int = 4,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, embedding, table, bucket): one row per (vector, hash table).

    Each of ``n_tables`` independent tables hashes the vector with
    ``n_bits`` signed random projections r_b (seeded Rademacher ±1 rows,
    ``lsh_sign``); bit b of the bucket = [<x_quantized, r_b> > 0]. The
    projections are pure column expressions (zip_with + aggregate over a
    sign-literal array): zero shuffle, zero UDF, one scan (tables emitted
    via posexplode of an array, not a per-table union). Integer quantized
    dot products make bucket ids bit-reproducible in the DuckDB oracle.
    """
    bucket_exprs = []
    for t in range(n_tables):
        bucket = None
        for b in range(n_bits):
            sarr = F.array(
                *[F.lit(lsh_sign(t, b, d)).cast("long") for d in range(dim)]
            )
            dot = F.aggregate(
                F.zip_with(F.col(vec_col), sarr, lambda x, s: _quantize(x) * s),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            term = F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0))
            bucket = term if bucket is None else bucket + term
        bucket_exprs.append(bucket.cast("int"))
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(F.array(*bucket_exprs)).alias("table", "bucket"),
    )


def sign_lsh_buckets_kernel(
    emb: DataFrame,
    n_tables: int = 4,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket): bit-identical buckets to ``sign_lsh_buckets``
    computed by a NumPy ``mapInArrow`` kernel instead of column
    expressions.

    The expression form embeds n_tables x n_bits x dim sign literals into
    the plan — 1,536 nodes at dim=64 (fine), ~150k at real embedding dims
    (768-1536), where Catalyst planning of the literal trees, not
    execution, becomes the bottleneck. Here the plan carries ONE
    mapInArrow node regardless of dim; the (T*B, dim) ±1 matrix rides in
    the kernel's closure as int8 (37 KB at dim 1536), so there is no
    broadcast to release. Quantization stays JVM-side (``F.transform`` +
    ``_quantize``) for byte-exact oracle parity; the matmul is exact
    float64 BLAS while magnitudes stay under 2^53, else int64 — the
    ``topk_dot_kernel`` discipline. The expression form remains the
    DuckDB oracle spec; parity at dim=64 is regression-tested."""
    import numpy as np

    S = _sign_matrix(n_tables, n_bits, dim)
    tables = np.arange(n_tables, dtype=np.int32)

    def buckets(cid, X):
        return (
            np.repeat(cid, n_tables),
            np.tile(tables, len(cid)),
            _lsh_codes(X, S, n_bits).reshape(-1),
        )

    return _arrow_map(
        _corpus_vecs(emb, id_col, vec_col),
        buckets,
        f"{id_col} long, table int, bucket int",
        dim,
    )


def _sign_matrix(n_tables: int, n_bits: int, dim: int):
    """The (n_tables * n_bits, dim) int8 ±1 ``lsh_sign`` projection
    matrix, row ``t * n_bits + b`` for bit b of table t."""
    import numpy as np

    return np.array(
        [
            [lsh_sign(t, b, d) for d in range(dim)]
            for t in range(n_tables)
            for b in range(n_bits)
        ],
        dtype=np.int8,
    )


def _lsh_codes(X, S, n_bits: int):
    """(n, n_tables) int64 bucket ids of quantized vectors: bit b of table
    t = [<x_q, r_tb> > 0] — the ``sign_lsh_buckets`` contract,
    byte-identical (test_round4_fixes parity)."""
    import numpy as np

    bits = (_guarded_matmul(X, S) > 0).astype(np.int64)
    bits = bits.reshape(len(X), len(S) // n_bits, n_bits)
    return (bits << np.arange(n_bits, dtype=np.int64)).sum(axis=2)


def _buckets_keyed(
    emb: DataFrame,
    n_tables: int,
    n_bits: int,
    dim: int,
    id_col: str,
    vec_col: str,
    kernel: bool | None,
) -> DataFrame:
    """(id, table, bucket) via the expression form or the Arrow
    kernel. ``kernel=None`` auto-selects: expressions under dim<=128
    (whole-stage codegen, zero Python), the kernel above (where the
    literal trees would dominate planning)."""
    if kernel is None:
        kernel = dim > 128
    if kernel:
        return sign_lsh_buckets_kernel(emb, n_tables, n_bits, dim, id_col, vec_col)
    return sign_lsh_buckets(emb, n_tables, n_bits, dim, id_col, vec_col).select(
        F.col(id_col), "table", "bucket"
    )


def _guarded_matmul(A, B):
    """Exact integer A @ B.T for (n, dim) integer operands: float64 BLAS
    while every product times the inner dim stays under 2^53 (exact in
    IEEE double), else int64."""
    import numpy as np

    amax = int(np.abs(A).max()) if A.size else 0
    bmax = int(np.abs(B).max()) if B.size else 0
    dim = A.shape[1] if A.ndim == 2 else 0
    if amax * bmax * dim < (1 << 53):
        return (A.astype(np.float64) @ B.T.astype(np.float64)).astype(np.int64)
    return A @ B.T


def _sq_l2(A, B):
    """Exact integer squared L2 between every row of A and every row of
    B: (nA, nB) int64, ``|a|^2 - 2 a.b + |b|^2`` with the dot through
    ``_guarded_matmul``."""
    return (
        (A * A).sum(axis=1)[:, None]
        - 2 * _guarded_matmul(A, B)
        + (B * B).sum(axis=1)[None, :]
    )


def _probe_mask(Q, C, ids, nprobe: int):
    """(nq, n_lists) bool: each query's ``nprobe`` nearest coarse lists
    under (l2 asc, list id asc) — the join form's ``row_number() <=
    nprobe`` probe rule. ``C`` rows follow ``ids``."""
    import numpy as np

    d2 = _sq_l2(Q, C)
    mask = np.zeros(d2.shape, dtype=bool)
    npb = min(nprobe, len(ids))
    for i in range(len(Q)):
        mask[i, np.lexsort((ids, d2[i]))[:npb]] = True
    return mask


def _np_partial_topk(D, cid, k):
    """(rows, cols): per query row of a masked score matrix (invalid
    pairs already set to ``NEG``), the positions of its partial top-k
    under (score desc, id asc). NEG entries can dominate a row, so they
    are dropped BEFORE the threshold partition (a NEG threshold would
    let NEG entries crowd real candidates out of the truncation)."""
    import numpy as np

    rows, cols = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
    for qi, row in enumerate(D):
        valid = np.flatnonzero(row != NEG)
        if valid.size == 0:
            continue
        kk = min(k, valid.size)
        vr = row[valid]
        thresh = np.partition(vr, valid.size - kk)[valid.size - kk]
        keep = valid[vr >= thresh]
        keep = keep[np.lexsort((cid[keep], -row[keep]))][:kk]
        rows.append(np.full(keep.size, qi, dtype=np.int64))
        cols.append(keep)
    return np.concatenate(rows), np.concatenate(cols)


def _merge_topk_partials(
    parts: list[DataFrame],
    k: int,
    out_col: str = "dot",
    negate: bool = False,
    shortlist: int | None = None,
) -> DataFrame:
    """Global (dot desc, id asc) row_number merge over the per-partition
    partial winners. The ascending-metric families (ADC / SQ8 distances)
    ride the same merge by negating the metric in their kernels;
    ``negate=True`` flips it back on output (dot desc == distance asc,
    ties id asc either way). With ``shortlist`` the partials carry an
    ``exact`` column: the first window keeps each query's global top
    ``shortlist`` by score, and the exact dot takes the score's place
    for the top-k rank."""
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    if shortlist:
        merged = (
            merged.withColumn("__s", F.row_number().over(w))
            .filter(F.col("__s") <= shortlist)
            .select("query_id", "neighbor_id", F.col("exact").alias("dot"))
        )
    out_val = (-F.col("dot")).cast("long") if negate else F.col("dot")
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", out_val.alias(out_col))
    )


def _empty_topk(spark, out_col: str = "dot") -> DataFrame:
    """The ranked top-k schema with no rows (no queries or no candidates)."""
    return spark.createDataFrame(
        [], f"query_id long, neighbor_id long, rank int, {out_col} long"
    )


def _batch_matrix(batch, dim: int):
    """(ids, X) of a (``__cid``, ``__xq``) Arrow batch: the int64 ids and
    the (n, dim) int64 matrix reshaped from the list column's flat
    values, with no per-row Python objects. Raises on a null vector or
    one whose length is not ``dim``."""
    import numpy as np
    import pyarrow.compute as pc

    xq = batch.column("__xq")
    flat = xq.flatten()
    n = batch.num_rows
    # n * dim values with no list longer than dim: every list is dim long
    if xq.null_count or flat.null_count or len(flat) != n * dim or (
        n and pc.max(pc.list_value_length(xq)).as_py() != dim
    ):
        raise ValueError(f"embedding vectors must all have {dim} non-null values")
    return (
        batch.column("__cid").to_numpy().astype(np.int64, copy=False),
        flat.to_numpy().astype(np.int64, copy=False).reshape(n, dim),
    )


def _arrow_map(vecs: DataFrame, fn, schema: str, dim: int) -> DataFrame:
    """One ``mapInArrow`` pass over a (``__cid``, ``__xq``) frame:
    ``fn(cid, X)`` gets each non-empty batch as ``_batch_matrix`` arrays
    and returns its output columns in ``schema`` (DDL) order; each
    output batch is built with that schema's Arrow types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    out = DataType.fromDDL(schema)
    arrow = to_arrow_schema(out)

    def kernel(batches):
        for b in batches:
            if b.num_rows:
                cols = fn(*_batch_matrix(b, dim))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
                    schema=arrow,
                )

    return vecs.mapInArrow(kernel, out)


def corpus_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    prepare,
    score,
    out_col: str = "dot",
    negate: bool = False,
    shard_rows: int = 65_536,
    shortlist: int | None = None,
) -> DataFrame:
    """Per-query top-k over ``corpus`` as broadcast-query corpus passes —
    the one driver loop behind every corpus top-k family. ``corpus`` and
    ``queries`` are (``__cid`` long, ``__xq`` array<long>) frames.

    Per query shard, ``prepare(qids, Q)`` builds the family's payload on
    the driver (probe mask, bucket mask, ADC tables) from the id-sorted
    query ids and quantized matrix, and ``(qids, payload, Q or None)``
    is broadcast. One ``mapInArrow`` pass over the corpus calls
    ``score(payload, cid, X)`` per batch for an (nq, nb) int64 matrix:
    higher is better and ``NEG`` marks a pair that is not a candidate.
    Self pairs are masked, each batch keeps its exact partial top-k
    under (score desc, id asc), the shard's partial winners are
    materialized (eager localCheckpoint) and only then is its broadcast
    destroyed — driver and executors never hold more than one shard's
    payload. One window merge ranks the union of all shards; shards
    partition the query set, so the result is the union of exact
    per-shard answers. Ascending metrics (distances) score ``-d`` and
    pass ``negate=True`` to get ``d`` back in ``out_col``.

    Two-stage retrieval (``shortlist``): the broadcast also ships ``Q``,
    each batch keeps its partial top-``shortlist`` by score and adds the
    exact quantized dot of just those pairs (the vectors are already in
    the task), and the merge takes each query's global top-``shortlist``
    by score, then its top-k by (dot desc, id asc) into ``out_col``.
    That is exactly the two-pass answer: every member of the global
    shortlist is in its own batch's partial shortlist, since (score,
    id) is a total order.

    Gate and cost model: the queries are collected by ONE bounded job,
    ``limit(shard_rows + 1)``; up to ``shard_rows`` rows that collect is
    the only shard and no count runs. Above it, the sorted unique query
    ids are cut into ``ceil(n_q / shard_rows)`` contiguous id ranges,
    each collected by its own range filter. A call therefore costs
    ``ceil(n_q / shard_rows)`` full corpus scans, and no broadcast holds
    more than ``shard_rows`` query rows (query ids are unique). Crossing
    the threshold costs time — one more corpus scan per shard — never
    memory, so no second gate is needed."""
    import math

    import numpy as np

    def shard_pdfs():
        first = queries.limit(shard_rows + 1).toPandas()
        if len(first) <= shard_rows:
            yield first
            return
        ids = np.unique(queries.select("__cid").toPandas()["__cid"].to_numpy())
        for r in np.array_split(ids, math.ceil(len(ids) / shard_rows)):
            yield queries.filter(
                F.col("__cid").between(int(r[0]), int(r[-1]))
            ).toPandas()

    def run_with(bc):
        def run(cid, X):
            qids, payload, Q = bc.value
            D = score(payload, cid, X)
            D[qids[:, None] == cid[None, :]] = NEG  # never match self
            rows, cols = _np_partial_topk(D, cid, shortlist or k)
            out = [qids[rows], cid[cols], D[rows, cols]]
            if shortlist:
                out.append((Q[rows] * X[cols]).sum(axis=1))
            return out

        return run

    schema = "query_id long, neighbor_id long, dot long"
    if shortlist:
        schema += ", exact long"
    sc = corpus.sparkSession.sparkContext
    parts = []
    for q_pdf in shard_pdfs():
        if not len(q_pdf):
            continue
        q_pdf = q_pdf.sort_values("__cid", kind="stable")
        qids = q_pdf["__cid"].to_numpy(np.int64)
        Q = np.array(q_pdf["__xq"].tolist(), dtype=np.int64)
        bc = sc.broadcast((qids, prepare(qids, Q), Q if shortlist else None))
        parts.append(
            _arrow_map(corpus, run_with(bc), schema, Q.shape[1]).localCheckpoint(
                eager=True
            )
        )
        bc.destroy()
    if not parts:
        return _empty_topk(corpus.sparkSession, out_col)
    return _merge_topk_partials(parts, k, out_col, negate, shortlist)


def _fixture_queries(vecs: DataFrame) -> DataFrame:
    """The % 50 == 0 rows of a (``__cid``, ``__xq``) frame: the driver
    fixture's query sample."""
    return vecs.filter(F.col("__cid") % 50 == 0)


def _seed_vecs(vecs: DataFrame, n: int):
    """(ids, S): the rows of a (``__cid``, ``__xq``) frame with
    ``__cid < n`` — the deterministic smallest-id seeds — as id-sorted
    int64 ids and an (n_seeds, dim) int64 matrix (None without rows),
    in one collect. Id-ascending rows make NumPy's first-minimum
    ``argmin`` the join form's (distance, id) struct-min tie rule."""
    import numpy as np

    pdf = vecs.filter(F.col("__cid") < n).toPandas().sort_values("__cid", kind="stable")
    ids = pdf["__cid"].to_numpy(np.int64)
    return ids, np.array(pdf["__xq"].tolist(), dtype=np.int64) if len(ids) else None


def _ivf_topk_kernel(
    corpus: DataFrame,
    queries: DataFrame,
    cent_ids,
    C,
    k: int,
    nprobe: int,
    shard_rows: int = 65_536,
) -> DataFrame:
    """The IVF rescore shared by both IVF families, as ``corpus_topk``
    passes: the shard's probe mask is the payload; each batch assigns
    its vectors to their nearest coarse list (argmin quantized L2, ties
    to the smaller centroid id) and scores the exact quantized dot of
    the probed pairs. ``cent_ids`` (ascending) and ``C`` are the coarse
    centroids as the driver already holds them, quantized.

    Byte-identical to ``tests/reference/ann_join.py::ivf_ann_topk_join``
    (same quantization, same (l2 asc, centroid_id asc) probe order, same
    (dot desc, id asc) order; pytest-pinned, and the DuckDB oracle gates
    the registry entries), which shipped every (query, candidate) pair
    through two vector re-attach joins — with nprobe/n_centroids = 1/2 a
    half cross join (218 s at sf1); here it is one matmul per batch."""
    if not len(cent_ids):
        # no coarse lists -> no probes -> no candidates
        return _empty_topk(corpus.sparkSession)

    def score(payload, cid, X):
        Q, mask = payload
        D = _guarded_matmul(Q, X)
        # nearest coarse list per corpus vector: position into the
        # centroid_id-sorted C, so argmin's first-minimum rule IS the
        # (l2, centroid_id) struct-min tie rule
        D[~mask[:, _sq_l2(X, C).argmin(axis=1)]] = NEG
        return D

    return corpus_topk(
        corpus,
        queries,
        k,
        lambda qids, Q: (Q, _probe_mask(Q, C, cent_ids, nprobe)),
        score,
        shard_rows=shard_rows,
    )


def ivf_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: queries probe their ``nprobe`` nearest coarse lists and
    rescore candidates with the exact quantized dot (the other classic ANN
    scale path next to sign-LSH; candidates bounded by the probed lists'
    occupancy). Deterministic end to end -> exact DuckDB oracle.

    Executes as the masked ``_ivf_topk_kernel`` corpus pass (r8: the
    candidate-join formulation, kept as
    ``tests/reference/ann_join.py::ivf_ann_topk_join`` and pinned
    byte-identical in pytest, shipped every (query, candidate) pair
    through two vector joins — quadratic in probed-list occupancy). The
    seed centroids and the queries are collected from the unspread
    quantized frame, one job each."""
    vecs = _corpus_vecs(emb, id_col, vec_col)
    cent_ids, C = _seed_vecs(vecs, n_centroids)
    return _ivf_topk_kernel(
        _corpus_vecs(emb, id_col, vec_col, spread=True),
        _fixture_queries(vecs),
        cent_ids, C, k, nprobe,
    )


def _quantized_vecs(emb: DataFrame, id_col: str, vec_col: str, out: str) -> DataFrame:
    """(id, out: array<long>): whole vector scalar-quantized JVM-side."""
    return emb.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: _quantize(x)).alias(out)
    )


def _corpus_vecs(
    emb: DataFrame, id_col: str, vec_col: str, spread: bool = False, pin: bool = False
) -> DataFrame:
    """(__cid, __xq): the quantized frame every corpus pass scans.
    ``spread`` rebalances it over the session's cores (``scan_spread``);
    ``pin`` materializes it (eager localCheckpoint) for callers that scan
    it more than once."""
    from .spread import scan_spread

    df = _quantized_vecs(emb, id_col, vec_col, "__xq").select(
        F.col(id_col).alias("__cid"), "__xq"
    )
    if spread:
        df = scan_spread(df)
    return df.localCheckpoint(eager=True) if pin else df


def _lloyd_centroids(corpus: DataFrame, n_centroids: int, iters: int):
    """(ids, C): the IVF Lloyd centroids, id-ascending, as the driver
    holds them after the last round (C None when no id is below
    ``n_centroids``)."""
    ids, S0 = _seed_vecs(corpus, n_centroids)
    if S0 is None:
        return ids, None
    return _lloyd_rounds(corpus, {0: (ids, S0)}, iters, S0.shape[1])[0]


def ivf_train_lloyd(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse 'training': ``iters`` Lloyd rounds in pure integer
    arithmetic from the deterministic smallest-id seeds. Each round
    reassigns every vector to its nearest centroid (quantized L2, ties to
    the smaller centroid id) and recomputes centroids as the per-dimension
    truncated integer mean (``div`` — DuckDB ``//`` matches Spark's
    toward-zero truncation on negatives, verified). Deterministic end to
    end -> the oracle unrolls the identical rounds in SQL; no
    engine-dependent float fixpoint. Lists that lose all members vanish
    (both engines drop them identically via the inner join).

    Returns (centroid_id, __cv array<long>). Executes as the shared
    ``_lloyd_rounds`` corpus-pass kernel (r8, the m=1 case of the PQ
    training): one pass per round with map-side partial sums instead of
    the assignment join -> re-attach join -> posexplode aggregate chain
    (~10 shuffle stages per round); the join formulation survives as
    ``tests/reference/ann_join.py::ivf_train_lloyd_join``, pytest-pinned
    byte-identical."""
    ids, C = _lloyd_centroids(
        _corpus_vecs(emb, id_col, vec_col, spread=True, pin=True), n_centroids, iters
    )
    rows = [] if C is None else [
        (int(i), [int(v) for v in c]) for i, c in zip(ids, C)
    ]
    return emb.sparkSession.createDataFrame(rows, "centroid_id long, __cv array<long>")


def ivf_lloyd_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over Lloyd-refined coarse lists: with centroids that
    actually track the data, the same nprobe buys more recall per scanned
    candidate than seed-vector lists (the VERDICT-flagged weakness of the
    seed-only variant). Probing, assignment and the exact quantized-dot
    rescore run in the shared masked ``_ivf_topk_kernel`` over the same
    pinned corpus the training scanned, with the trained centroids
    passed straight from the driver (the join formulation survives as
    ``tests/reference/ann_join.py::ivf_lloyd_ann_topk_join`` for
    parity)."""
    corpus = _corpus_vecs(emb, id_col, vec_col, spread=True, pin=True)
    cent_ids, C = _lloyd_centroids(corpus, n_centroids, iters)
    return _ivf_topk_kernel(
        corpus, _fixture_queries(corpus), cent_ids, C, k, nprobe
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold_q: int = 320_000,
    n_tables: int = 4,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel_buckets: bool | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: (a < b, quantized dot >= threshold)
    restricted to pairs sharing at least one LSH bucket — the candidate
    restriction IS the operator's deterministic spec (mirrored by the
    oracle), which is how near-dup dedup runs at scale: the bucket join
    bounds pair generation, the integer-dot rescore is exact.

    threshold_q is in quantized units: unit-norm embeddings x1000 make a
    dot of 1e6 ~= cosine 1.0, so 320_000 ~= cos 0.32.
    """
    keyed = _buckets_keyed(emb, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"), F.col(f"b.{id_col}").alias("vec_b")
        )
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("__ea"))
    vb = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("__eb"))
    dot = F.aggregate(
        F.zip_with("__ea", "__eb", lambda x, y: _quantize(x) * _quantize(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("dot", dot)
        .filter(F.col("dot") >= threshold_q)
        .select("vec_a", "vec_b", "dot")
    )


def _lsh_topk_kernel(
    emb: DataFrame,
    queries: DataFrame | None,
    k: int,
    n_tables: int,
    n_bits: int,
    probe_radius: int,
    dim: int,
    id_col: str,
    vec_col: str,
    shard_rows: int = 65_536,
) -> DataFrame:
    """The multi-probe sign-LSH top-k as ``corpus_topk`` passes: the
    query shard's (table, probed-bucket) mask is the payload, and each
    batch scores the exact quantized dot of the pairs where SOME table's
    corpus bucket (the ``sign_lsh_buckets_kernel`` matmul) is within
    Hamming ``probe_radius`` of the query's bucket — exactly the
    candidate set of the (table, bucket) join + distinct in
    ``tests/reference/ann_join.py::ann_lsh_topk_join``, never
    materialized. On the uniform fixture that set approaches |Q| x
    |corpus| (the LSH worst case), where the join + two vector
    re-attaches grew superlinearly; the masked matmul pays the same dots
    at BLAS speed."""
    import numpy as np

    S = _sign_matrix(n_tables, n_bits, dim)
    pmasks = np.array(probe_masks(n_bits, probe_radius), dtype=np.int64)
    n_buckets = 1 << n_bits

    def prepare(qids, Q):
        qb = _lsh_codes(Q, S, n_bits)
        mask = np.zeros((len(qids), n_tables, n_buckets), dtype=bool)
        rows = np.arange(len(qids))
        for m in pmasks:
            for t in range(n_tables):
                mask[rows, t, qb[:, t] ^ m] = True
        return Q, mask

    def score(payload, cid, X):
        Q, mask = payload  # mask: (nq, T, n_buckets) bool
        code = _lsh_codes(X, S, n_bits)  # (nb, T)
        valid = np.zeros((len(Q), len(X)), dtype=bool)
        for t in range(n_tables):
            valid |= mask[:, t, code[:, t]]
        D = _guarded_matmul(Q, X)
        D[~valid] = NEG
        return D

    corpus = _corpus_vecs(emb, id_col, vec_col)
    qsrc = (
        _fixture_queries(corpus)
        if queries is None
        else _corpus_vecs(queries, id_col, vec_col)
    )
    return corpus_topk(corpus, qsrc, k, prepare, score, shard_rows=shard_rows)


def ann_lsh_topk(
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
    """Approximate top-k: multi-table multi-probe sign-LSH candidates,
    exact quantized-dot rescore (same kernel/quantization as ``topk_dot``
    so recall is measured apples-to-apples).

    Executes as the masked ``_lsh_topk_kernel`` corpus pass (r8).
    ``kernel_buckets`` is kept for API compatibility — both the
    expression-bucket and kernel-bucket variants now run the same masked
    kernel (bucket parity between the two implementations is pinned in
    test_round4_fixes; the join formulation survives as
    ``tests/reference/ann_join.py::ann_lsh_topk_join`` and the result is
    pinned byte-identical)."""
    return _lsh_topk_kernel(
        emb, queries, k, n_tables, n_bits, probe_radius, dim, id_col, vec_col
    )


def embedding_contamination(
    train: DataFrame,
    eval_vecs: DataFrame,
    threshold_q: int = 320_000,
    n_tables: int = 4,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel_buckets: bool | None = None,
) -> DataFrame:
    """Embedding-space decontamination: per eval vector, how many TRAIN
    vectors exceed ``threshold_q`` quantized cosine similarity — the
    semantic leak check that catches paraphrased/near-duplicate eval
    items exact n-gram matching misses. Candidates are restricted to
    shared sign-LSH buckets across the two corpora (the deterministic
    spec, mirrored by the oracle) and rescored with the exact integer
    dot. Returns (id, n_train_neardups, max_dot, contaminated) for EVERY
    eval vector, zero-filled (max_dot null when clean)."""
    tr = _buckets_keyed(
        train, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets
    ).select(F.col(id_col).alias("tr_id"), "table", "bucket")
    ev = _buckets_keyed(
        eval_vecs, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets
    ).select(F.col(id_col).alias("ev_id"), "table", "bucket")
    cand = ev.join(tr, ["table", "bucket"]).select("ev_id", "tr_id").distinct()
    va = eval_vecs.select(F.col(id_col).alias("ev_id"), F.col(vec_col).alias("__ea"))
    vb = train.select(F.col(id_col).alias("tr_id"), F.col(vec_col).alias("__eb"))
    dot = F.aggregate(
        F.zip_with("__ea", "__eb", lambda x, y: _quantize(x) * _quantize(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    hits = (
        cand.join(va, "ev_id")
        .join(vb, "tr_id")
        .withColumn("dot", dot)
        .filter(F.col("dot") >= threshold_q)
        .groupBy("ev_id")
        .agg(
            F.count(F.lit(1)).alias("n_train_neardups"),
            F.max("dot").alias("max_dot"),
        )
    )
    return (
        eval_vecs.select(F.col(id_col).alias("ev_id"))
        .distinct()
        .join(hits, "ev_id", "left")
        .select(
            F.col("ev_id").alias(id_col),
            F.coalesce("n_train_neardups", F.lit(0)).alias("n_train_neardups"),
            "max_dot",
            (F.coalesce("n_train_neardups", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def _pq_codes(books: dict, X, sd: int) -> dict:
    """``{s: (n,) row of each vector's nearest entry in books[s]}``: the
    per-subspace argmin quantized L2 that PQ training, encoding and the
    ADC scan share. Code-ascending book rows make NumPy's first-minimum
    ``argmin`` the join form's (distance, code) struct-min tie rule."""
    return {
        s: _sq_l2(X[:, s * sd:(s + 1) * sd], C).argmin(axis=1)
        for s, (_codes, C) in books.items()
    }


def _lloyd_rounds(corpus, books: dict, iters: int, dim: int) -> dict:
    """Shared integer Lloyd refinement over per-subspace codebooks
    (``{s: (codes sorted asc, C (ks, sd) int64)}`` for s in range(m),
    sd = dim / m): each round is ONE corpus pass — in-task NumPy argmin
    assignment (``_pq_codes``) against the broadcast books plus per-batch
    partial (s, code) sums — and only batches x m x k partial rows
    (metadata-scale) reach the driver, where the exact truncated integer
    means are combined. IVF coarse training is the m=1 case (sd = dim)."""
    import numpy as np

    sc = corpus.sparkSession.sparkContext

    def sums_with(bc):
        def sums(cid, X):
            bks = bc.value
            sd = dim // len(bks)
            s_col, code_col, c_col, t_col = [], [], [], []
            for s, idx in _pq_codes(bks, X, sd).items():
                codes = bks[s][0]
                c = np.bincount(idx, minlength=len(codes))
                t = np.zeros((len(codes), sd), dtype=np.int64)
                np.add.at(t, idx, X[:, s * sd:(s + 1) * sd])
                live = np.flatnonzero(c)
                s_col.append(np.full(live.size, s, dtype=np.int32))
                code_col.append(codes[live])
                c_col.append(c[live])
                t_col.extend(t[live])
            return (
                np.concatenate(s_col), np.concatenate(code_col),
                np.concatenate(c_col), t_col,
            )

        return sums

    for _ in range(iters):
        if not books:
            break
        bc = sc.broadcast(books)
        partial = _arrow_map(
            corpus, sums_with(bc), "s int, code long, c long, t array<long>", dim
        ).toPandas()
        bc.destroy()
        new_books: dict = {}
        for s, (codes, C) in books.items():
            g = partial[partial["s"] == s]
            if not len(g):
                continue
            pos = np.searchsorted(codes, g["code"].to_numpy(np.int64))
            t = np.zeros(C.shape, dtype=np.int64)
            c = np.zeros(len(codes), dtype=np.int64)
            np.add.at(t, pos, np.stack(g["t"].to_numpy()).astype(np.int64))
            np.add.at(c, pos, g["c"].to_numpy(np.int64))
            live = np.flatnonzero(c)
            # Spark/DuckDB div truncates toward zero; numpy // floors
            q = np.abs(t[live]) // c[live, None]
            new_books[s] = (codes[live], np.where(t[live] < 0, -q, q))
        books = new_books
    return books


def _pq_artifacts(
    emb: DataFrame,
    m: int,
    k_codes: int,
    iters: int,
    id_col: str,
    vec_col: str,
    n_centroids: int = 0,
):
    """(corpus, books, sd, coarse): the PQ training every PQ entry point
    shares, computed once. ``corpus`` is the spread + pinned quantized
    corpus (``__cid``, ``__xq``) that training scans and the ADC pass
    and encoder reuse; ``books`` are the Lloyd codebooks
    ``{s: (codes asc, C (ks, sd))}`` as ``_lloyd_rounds`` leaves them on
    the driver; ``sd`` is the subspace width. One seed collect takes the
    ids below ``max(k_codes, n_centroids)``: those below ``k_codes`` seed
    the codebooks, and ``coarse`` = (ids, C) of those below
    ``n_centroids`` are IVF-PQ's coarse centroids. The dimension is read
    from the seeds; only without one does a row of ``emb`` supply it
    (an empty table raises)."""
    import numpy as np

    corpus = _corpus_vecs(emb, id_col, vec_col, spread=True, pin=True)
    ids, S = _seed_vecs(corpus, max(k_codes, n_centroids))
    if S is None:
        first = emb.select(vec_col).first()
        if first is None:
            raise ValueError("pq: empty embedding table")
        S = np.zeros((0, len(first[0])), dtype=np.int64)
    dim = S.shape[1]
    if m < 1 or dim % m:
        raise ValueError(f"pq: m={m} must divide dim={dim}")
    sd = dim // m
    seed = ids < k_codes
    # code == seed id, so the code-ascending row order encodes the
    # (distance, code) tie rule
    books = (
        {s: (ids[seed], S[seed, s * sd:(s + 1) * sd]) for s in range(m)}
        if seed.any()
        else {}
    )
    books = _lloyd_rounds(corpus, books, iters, dim)
    coarse = ids < n_centroids
    return corpus, books, sd, (ids[coarse], S[coarse])


def pq_train(
    emb: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: per subspace ``s``, ``k_codes``
    centroids refined by ``iters`` integer Lloyd rounds from the
    deterministic smallest-id seeds — the PQ analogue of
    ``ivf_train_lloyd`` and deterministic end to end for the same reason
    (truncated integer means, ties to the smaller code; the oracle
    unrolls identical rounds in SQL). Returns (s, code, __cv array<long>).

    Scale shape (r8): each round is ONE corpus pass — in-task NumPy
    assignment against the broadcast codebook plus map-side partial
    (s, code) sums, so only batches x m x k_codes partial rows
    (metadata-scale) ever reach the driver, where the exact integer
    means are combined. The join formulation (broadcast assign join ->
    re-attach join -> posexplode aggregate, ~10 shuffle stages per round
    on what is always a tiny aggregate) survives as
    ``tests/reference/ann_join.py::pq_train_join``, pytest-pinned
    byte-identical."""
    _corpus, books, _sd, _coarse = _pq_artifacts(
        emb, m, k_codes, iters, id_col, vec_col
    )
    rows = [
        (s, int(code), [int(v) for v in C[j]])
        for s, (codes, C) in sorted(books.items())
        for j, code in enumerate(codes)
    ]
    return emb.sparkSession.createDataFrame(rows, "s int, code long, __cv array<long>")


def _adc_lut(books: dict, Q, sd: int) -> dict:
    """Per-subspace ADC lookup tables for a query matrix: ``{s: (nq, ks)
    exact integer L2 of the query subvector vs every codebook entry}`` —
    the same values as the broadcast ``qd`` frame of the join
    formulation, computed once per query shard."""
    return {
        s: _sq_l2(Q[:, s * sd:(s + 1) * sd], C) for s, (_codes, C) in books.items()
    }


def _pq_adc_topk_kernel(
    corpus: DataFrame,
    books: dict,
    sd: int,
    k: int,
    coarse: tuple | None = None,
    nprobe: int | None = None,
    shard_rows: int = 65_536,
    shortlist: int | None = None,
) -> DataFrame:
    """The PQ ADC scan behind all four PQ top-k families, as
    ``corpus_topk`` passes ranked (adc asc, neighbor asc) over the %
    50 == 0 queries of the pinned ``corpus``: the shard's ADC tables
    (and, with ``coarse`` = (ids, C) and ``nprobe``, the IVF probe mask)
    are the payload; each batch re-derives its PQ codes (``_pq_codes``)
    and sums ``m`` table lookups. ``books`` are the codebooks as the
    driver holds them after training. With ``shortlist`` the same pass
    also rescores: it returns the top-k of each query's ADC shortlist
    by exact quantized dot, in ``dot``. The join formulation
    (parity-pinned in ``tests/reference/ann_join.py``) joined |corpus| x
    m x |queries| rows — 64 M at sf1 before the aggregate."""
    out_col = "dot" if shortlist else "adc"
    if not books or (coarse is not None and not len(coarse[0])):
        # an empty codebook (no seed id below k_codes) or no coarse lists:
        # the join form's qd frame or probe set is empty, so is the result
        return _empty_topk(corpus.sparkSession, out_col)

    def prepare(qids, Q):
        mask = None if coarse is None else _probe_mask(Q, coarse[1], coarse[0], nprobe)
        return _adc_lut(books, Q, sd), mask

    def score(payload, cid, X):
        lut, mask = payload
        D = -sum(lut[s][:, idx] for s, idx in _pq_codes(books, X, sd).items())
        if mask is not None:
            # nearest coarse list per corpus vector (first-minimum over
            # the centroid_id-sorted C == struct-min tie rule)
            D[~mask[:, _sq_l2(X, coarse[1]).argmin(axis=1)]] = NEG
        return D

    return corpus_topk(
        corpus,
        _fixture_queries(corpus),
        k,
        prepare,
        score,
        out_col=out_col,
        negate=not shortlist,
        shard_rows=shard_rows,
        shortlist=shortlist,
    )


def pq_encode(
    emb: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ compression: every vector reduced to ``m`` codebook codes —
    (vec_id, s, code), m rows per vector. With m=8, k=16 a 64-float
    embedding becomes 8 nibbles: the 64x memory cut that makes
    billion-scale ANN fit executor memory. Codes are what downstream ADC
    scans shuffle — never the vectors.

    One ``mapInArrow`` pass over the pinned training corpus emits each
    batch's ``_pq_codes`` argmin — the in-task assignment the training
    rounds and the ADC scan run — with the codebooks in the kernel's
    closure (m x k_codes x dim/m ints). The subvector-explode +
    broadcast-join + struct-min formulation it replaced is kept in
    ``tests/reference/ann_join.py`` (``_subvectors``, ``_pq_assign``)."""
    import numpy as np

    corpus, books, sd, _coarse = _pq_artifacts(emb, m, k_codes, iters, id_col, vec_col)
    schema = f"{id_col} long, s int, code long"
    if not books:
        return emb.sparkSession.createDataFrame([], schema)

    def encode(cid, X):
        codes = _pq_codes(books, X, sd)
        return (
            np.tile(cid, len(codes)),
            np.repeat(np.array(list(codes), dtype=np.int32), len(cid)),
            np.concatenate([books[s][0][idx] for s, idx in codes.items()]),
        )

    return _arrow_map(corpus, encode, schema, m * sd)


def pq_ann_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: queries (the % 50 == 0 fixture
    sample) precompute one exact L2 table against every codebook entry
    (nq x m x k_codes ints — broadcast), then every database vector's
    distance is m TABLE LOOKUPS summed over its codes, never a
    dim-length dot. Returns (query_id, neighbor_id, rank, adc) ranked by
    ADC distance ascending, neighbor id ascending.

    This is the classic IVF-PQ leaf scan shape (Jégou et al., TPAMI
    2011): at 100 TB the codes table is the only thing scanned, the
    lookup tables ride the broadcast, and the aggregate is map-side
    partial — no full-dimension vectors move after encoding.

    Executes as the ``_pq_adc_topk_kernel`` corpus pass (r8): the join
    formulation (kept as ``tests/reference/ann_join.py::pq_ann_topk_join``,
    pytest-pinned byte-identical) shipped |corpus| x m x |queries| joined
    rows into the ADC aggregate — 64 M rows at sf1 for a 20k-vector
    corpus."""
    corpus, books, sd, _coarse = _pq_artifacts(emb, m, k_codes, iters, id_col, vec_col)
    return _pq_adc_topk_kernel(corpus, books, sd, k)


def pq_ann_rescored(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ retrieval — the shape PQ is actually deployed in: the
    ADC scan picks a ``shortlist`` per query (cheap, codes-only), and
    ONLY the shortlist is ranked by the exact quantized dot product.
    Returns (query_id, neighbor_id, rank, dot) — top-``k`` by exact dot,
    ties to the smaller neighbor id.

    At 32 bits/vector pure ADC is deliberately lossy; rescoring restores
    recall (measured in bench.py's ann family). Both stages run in ONE
    ``corpus_topk`` pass over the pinned training corpus: each batch
    keeps its local ADC shortlist and computes the exact dots of just
    those candidates from the vectors already in the task, and the
    window merge cuts the global shortlist by ADC before ranking by dot
    — exactly the two-pass answer, with no shortlist collect and no
    second corpus scan. The two-pass join formulation survives as
    ``tests/reference/ann_join.py::pq_ann_rescored_join`` for parity."""
    corpus, books, sd, _coarse = _pq_artifacts(emb, m, k_codes, iters, id_col, vec_col)
    return _pq_adc_topk_kernel(corpus, books, sd, k, shortlist=shortlist)


def _sq8_flat(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, d, xq): one row per dimension of the integer-quantized
    vector (the shared x1000 rounding every ANN family trains on)."""
    return _quantized_vecs(emb, id_col, vec_col, "__xq").select(
        F.col(id_col), F.posexplode("__xq").alias("d", "xq")
    )


def _sq8_stats(flat: DataFrame) -> DataFrame:
    """Per-dim (mn, span) trained on the corpus itself — dim-count rows,
    always broadcast. span floors at 1 so constant dims encode to 0."""
    return flat.groupBy("d").agg(
        F.min("xq").alias("mn"),
        F.greatest(F.max("xq") - F.min("xq"), F.lit(1).cast("long")).alias("span"),
    )


def sq8_encode(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar quantization (SQ8) — the third classic ANN compression next
    to sign-LSH and PQ: every dimension compresses to ONE byte against
    per-dim [min, max] corpus statistics,
    ``code = ((xq - mn_d) * 255) div max(span_d, 1)`` (exact integer,
    codes in [0, 255] by construction). 4x memory cut with no codebook
    training — the standard faiss SQ8 baseline that often beats PQ on
    recall at equal bytes for low-dim embeddings.

    Plan: the stats are one dim-count aggregate (broadcast everywhere);
    encoding is a pure column expression after one posexplode — no
    iteration, no shuffle beyond the 64-row stats. Returns
    (vec_id, d, code)."""
    flat = _sq8_flat(emb, id_col, vec_col)
    stats = _sq8_stats(flat)
    return flat.join(F.broadcast(stats), "d").select(
        id_col,
        "d",
        (((F.col("xq") - F.col("mn")) * 255) / F.col("span"))
        .cast("long")
        .alias("code"),
    )


def sq8_ann_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_rows: int = 65_536,
) -> DataFrame:
    """Asymmetric SQ8 ANN top-k: queries (the % 50 == 0 fixture sample,
    same as the PQ gates) keep their exact quantized values; database
    vectors are DEQUANTIZED from their byte codes
    (``dq = mn_d + (code * span_d) div 255``) and scored by integer L2.
    Returns (query_id, neighbor_id, rank, adist) ranked by approximate
    distance ascending, neighbor id ascending.

    Executes as ``corpus_topk`` passes (r8): the per-dim (mn, span)
    stats are a 64-row aggregate collected to the driver; each batch
    runs the encode/decode round-trip and the exact integer L2. The
    per-dimension broadcast-join formulation (kept as
    ``tests/reference/ann_join.py::sq8_ann_topk_join``, pytest-pinned)
    materialized |corpus| x |queries| x dim joined rows — 512 M at sf1.
    Integer divisions are floor-exact in both paths: operands are
    non-negative and quotients sit far from representable-double
    boundaries."""
    import numpy as np

    flat = _sq8_flat(emb, id_col, vec_col)
    stats_pdf = _sq8_stats(flat).toPandas().sort_values("d", kind="stable")
    if not len(stats_pdf):
        return _empty_topk(emb.sparkSession, "adist")
    dim = int(stats_pdf["d"].max()) + 1
    mn = np.zeros(dim, dtype=np.int64)
    span = np.ones(dim, dtype=np.int64)
    mn[stats_pdf["d"].to_numpy(np.int64)] = stats_pdf["mn"].to_numpy(np.int64)
    span[stats_pdf["d"].to_numpy(np.int64)] = stats_pdf["span"].to_numpy(np.int64)

    def score(Q, cid, X):
        # encode -> decode round-trip, exactly the join form's integer
        # expressions (non-negative floor divisions)
        code = ((X - mn[None, :]) * 255) // span[None, :]
        dq = mn[None, :] + (code * span[None, :]) // 255
        return -_sq_l2(Q, dq)

    return corpus_topk(
        _corpus_vecs(emb, id_col, vec_col, spread=True),
        _fixture_queries(_corpus_vecs(emb, id_col, vec_col)),
        k,
        lambda qids, Q: Q,
        score,
        out_col="adist",
        negate=True,
        shard_rows=shard_rows,
    )


def ivf_pq_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the billion-scale composite (Jégou et al., the faiss
    ``IVFxPQy`` default): queries probe their ``nprobe`` nearest coarse
    lists (bounding the candidate set by list occupancy, exactly as
    ``ivf_ann_topk``), and candidates are scored by PQ asymmetric
    distance (m table lookups against the query's precomputed L2 table,
    exactly as ``pq_ann_topk``) — never a full-dimension dot. Both
    trainings are the deterministic integer procedures the standalone
    gates already pin, so the composite stays oracle-exact.

    Scale shape: the probe decides WHERE to look (I/O bound — only
    nprobe/n_centroids of the codes table is touched; with the codes
    snapshot clustered by centroid_id the scan prunes by file stats),
    the ADC decides HOW CHEAPLY (CPU bound — 8 byte lookups per
    candidate). Returns (query_id, neighbor_id, rank, adc).

    Executes as the masked ``_pq_adc_topk_kernel`` corpus pass (r8):
    probe mask + in-task coarse assignment + ADC lookups, byte-identical
    to the candidate-join formulation (kept as
    ``tests/reference/ann_join.py::ivf_pq_ann_topk_join``,
    pytest-pinned). The coarse centroids come from the PQ seed collect."""
    corpus, books, sd, coarse = _pq_artifacts(
        emb, m, k_codes, iters, id_col, vec_col, n_centroids
    )
    return _pq_adc_topk_kernel(corpus, books, sd, k, coarse, nprobe)


def ivf_pq_ann_rescored(
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
    """IVF-PQ with exact re-ranking — the full deployment composite
    (faiss ``IVFPQR``): the IVF probe bounds WHERE to look, the ADC scan
    picks a cheap ``shortlist`` per query from codes alone, and only the
    shortlist is ranked by the exact quantized dot product. Returns
    (query_id, neighbor_id, rank, dot) — top-``k`` by exact dot, ties to
    the smaller neighbor id.

    Raw ADC recall is ceiling-bound by the 32-bit code budget (0.38@5 on
    the clustered fixture); rescoring restores it to near-exact. All
    three trainings are the deterministic integer procedures the
    standalone gates pin, so the composite stays oracle-exact end to
    end. Probe, ADC shortlist and exact rescore run in ONE
    ``corpus_topk`` pass (see ``pq_ann_rescored``; a query whose probed
    lists hold fewer than ``shortlist`` candidates ranks all of them);
    the two-pass join formulation survives as
    ``tests/reference/ann_join.py::ivf_pq_ann_rescored_join`` for
    parity."""
    corpus, books, sd, coarse = _pq_artifacts(
        emb, m, k_codes, iters, id_col, vec_col, n_centroids
    )
    return _pq_adc_topk_kernel(
        corpus, books, sd, k, coarse, nprobe, shortlist=shortlist
    )


def semantic_drift(
    emb: DataFrame,
    res: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lat: str = "lat",
    lon: str = "lon",
    q_scale: int = 1000,
) -> DataFrame:
    """Semantic-terrain smoothness: for every rook-adjacent pair of
    occupied cells, the L1 distance between the cells' MEAN embeddings
    as the exact cross-multiplied rational

        drift_num = sum_dim |s1_d * n2 - s2_d * n1|,  drift_den = n1 * n2

    over round(x * q_scale) integer-quantized components (the engine's
    standard embedding quantization — float vector means are
    aggregation-order dependent; integer sums are not). High drift
    between neighbors marks semantic boundaries (land-use edges, domain
    shifts); a smooth field says embeddings respect geography. Returns
    (tile_a, tile_b, n_a, n_b, drift_num, drift_den).

    Plan: one posexplode pass to (cell, dim) integer sums (map-side
    combined; 64 x occupied-cells output), the frame pinned (it feeds
    both pair sides), a 2-offset rook fan and one equi-join on
    (cell, dim) — never a vector shuffle, never a float sum."""
    from pyspark.sql import functions as F

    from ..functions.cells import tile_key_col

    res_n = 1 << res
    flat = emb.select(
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select(
        "tile", "dim",
        F.round(F.col("x").cast("double") * q_scale).cast("long").alias("xq"),
    )
    sums = (
        flat.groupBy("tile", "dim")
        .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("nv"))
        .localCheckpoint(eager=True)
    )
    ix, iy = tile_ixy("tile", res_n)
    off = stencil(((1, 0), (0, 1))).alias("o")
    fan = sums.select("tile", "dim", "s", "nv", off).select(
        ((ix + F.col("o.dx")) * F.lit(res_n) + (iy + F.col("o.dy"))).alias("ntile"),
        (ix + F.col("o.dx")).alias("nx"),
        (iy + F.col("o.dy")).alias("ny"),
        F.col("tile").alias("tile_a"),
        "dim",
        F.col("s").alias("s1"),
        F.col("nv").alias("n1"),
    ).filter(in_grid("nx", "ny", res_n))
    nbr = sums.select(
        F.col("tile").alias("ntile"),
        "dim",
        F.col("s").alias("s2"),
        F.col("nv").alias("n2"),
    )
    pairs = fan.join(nbr, ["ntile", "dim"], "inner")
    return (
        pairs.groupBy(
            F.col("tile_a"), F.col("ntile").alias("tile_b")
        )
        .agg(
            F.max("n1").alias("n_a"),
            F.max("n2").alias("n_b"),
            F.sum(
                F.abs(F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1"))
            ).alias("drift_num"),
        )
        .select(
            "tile_a", "tile_b", "n_a", "n_b", "drift_num",
            (F.col("n_a") * F.col("n_b")).alias("drift_den"),
        )
    )


def semantic_outliers(
    emb: DataFrame,
    res: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lat: str = "lat",
    lon: str = "lon",
    q_scale: int = 1000,
) -> DataFrame:
    """Semantic outlier cells — the global complement of
    ``semantic_drift``: each occupied cell's L1 deviation of its mean
    embedding from the corpus mean, as the exact cross-multiplied
    rational sum_dim |s_c * N - S_g * n_c| over (n_c * N). The cells a
    curation pass inspects first: imagery that does not look like its
    geography (sensor faults, mislabeled batches, spam uploads).
    Returns (tile, nv, anom_num, anom_den).

    Plan: the same pinned (cell, dim) integer-sum frame, one
    dim-rollup for the global sums (broadcast single-dim frame), one
    equi-join on dim and a cell rollup — no vector shuffles."""
    from pyspark.sql import functions as F

    from ..functions.cells import tile_key_col

    flat = emb.select(
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select(
        "tile", "dim",
        F.round(F.col("x").cast("double") * q_scale).cast("long").alias("xq"),
    )
    sums = (
        flat.groupBy("tile", "dim")
        .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("nv"))
        .localCheckpoint(eager=True)
    )
    glob = sums.groupBy("dim").agg(
        F.sum("s").alias("sg"), F.sum("nv").alias("ng")
    )
    j = sums.join(F.broadcast(glob), "dim")
    return (
        j.groupBy("tile")
        .agg(
            F.max("nv").alias("nv"),
            F.sum(
                F.abs(F.col("s") * F.col("ng") - F.col("sg") * F.col("nv"))
            ).alias("anom_num"),
            F.max(F.col("nv") * F.col("ng")).alias("anom_den"),
        )
    )


def embedding_dim_stats(
    emb: DataFrame, vec_col: str = "embedding", q_scale: int = 1000
) -> DataFrame:
    """Per-dimension moment statistics of the embedding corpus — the
    whitening / feature-scaling pre-pass every ANN and clustering
    family assumes: count, exact integer sum, variance NUMERATOR
    n * sum(x^2) - sum(x)^2 (divide by n^2 for the population
    variance), and min/max, all over round(x * q_scale) quantized
    components (the engine's standard embedding quantization — float
    moment sums are aggregation-order dependent; integer sums are
    not). A zero var_num flags a dead dimension; extreme max/min flag
    clipping. Returns (dim, n, s, var_num, min_q, max_q).

    Plan: one posexplode pass to a map-side-combined per-dim rollup —
    output is dim-bounded (one row per dimension) regardless of corpus
    size; no joins, no vector shuffle."""
    from pyspark.sql import functions as F

    flat = emb.select(F.posexplode(F.col(vec_col)).alias("dim", "x")).select(
        "dim",
        F.round(F.col("x").cast("double") * q_scale).cast("long").alias("xq"),
    )
    return (
        flat.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xq").alias("s"),
            F.sum(F.col("xq") * F.col("xq")).alias("__sq"),
            F.min("xq").alias("min_q"),
            F.max("xq").alias("max_q"),
        )
        .select(
            "dim", "n", "s",
            (F.col("n") * F.col("__sq") - F.col("s") * F.col("s")).alias(
                "var_num"
            ),
            "min_q", "max_q",
        )
    )


def embedding_norm_audit(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_scale: int = 1000,
    tail_milli: int = 10,
) -> DataFrame:
    """Per-vector NORM outlier audit — the cheap pre-filter every
    embedding pipeline runs before ANN indexing: a near-zero norm means
    a dead/failed encode, an extreme norm distorts inner-product search
    (and collapses IVF cells). Computes the exact integer quantized
    squared norm norm2_q = sum(round(x*q_scale)^2) per vector, ranks
    vectors by (norm2_q, id) — the engine's deterministic total order —
    and flags the bottom and top ``tail_milli`` per-mille by EXACT rank
    (1000*rank // n, never an interpolated percentile). Returns
    (id, norm2_q, rank, n, is_outlier) with rank 1-based ascending.

    Plan: one F.aggregate fold per vector (JVM-side, no explode, no
    UDF), then the exact rank via ``range_ranked`` (r8): range
    repartition + per-partition offsets instead of the single-task
    global window the operator used to carry — the rank input is
    (id, norm2_q) pairs only, never vectors, and ``n`` comes from the
    offset pass (the construction-time ``ranked.count()`` re-evaluation
    is gone with it)."""
    if not 0 < tail_milli < 500:
        raise ValueError(f"tail_milli must be in (0, 500), got {tail_milli}")
    from .rank import range_ranked

    norm2 = F.aggregate(
        F.expr(
            f"transform({vec_col}, v -> "
            f"CAST(round(CAST(v AS DOUBLE) * {q_scale}.0) AS BIGINT))"
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    scored = emb.select(F.col(id_col).alias("id"), norm2.alias("norm2_q"))
    ranked, n = range_ranked(scored, ["norm2_q", "id"], "rank")
    lo = tail_milli * n // 1000
    hi = n - lo
    return ranked.select(
        "id", "norm2_q", F.col("rank").cast("long"),
        F.lit(n).cast("long").alias("n"),
        F.when(
            (F.col("rank") <= lo) | (F.col("rank") > hi), F.lit(1)
        ).otherwise(F.lit(0)).cast("int").alias("is_outlier"),
    )
