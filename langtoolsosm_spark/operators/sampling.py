"""Deterministic sampling and dataset splitting for training pipelines.

Spark's ``sample()``/``sampleBy()`` draw from a JVM RNG — reproducible
only within one engine, unverifiable outside it, and unstable if the
partitioning changes. Large training pipelines instead derive the
sampling decision from a HASH of a stable key, which makes samples (a)
identical at any parallelism, (b) consistent across reruns and engines,
and (c) sticky per key (a document keeps its split when the table is
rebuilt). Every function below is md5 + integer arithmetic — oracle-exact
in DuckDB.

The hash fraction is the first 8 md5 hex chars as a uint32 (via the same
conv trick as the HLL sketch); a row is in a milli-rate sample iff
``hash32 * 1000 < rate_milli * 2^32`` — exact integer comparison, no
floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.cells import gidx

_SCALE = 1 << 32


def _hash32(key_col, salt: str) -> F.Column:
    """First 32 bits of md5(salt || key) as a long (uniform on [0, 2^32))."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key_col.cast("string"))), 1, 8), 16, 10
    ).cast("long")


def deterministic_sample(
    df: DataFrame, key_col: str, rate_milli: int, salt: str = "s0"
) -> DataFrame:
    """Keep ~rate_milli/1000 of rows, decided by hash(key) — identical at
    any parallelism, on any engine, on any rerun."""
    h = _hash32(F.col(key_col), salt)
    return df.filter(h * 1000 < rate_milli * _SCALE)


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, int] | None = None,
    salt: str = "split0",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hash(key) with milli
    proportions (default 800/100/100 train/val/test). Assignment is
    sticky per key: re-running over a grown table never moves old rows
    between splits."""
    splits = splits or {"train": 800, "val": 100, "test": 100}
    if sum(splits.values()) != 1000:
        raise ValueError("split proportions must sum to 1000 milli")
    h = _hash32(F.col(key_col), salt)
    expr = None
    acc = 0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        cond = h * 1000 < acc * _SCALE
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])
    )
    return df.withColumn(out_col, expr)


def token_shard_pack(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_buckets: int = 16,
    salt: str = "pack0",
) -> DataFrame:
    """Pack documents into token-budget training shards — the step that
    turns a deduplicated corpus into fixed-size training chunks.

    Greedy sequential packing is inherently serial, so the parallel
    formulation packs ``n_buckets`` INDEPENDENT streams: each doc hashes
    into a bucket (md5 — sticky, engine-portable), docs pack in key order
    within their bucket, and a doc belongs to the budget block containing
    its cumulative token end. One window per bucket — no global sort, no
    single-partition bottleneck; at 100 TB n_buckets scales with the
    cluster and each shard stays one task's output.

    Returns (key, n_tokens, bucket, shard_id) with
    shard_id = bucket * 2^32 + (cumulative_end - 1) div budget.
    Whitespace token count (the ws_tokens definition shared with
    regex_tokens) keeps the oracle exact.
    """
    from pyspark.sql import Window

    toks = (
        F.length(text_col) - F.length(F.regexp_replace(text_col, " ", "")) + 1
    ).cast("long")
    d = df.select(
        F.col(key_col),
        toks.alias("n_tokens"),
        F.pmod(_hash32(F.col(key_col), salt), F.lit(n_buckets)).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy(key_col)
    return (
        d.withColumn("__cum", F.sum("n_tokens").over(w))
        .withColumn(
            "shard_id",
            F.col("bucket") * F.lit(_SCALE).cast("long")
            + F.expr(f"div(__cum - 1, {budget})"),
        )
        .drop("__cum")
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strat_col: str,
    rates_milli: dict[str, int],
    default_milli: int = 1000,
    salt: str = "strat0",
) -> DataFrame:
    """Per-stratum deterministic sampling — the curation knob that keeps
    100% of rare strata while downsampling dominant ones (rates in milli
    per stratum value; unlisted strata keep ``default_milli``). The
    decision is md5(key)-based like ``deterministic_sample``: identical
    at any parallelism, sticky per key, engine-portable."""
    for r in list(rates_milli.values()) + [default_milli]:
        if not 0 <= r <= 1000:
            raise ValueError("rates are milli (0..1000)")
    h = _hash32(F.col(key_col), salt)
    rate = None
    for sval, r in rates_milli.items():
        cond = F.col(strat_col) == sval
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = rate.otherwise(default_milli) if rate is not None else F.lit(default_milli)
    return df.filter(h * 1000 < rate.cast("long") * _SCALE)


def geo_split(
    df: DataFrame,
    res: int,
    splits: dict[str, int] | None = None,
    salt: str = "geo0",
    lat: str = "lat",
    lon: str = "lon",
    out_col: str = "split",
    tile_col: str = "tile",
) -> DataFrame:
    """Spatially DISJOINT train/val/test assignment: the md5 hash is
    taken of the TILE key at ``res``, not of the row id, so every row in
    one grid cell lands in the same split. Hashing row ids (plain
    ``hash_split``) leaks near-duplicate imagery of the same place into
    both train and test; hashing the cell makes the splits spatially
    disjoint at the chosen resolution — the standard remedy for spatial
    autocorrelation leakage in geo ML evaluation.

    Pure column expressions end to end (tile assignment + md5 CASE):
    no shuffle, no UDF; assignment is sticky per cell under table growth
    and identical at any parallelism. Coarser ``res`` = stronger leakage
    guarantee but lumpier split proportions (the hot urban cell carries
    20% of rows into whichever split its hash picks — report actual
    proportions from the tile histogram if they matter).
    """
    from .tiling import assign_tiles

    tiled = assign_tiles(df, res, lat=lat, lon=lon, out=tile_col)
    return hash_split(tiled, tile_col, splits, salt=salt, out_col=out_col)


def tile_cap_sample(
    df: DataFrame,
    res: int,
    cap: int,
    id_col: str,
    salt: str = "cap0",
    lat: str = "lat",
    lon: str = "lon",
    margin: int = 8,
) -> DataFrame:
    """Per-cell cap balancing: keep at most ``cap`` rows per tile, chosen
    as the ``cap`` smallest ``(md5-hash, id)`` pairs in the cell — the
    dataset-balancing step that stops one dense urban cell from
    dominating a training epoch. Deterministic (sticky per id), engine-
    portable, identical at any parallelism.

    Scale path: a bare ``row_number() OVER (PARTITION BY tile ...)``
    sorts the WHOLE hot cell on one task. Instead the (tiny, map-side
    combined) cell histogram bounds a hash PREFILTER: for cells with
    count > margin*cap, only rows with h32 below ``margin*cap/count`` of
    the hash space enter the window — the top-``cap`` set under h32
    order is invariant under any filter that keeps >= cap rows, so the
    prefilter is semantically invisible. Cells where the prefilter
    undershoots (binomial tail, ~never at margin=8) are detected by a
    counted survivor re-aggregation — not assumed away — and fall back
    to the unfiltered path, so the result is EXACT regardless. The
    window then sorts O(margin*cap) rows per cell instead of the raw
    cell population.

    Returns the kept rows as (id, tile, rk) with rk in [1, cap].
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    from pyspark.sql import Window

    from .tiling import assign_tiles

    tiled = assign_tiles(df, res, lat=lat, lon=lon, out="tile").select(
        F.col(id_col).alias("id"), "tile"
    )
    h = _hash32(F.col("id"), salt)
    rows = tiled.withColumn("__h", h)
    hist = rows.groupBy("tile").agg(F.count(F.lit(1)).alias("__cnt"))
    thr = F.when(
        F.col("__cnt") > margin * cap,
        (F.lit(margin * cap) * F.lit(_SCALE).cast("long")) / F.col("__cnt"),
    ).otherwise(F.lit(_SCALE)).cast("long")
    bounded = rows.join(F.broadcast(hist.select("tile", thr.alias("__thr"))), "tile")
    surv = bounded.filter(F.col("__h") < F.col("__thr"))
    # counted safety net: a cell is OK iff the prefilter kept >= min(cap, cnt)
    ok = (
        surv.groupBy("tile")
        .agg(F.count(F.lit(1)).alias("__kept"))
        .join(F.broadcast(hist), "tile")
        .select(
            "tile",
            (F.col("__kept") >= F.least(F.lit(cap).cast("long"), F.col("__cnt"))).alias("__ok"),
        )
    )
    pool = bounded.join(F.broadcast(ok), "tile", "left").filter(
        (F.coalesce(F.col("__ok"), F.lit(False)) & (F.col("__h") < F.col("__thr")))
        | ~F.coalesce(F.col("__ok"), F.lit(False))
    )
    w = Window.partitionBy("tile").orderBy("__h", "id")
    return (
        pool.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= cap)
        .select("id", "tile", "rk")
    )


def image_shard_pack(
    images: DataFrame,
    res: int = 8,
    bucket_shift: int = 10,
    budget: int = 65536,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    lat: str = "lat",
    lon: str = "lon",
    size_col: str | None = None,
) -> DataFrame:
    """Spatially-local byte-budgeted training-shard assignment: the
    image-table counterpart of ``token_shard_pack`` with Hilbert
    locality instead of hash buckets. The footprint grid cell's
    order-``res`` Hilbert key is bucketed by its top bits
    (``bucket = hkey >> bucket_shift``) — every bucket is a CONTIGUOUS
    curve range and therefore an edge-connected region — and images
    pack greedily in curve order within their bucket: a shard holds
    images that are physically near each other, so geo-conditioned
    training and tile-range reads touch few shards.

    Plan: the Hilbert key is codegen-only column arithmetic
    (``with_hilbert``); packing is ONE window per bucket (cumulative
    byte sum), no global sort — buckets scale with the cluster exactly
    like the token packer. Deterministic, sticky per image. Returns
    (image_id, hkey, bucket, size_bytes, shard_id) with
    ``shard_id = bucket * 2^32 + (cum_bytes - 1) div budget``.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if not 0 <= bucket_shift <= 2 * res:
        raise ValueError(f"bucket_shift must be in [0, {2 * res}]")
    from pyspark.sql import Window

    from .spatial import with_hilbert

    n = 1 << res

    # size_col: precomputed byte sizes (metadata-only packing — avoids
    # touching the blob column at all); default measures the blob
    size = (
        F.col(size_col) if size_col else F.length(F.col(bytes_col))
    ).cast("long")
    d = images.select(
        F.col(id_col),
        size.alias("size_bytes"),
        gidx(lon, 180.0, 360.0, n).alias("ix"),
        gidx(lat, 90.0, 180.0, n).alias("iy"),
    )
    keyed = with_hilbert(d, res).select(
        id_col, "size_bytes", "hkey",
        F.shiftright("hkey", bucket_shift).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("hkey", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # integer div keeps the shard index exact past 2^53 cumulative bytes
    # (the old double division would round); the raise_error branch fires
    # iff a bucket exceeds budget * 2^32 bytes, where the packed
    # bucket*2^32+index encoding would silently collide into the next
    # bucket's id space — loud failure, zero extra passes
    cum = (F.sum("size_bytes").over(w) - F.lit(1)).alias("__c")
    staged = keyed.select(F.col(id_col), "hkey", "bucket", "size_bytes", cum)
    idx = F.expr(f"__c div {budget}")
    guarded = F.when(
        idx >= F.lit(_SCALE),
        F.raise_error(
            F.format_string(
                "image_shard_pack: bucket %s exceeds budget*2^32 bytes - "
                "its shard index no longer fits the bucket*2^32+index "
                "encoding; lower bucket_shift (smaller buckets) or raise "
                "budget",
                F.col("bucket"),
            )
        ).cast("long"),
    ).otherwise(idx)
    return staged.select(
        F.col(id_col), "hkey", "bucket", "size_bytes",
        (F.col("bucket") * F.lit(_SCALE).cast("long") + guarded).alias("shard_id"),
    )


def spatial_kfold(
    df: DataFrame,
    res: int,
    k: int = 5,
    salt: str = "fold0",
    lat: str = "lat",
    lon: str = "lon",
    out_col: str = "fold",
    tile_col: str = "tile",
) -> DataFrame:
    """Spatially-blocked k-fold cross-validation assignment: fold =
    md5-hash(tile at ``res``) mod ``k``, so every row of one grid cell
    lands in the same fold — ``geo_split``'s anti-leakage guarantee
    generalized from named train/val/test proportions to the k equal
    folds a spatial-CV evaluation loop consumes. Sticky per cell under
    table growth, identical at any parallelism.

    Pure column expressions end to end (tile key + md5 + mod): no
    shuffle, no UDF — at 100x the rows this is scan-side arithmetic the
    optimizer pipelines into whatever consumes the fold column.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from .tiling import assign_tiles

    tiled = assign_tiles(df, res, lat=lat, lon=lon, out=tile_col)
    h = _hash32(F.col(tile_col), salt)
    return tiled.withColumn(out_col, (h % k).cast("int"))
