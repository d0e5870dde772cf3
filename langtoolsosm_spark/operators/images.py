"""Image-column operators: decode / verify / feature-extract / re-encode
over Arrow batches (BASELINE.json:input_hint plumbing).

Every operator that reads pixels is a ``per_image`` caller: one
``mapInArrow`` kernel selects the columns, decodes the binary ``bytes``
column and builds each output batch with the Arrow types of the declared
schema. An operator supplies only its per-image function and that
schema; the ones that work on integer luminance call ``_luma``. The
Spark-side plumbing (schema, batch shape, partitioning) is real and
tested; the pixel kernels come from functions/imagecodec.py (from-scratch
codecs; heavier real-world codecs would slot in behind the same fmt
dispatch).

Scale notes: ``bytes`` is only read by stages that decode (Parquet column
pruning keeps it out of every other scan); decode work partitions evenly
because batches are row-count bounded (arrow maxRecordsPerBatch), and the
outputs carry no pixel payloads unless explicitly re-encoded.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import imagecodec as ic
from ..functions.cells import ROOK, grid_ixy, in_grid, stencil, tile_ixy


def per_image(
    images: DataFrame,
    fn,
    schema: str,
    cols: tuple[str, ...] = ("image_id",),
) -> DataFrame:
    """Decode every image and map it through ``fn`` in one ``mapInArrow``
    pass — the one decode kernel behind every pixel operator here.

    ``fn(px, *vals)`` gets the decoded ``(h, w, 3)`` uint8 pixels and the
    image's values of ``cols`` in order. It returns the image's output
    rows as an iterable of tuples in ``schema`` order: one row, many
    (fan-out) or none. A column passes through when ``fn`` copies its
    value from ``cols`` into its rows. Each output batch is built with the
    Arrow types of ``schema``, so neither boundary converts to pandas."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    out = DataType.fromDDL(schema)
    arrow = to_arrow_schema(out)

    def kernel(batches):
        for b in batches:
            bufs, fmts, *vals = (b.column(c).to_pylist() for c in ("bytes", "fmt", *cols))
            rows = []
            for buf, fmt, *v in zip(bufs, fmts, *vals):
                rows.extend(fn(ic.decode(buf, fmt), *v))
            columns = zip(*rows) if rows else [[]] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
            )

    return images.select(*dict.fromkeys(("bytes", "fmt", *cols))).mapInArrow(kernel, out)


def _luma(px: np.ndarray) -> np.ndarray:
    """The ``(h, w)`` int64 integer BT.709 luminance of decoded pixels,
    ``(2126 R + 7152 G + 722 B) // 10000``."""
    p = px.astype(np.int64)
    return (2126 * p[..., 0] + 7152 * p[..., 1] + 722 * p[..., 2]) // 10000


def _verify(px, w, h, ph) -> tuple[bool, int]:
    """The integrity checks of a decoded image: its geometry matches the
    metadata (w, h), and the Hamming distance between the stored pHash
    and the one recomputed from its pixels."""
    return px.shape[:2] == (h, w), ic.phash_hamming(int(ph), ic.phash64(px))


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image, emit per-image pixel stats + integrity checks:
    (image_id, w_dec, h_dec, fmt, mean_px, shape_ok, phash_dist).

    ``shape_ok``: the decoded geometry matches the metadata (w, h).
    ``phash_dist``: Hamming distance between the stored pHash and the one
    recomputed from decoded pixels — the decoded-pixel fidelity check
    (lossless formats decode exactly, PSNR inf, distance 0; lossy formats
    meet the >=40 dB contract, checked directly in the codec tests, and
    stay within a small pHash distance here since the original pixels
    aren't stored alongside)."""

    def fn(px, img_id, fmt, w, h, ph):
        h_dec, w_dec = px.shape[:2]
        return [(img_id, w_dec, h_dec, fmt, float(px.mean()), *_verify(px, w, h, ph))]

    return per_image(
        images, fn,
        "image_id string, w_dec int, h_dec int, fmt string, mean_px double, "
        "shape_ok boolean, phash_dist int",
        cols=("image_id", "fmt", "w", "h", "phash"),
    )


def transcode(images: DataFrame, to_fmt: str) -> DataFrame:
    """Re-encode every image to ``to_fmt`` (decode -> encode batch kernel).
    Lossless->lossless preserves pixels exactly; ->dctq preserves
    PSNR >= 40 dB (tested)."""

    def fn(px, img_id, w, h, caption):
        return [(img_id, ic.encode(px, to_fmt), w, h, to_fmt, caption, ic.phash64(px))]

    return per_image(
        images, fn,
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long",
        cols=("image_id", "w", "h", "caption"),
    )


def thumbnail_gray(images: DataFrame, size: int = 8) -> DataFrame:
    """Feature extraction: size x size grayscale thumbnail as array<double>
    (the embedding-ish path for visual near-dup / ANN)."""

    def fn(px, img_id):
        gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        h, w = gray.shape
        ys = (np.arange(size) * h) // size
        xs = (np.arange(size) * w) // size
        return [(img_id, gray[np.ix_(ys, xs)].ravel().tolist())]

    return per_image(images, fn, "image_id string, thumb array<double>")


def image_palette(images: DataFrame, bits: int = 2) -> DataFrame:
    """Posterized color-palette stats per image: quantize each RGB channel
    to its top ``bits`` bits and histogram the resulting color codes.
    Returns (image_id, n_px, n_colors, top_color, top_count) where
    ``top_color = (r >> (8-bits)) << 2*bits | (g >> (8-bits)) << bits |
    (b >> (8-bits))`` and ties on the max count break toward the SMALLEST
    code (np.argmax's first-max rule — mirrored by the oracle's
    (count DESC, code ASC) ranking).

    One ``per_image`` Arrow kernel (decode + np.bincount per image, no
    per-pixel Python), no shuffle: the aggregate is per-image, so it
    happens inside the kernel and the output is one row per image. The
    dominant-color output is the building block for palette-based image
    dedup/clustering and for the mosaic renderer's color pass.
    """
    if not 1 <= bits <= 8:
        raise ValueError(f"bits must be in [1, 8], got {bits}")
    shift = 8 - bits

    def fn(px, img_id):
        q = (px >> shift).astype(np.int64)
        code = (q[..., 0] << (2 * bits)) | (q[..., 1] << bits) | q[..., 2]
        counts = np.bincount(code.ravel(), minlength=1 << (3 * bits))
        top = int(np.argmax(counts))
        return [(img_id, code.size, int((counts > 0).sum()), top, int(counts[top]))]

    return per_image(
        images, fn, "image_id string, n_px long, n_colors long, top_color long, top_count long"
    )


def extract_patches(images: DataFrame, patch: int = 8) -> DataFrame:
    """ViT-style patch grid: decode each image, split it into
    non-overlapping ``patch x patch`` blocks anchored top-left (partial
    edge rows/columns are dropped — the largest patch-multiple window),
    and emit one row per patch with EXACT integer features:
    (image_id, patch_row, patch_col, sum_r, sum_g, sum_b, chk) where
    ``chk = sum over patch bytes of value * (3 * in-patch-pos + ch + 1)``
    — a position-weighted checksum that pins every byte to its exact
    (row, col, channel) slot, so two patches with equal channel sums but
    permuted pixels still differ.

    This is the patch-tokenization front of an image-training pipeline:
    downstream stages key on (image_id, patch_row, patch_col) for
    patch-level dedup or masking. One ``per_image`` Arrow kernel — the
    block split is a single reshape/transpose and the sums/checksum are
    one tensordot per image, no per-pixel Python. Per-patch rows carry
    no pixel payloads, so the fan-out (<= (w//patch)*(h//patch) rows per
    image, none for an image smaller than ``patch``) shuffles only small
    integers.
    """
    if patch < 1:
        raise ValueError(f"patch must be >= 1, got {patch}")
    wgt = (
        3 * (np.arange(patch)[:, None] * patch + np.arange(patch)[None, :])[..., None]
        + np.arange(3)[None, None, :] + 1
    ).astype(np.int64)

    def fn(px, img_id):
        h, w, _ = px.shape
        nr, nc = h // patch, w // patch
        if nr == 0 or nc == 0:
            return []
        blocks = (
            px[: nr * patch, : nc * patch]
            .reshape(nr, patch, nc, patch, 3)
            .transpose(0, 2, 1, 3, 4)
            .astype(np.int64)
        )
        sums = blocks.sum(axis=(2, 3)).reshape(-1, 3)  # (nr * nc, 3)
        chk = (blocks * wgt).sum(axis=(2, 3, 4)).ravel()
        prs, pcs = np.divmod(np.arange(nr * nc), nc)
        return zip(
            [img_id] * (nr * nc), prs.tolist(), pcs.tolist(),
            *sums.T.tolist(), chk.tolist(),
        )

    return per_image(
        images, fn,
        "image_id string, patch_row long, patch_col long, "
        "sum_r long, sum_g long, sum_b long, chk long",
    )


def duplicate_patch_pairs(
    images: DataFrame,
    patch: int = 8,
    sum_shift: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Cross-image near-duplicate patch detection: image pairs that share
    >= ``min_shared`` aligned patches with matching quantized channel
    sums. The patch fingerprint is (patch_row, patch_col,
    sum_r >> sum_shift, sum_g >> sum_shift, sum_b >> sum_shift) — content
    quantized to ``2^sum_shift``-wide sum buckets so pixel-level noise
    does not break the match, position kept so only aligned layout
    duplicates pair (the patch-level analogue of the pHash banding in
    dedup.hamming_band_pairs; training pipelines use it to catch
    watermark/border/template reuse across images).

    Plan: patch tokenization (one Arrow kernel, no pixel payload in the
    shuffle) -> fingerprint bucket grouping (shuffle keyed on the 5-part
    fingerprint) -> intra-bucket pair unrolling JVM-side -> map-side-
    combined pair count. At 100x the image count the only growing cost
    is the fingerprint shuffle, which is linear in the patch count.

    Bucket-size caveat: each bucket's image-id list lives in one row, so
    occupancy must stay row-scale — true whenever the quantized sums
    spread (natural images). A degenerate corpus (millions of identical
    solid-color patches) concentrates one bucket; there, fall back to
    the equi-JOIN formulation the DuckDB oracle spells (same output,
    quadratic pair shuffle instead of one fat row).
    """
    fp = extract_patches(images, patch=patch).select(
        "image_id",
        "patch_row",
        "patch_col",
        F.shiftright("sum_r", sum_shift).alias("qr"),
        F.shiftright("sum_g", sum_shift).alias("qg"),
        F.shiftright("sum_b", sum_shift).alias("qb"),
    )
    keys = ["patch_row", "patch_col", "qr", "qg", "qb"]
    # ONE pass, no self-join: a fingerprint self-join would re-run the
    # decode kernel for the second scan (per_image output has no
    # parquet to re-read). Instead each fingerprint bucket collects its
    # (unique, sorted) image ids — bucket occupancy is quantization-
    # bounded — and the intra-bucket pairs unroll JVM-side with in-row
    # array transforms.
    buckets = (
        fp.groupBy(*keys)
        .agg(F.sort_array(F.collect_set("image_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids)), b -> "
                "struct(a AS img_a, b AS img_b))))"
            )
        ).alias("p")
    ).select("p.img_a", "p.img_b")
    return (
        pairs.groupBy("img_a", "img_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(min_shared))
    )


def hist_equalize_stats(images: DataFrame) -> DataFrame:
    """Per-image histogram equalization mapping over integer luminance
    (lum = (2126*r + 7152*g + 722*b) // 10000, the Rec.709 weights scaled
    to exact int64): one row per OCCUPIED level with
    (image_id, level, n_px, cdf, eq_level) where ``cdf`` is the running
    pixel count through that level and ``eq_level`` the classic remap
    ``(cdf - cdf_min) * 255 // (n_total - cdf_min)`` (0 when the image
    has a single occupied level). The preprocessing half of contrast
    normalization in an image-training pipeline, with the lookup table
    emitted as data.

    Plan: one Arrow decode kernel emits bounded per-image histograms
    (<= 256 rows/image, no pixel payload), then the CDF and remap are
    pure window/column expressions partitioned by image_id — bounded
    partitions, so the window never spills regardless of image size or
    table scale.
    """
    from pyspark.sql import Window

    def fn(px, img_id):
        lum = _luma(px)
        counts = np.bincount(lum.ravel(), minlength=256)
        lv = np.nonzero(counts)[0]
        return zip([img_id] * lv.size, lv.tolist(), counts[lv].tolist())

    hist = per_image(images, fn, "image_id string, level long, n_px long")
    w = Window.partitionBy("image_id").orderBy("level")
    wall = Window.partitionBy("image_id")
    return (
        hist.withColumn("cdf", F.sum("n_px").over(w))
        .withColumn("__tot", F.sum("n_px").over(wall))
        .withColumn("__cmin", F.min(F.when(F.col("cdf") == F.col("n_px"), F.col("n_px"))).over(wall))
        .withColumn(
            "eq_level",
            F.when(
                F.col("__tot") > F.col("__cmin"),
                F.expr("((cdf - __cmin) * 255) div (__tot - __cmin)"),
            ).otherwise(F.lit(0)),
        )
        .select("image_id", "level", "n_px", "cdf", "eq_level")
    )


def edge_stats(images: DataFrame, threshold: int = 160) -> DataFrame:
    """Per-image Sobel gradient statistics over integer Rec.709 luminance
    (same exact-int scaling as ``hist_equalize_stats``): for the interior
    pixels (a valid 3x3 neighborhood) emit
    (image_id, n_interior, sum_gx, sum_gy, edge_px) where sum_gx/sum_gy
    are the exact int64 sums of |Sobel_x| / |Sobel_y| responses and
    ``edge_px`` counts pixels with |gx| + |gy| >= threshold — the
    sharpness/edge-density signal an image-quality filter keys on (blurry
    or flat training images score near zero).

    One Arrow decode kernel; the two convolutions are NumPy slice sums
    (no per-pixel Python) and the output is one row per image, so nothing
    pixel-sized ever shuffles. Images smaller than 3x3 have no interior
    and yield n_interior = 0 rows.
    """

    def fn(px, img_id):
        lum = _luma(px)
        h, w = lum.shape
        if h < 3 or w < 3:
            return [(img_id, 0, 0, 0, 0)]
        gx = (
            (lum[:-2, 2:] + 2 * lum[1:-1, 2:] + lum[2:, 2:])
            - (lum[:-2, :-2] + 2 * lum[1:-1, :-2] + lum[2:, :-2])
        )
        gy = (
            (lum[2:, :-2] + 2 * lum[2:, 1:-1] + lum[2:, 2:])
            - (lum[:-2, :-2] + 2 * lum[:-2, 1:-1] + lum[:-2, 2:])
        )
        mag = np.abs(gx) + np.abs(gy)
        return [
            (img_id, gx.size, int(np.abs(gx).sum()), int(np.abs(gy).sum()),
             int((mag >= threshold).sum()))
        ]

    return per_image(
        images, fn,
        "image_id string, n_interior long, sum_gx long, sum_gy long, edge_px long",
    )


def block_sums(images: DataFrame, queries_per_image: int = 4) -> DataFrame:
    """Integral-image rectangle sums: per image, build the summed-area
    table (SAT) of integer Rec.709 luminance once, then answer
    ``queries_per_image`` deterministic rectangle queries in O(1) each
    via the classic 4-corner identity
    ``S(y1,x1) - S(y0-1,x1) - S(y1,x0-1) + S(y0-1,x0-1)``.

    The rectangles derive from (image index, query index) with fixed
    multiplicative hashing, so engine and oracle agree on them without
    shipping a query table: for query q of image with numeric id v,
    ``x0 = (v * 40503 + q * 2654435761) % w`` etc., normalized so
    x0 <= x1, y0 <= y1. Emits (image_id, q, x0, y0, x1, y1, px_sum).

    This is the windowed-pooling primitive (mean filters, box blur,
    Haar-like features) — the SAT costs one cumsum pass per image in the
    Arrow kernel, after which any number of box queries are constant
    time, while a naive per-query sum (what the DuckDB oracle does —
    deliberately a different algorithm) re-reads every pixel.
    """
    if queries_per_image < 1:
        raise ValueError(f"queries_per_image must be >= 1, got {queries_per_image}")
    Q = queries_per_image

    def fn(px, img_id):
        lum = _luma(px)
        h, w = lum.shape
        sat = lum.cumsum(axis=0).cumsum(axis=1)
        v = int(img_id[3:])  # imgNNNNNNNNN
        qs = np.arange(Q, dtype=np.int64)
        xa = (v * 40503 + qs * 2654435761) % w
        xb = (v * 69069 + qs * 1013904223) % w
        ya = (v * 40503 + qs * 2654435761) % h
        yb = (v * 69069 + qs * 1013904223) % h
        x0, x1 = np.minimum(xa, xb), np.maximum(xa, xb)
        y0, y1 = np.minimum(ya, yb), np.maximum(ya, yb)

        def s(yy, xx):
            out = np.zeros(Q, dtype=np.int64)
            ok = (yy >= 0) & (xx >= 0)
            out[ok] = sat[yy[ok], xx[ok]]
            return out

        tot = s(y1, x1) - s(y0 - 1, x1) - s(y1, x0 - 1) + s(y0 - 1, x0 - 1)
        return zip(
            [img_id] * Q, qs.tolist(),
            x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist(), tot.tolist(),
        )

    return per_image(
        images, fn,
        "image_id string, q long, x0 long, y0 long, x1 long, y1 long, px_sum long",
    )


def blob_stats(images: DataFrame, threshold: int = 195) -> DataFrame:
    """Connected-component blob statistics per image (the region-
    labeling primitive behind object counting / mask extraction):
    threshold integer Rec.709 luminance at ``threshold``, 4-connect the
    foreground, and emit (image_id, n_fg, n_blobs, max_blob) for images
    with at least one foreground pixel.

    Kernel: per image, iterative min-label propagation over the pixel
    grid — labels start as the flat pixel index and each sweep takes the
    minimum across the four masked neighbor shifts until fixpoint
    (iterations are bounded by the largest blob's graph diameter; every
    sweep is whole-array NumPy, no per-pixel Python). The DuckDB oracle
    computes the same components with a recursive transitive-closure CTE
    — a genuinely different algorithm shape.
    """

    def fn(px, img_id):
        lum = _luma(px)
        mask = lum >= threshold
        n_fg = int(mask.sum())
        if n_fg == 0:
            return []
        h, w = mask.shape
        big = h * w  # sentinel above any real label
        lbl = np.where(mask, np.arange(big, dtype=np.int64).reshape(h, w), big)
        while True:
            # Jacobi sweep: every neighbor view is a shift of the CURRENT
            # labels with the sentinel padded in, so the background
            # (= sentinel) can never relay a label between two blobs it
            # separates
            up = np.full_like(lbl, big)
            up[1:, :] = lbl[:-1, :]
            dn = np.full_like(lbl, big)
            dn[:-1, :] = lbl[1:, :]
            lf = np.full_like(lbl, big)
            lf[:, 1:] = lbl[:, :-1]
            rt = np.full_like(lbl, big)
            rt[:, :-1] = lbl[:, 1:]
            nxt = np.where(mask, np.minimum.reduce([lbl, up, dn, lf, rt]), big)
            if (nxt == lbl).all():
                break
            lbl = nxt
        _, counts = np.unique(lbl[mask], return_counts=True)
        return [(img_id, n_fg, counts.size, int(counts.max()))]

    return per_image(
        images, fn, "image_id string, n_fg long, n_blobs long, max_blob long"
    )


def augment_checksums(images: DataFrame) -> DataFrame:
    """Deterministic augmentation pass (the geometry half of an image
    training pipeline's aug stage, with the pixel payload summarized to
    an exact checksum so an independent engine can audit it): per image
    emit one row per augmentation op in {identity, hflip, vflip,
    rot180, crop} with ``chk = sum(px * (3 * (r' * W + c') + ch + 1))``
    — the position-weighted checksum over the TRANSFORMED coordinate
    frame (W = the transformed width). The crop rectangle derives from
    the numeric image id with the same multiplicative hashing as
    ``block_sums``; unlike block_sums' half-open rectangles, the crop is
    INCLUSIVE of both corners — px[y0:y1+1, x0:x1+1] — matching the
    oracle, and is always at least 1x1.

    Flips/rotation are NumPy views (no copy); the checksum is one
    tensordot per op. Output carries no pixels, so 5x rows of 4 ints
    shuffle, not 5x image bytes — at 100x scale the augmented TENSORS
    would go straight into the training shard writer on the same
    executor, never through a shuffle.
    """

    OPS = ("identity", "hflip", "vflip", "rot180", "crop")

    def fn(px, img_id):
        px = px.astype(np.int64)
        h, w = px.shape[:2]
        v = int(img_id[3:])
        x0, x1 = sorted(((v * 40503) % w, (v * 69069) % w))
        y0, y1 = sorted(((v * 40503) % h, (v * 69069) % h))
        variants = {
            "identity": px,
            "hflip": px[:, ::-1],
            "vflip": px[::-1, :],
            "rot180": px[::-1, ::-1],
            "crop": px[y0 : y1 + 1, x0 : x1 + 1],
        }
        rows = []
        for op in OPS:
            a = variants[op]
            hh, ww = a.shape[:2]
            wgt = (
                3 * (np.arange(hh)[:, None] * ww + np.arange(ww)[None, :])[..., None]
                + np.arange(3)[None, None, :]
                + 1
            )
            rows.append((img_id, op, hh * ww, int((a * wgt).sum())))
        return rows

    return per_image(images, fn, "image_id string, op string, n_px long, chk long")


def image_quality(
    images: DataFrame,
    edge_threshold: int = 160,
    min_edge_milli: int = 5,
    min_var: int = 100,
    min_color_milli: int = 10,
) -> DataFrame:
    """Composite image-quality signals — the visual analogue of the text
    pipeline's ``quality_metrics`` filter (blurry / flat / monochrome
    training images score low and drop): per image, ALL exact int64 —

    * ``edge_milli``: Sobel edge-pixel density x1000 over interior
      pixels (sharpness; same stencil as ``edge_stats``),
    * ``lum_var``: population variance of integer luminance scaled by
      n^2 — ``n * sum(l^2) - sum(l)^2`` (contrast; no division, so no
      float),
    * ``color_milli``: mean absolute channel spread x1000,
      ``1000 * sum(|R-G| + |G-B|) // (2 * n)`` (colorfulness),
    * ``keep``: 1 iff all three clear their thresholds (``lum_var``
      compared against ``min_var * n^2`` to stay scale-free).

    One decode per image in one Arrow kernel (no kernel is run twice),
    one row out per image; the thresholds are the tunable knobs of the
    corpus filter stage.
    """

    def fn(px, img_id):
        lum = _luma(px)
        px = px.astype(np.int64)
        h, w = lum.shape
        n = h * w
        s1 = int(lum.sum())
        s2 = int((lum * lum).sum())
        lum_var = n * s2 - s1 * s1
        spread = int(
            (np.abs(px[..., 0] - px[..., 1]) + np.abs(px[..., 1] - px[..., 2])).sum()
        )
        color_milli = 1000 * spread // (2 * n)
        if h >= 3 and w >= 3:
            gx = (
                (lum[:-2, 2:] + 2 * lum[1:-1, 2:] + lum[2:, 2:])
                - (lum[:-2, :-2] + 2 * lum[1:-1, :-2] + lum[2:, :-2])
            )
            gy = (
                (lum[2:, :-2] + 2 * lum[2:, 1:-1] + lum[2:, 2:])
                - (lum[:-2, :-2] + 2 * lum[:-2, 1:-1] + lum[:-2, 2:])
            )
            edges = int((np.abs(gx) + np.abs(gy) >= edge_threshold).sum())
            edge_milli = 1000 * edges // gx.size
        else:
            edge_milli = 0
        keep = int(
            edge_milli >= min_edge_milli
            and lum_var >= min_var * n * n
            and color_milli >= min_color_milli
        )
        return [(img_id, n, edge_milli, lum_var, color_milli, keep)]

    return per_image(
        images, fn,
        "image_id string, n_px long, edge_milli long, lum_var long, "
        "color_milli long, keep int",
    )


def resize_nn(images: DataFrame, out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Nearest-neighbor resize to a fixed (out_w, out_h) — the standard
    normalization step in front of a vision encoder, with the resized
    tensor summarized to exact integers so the shuffle carries 4 ints per
    image, never pixels: (image_id, out_w, out_h, chk, mean_milli).

    Source index map is pure integer floor math — src_r = (r * h) // out_h
    (the "scale then truncate" convention both engines replay exactly);
    ``chk = sum(px' * (3 * (r * out_w + c) + ch + 1))`` is the same
    position-weighted checksum contract as ``augment_checksums``;
    ``mean_milli = 1000 * sum(px') // (3 * out_w * out_h)``.

    One decode + two fancy-index gathers per image inside one Arrow
    kernel; at 100x scale the resized tensors feed the training shard
    writer on the same executor — only the audit ints ever shuffle.
    """
    if out_w < 1 or out_h < 1:
        raise ValueError(f"output dims must be positive, got {out_w}x{out_h}")

    wts = (
        3 * (np.arange(out_h)[:, None] * out_w + np.arange(out_w))[..., None]
        + np.arange(3) + 1
    ).astype(np.int64)

    def fn(px, img_id):
        h, w = px.shape[:2]
        idx_r = (np.arange(out_h) * h) // out_h
        idx_c = (np.arange(out_w) * w) // out_w
        rs = px[idx_r][:, idx_c].astype(np.int64)
        mean_milli = 1000 * int(rs.sum()) // (3 * out_w * out_h)
        return [(img_id, out_w, out_h, int((rs * wts).sum()), mean_milli)]

    return per_image(
        images, fn, "image_id string, out_w int, out_h int, chk long, mean_milli long"
    )


def image_exposure(
    images: DataFrame, lo: int = 16, hi: int = 239, max_clip_milli: int = 200
) -> DataFrame:
    """Exposure-clipping filter: per image the fraction of pixels whose
    integer luminance is crushed (< lo) or blown (> hi), as exact
    per-mille ints, plus the keep decision — (image_id, n_px,
    under_milli, over_milli, well_exposed). The luminance is the same
    integer BT.709 ``(2126 R + 7152 G + 722 B) // 10000`` every other
    image op uses. well_exposed = 1 iff both clip fractions are at most
    ``max_clip_milli``. One decode per image; 4 ints out per image."""

    def fn(px, img_id):
        lum = _luma(px)
        n = lum.size
        um = 1000 * int((lum < lo).sum()) // n
        om = 1000 * int((lum > hi).sum()) // n
        return [(img_id, n, um, om, int(um <= max_clip_milli and om <= max_clip_milli))]

    return per_image(
        images, fn,
        "image_id string, n_px long, under_milli long, over_milli long, well_exposed int",
    )


def letterbox_detect(images: DataFrame) -> DataFrame:
    """Uniform-border (letterbox / pillarbox) detection — the video-crop
    artifact scrub of an image-corpus pipeline: per image count the
    leading/trailing rows and columns that are completely uniform (every
    pixel in the line identical in all three channels), and flag frames
    where bands exist on BOTH opposite sides without swallowing the whole
    image: (image_id, top_rows, bottom_rows, left_cols, right_cols,
    boxed). A fully-flat frame counts h/h/w/w but is NOT boxed (it is the
    flat-image drop case, image_quality's job)."""

    def leading(uni):
        nz = np.flatnonzero(~uni)
        return int(nz[0]) if nz.size else int(uni.size), (
            int(uni.size - 1 - nz[-1]) if nz.size else int(uni.size)
        )

    def fn(px, img_id):
        h, w = px.shape[:2]
        top, bottom = leading((px == px[:, :1, :]).all(axis=(1, 2)))
        left, right = leading((px == px[:1, :, :]).all(axis=(0, 2)))
        boxed = int(
            (0 < top and 0 < bottom and top + bottom < h)
            or (0 < left and 0 < right and left + right < w)
        )
        return [(img_id, top, bottom, left, right, boxed)]

    return per_image(
        images, fn,
        "image_id string, top_rows long, bottom_rows long, "
        "left_cols long, right_cols long, boxed int",
    )


def mip_pyramid(images: DataFrame, levels: int = 2) -> DataFrame:
    """Mip-level image pyramid — the multi-resolution counterpart of
    ``tile_pyramid`` on the PIXEL side: repeated 2x2 box reduce with the
    exact integer floor mean ``(a+b+c+d) // 4`` per channel (odd trailing
    row/col cropped, so level-k dims are ``w >> k``). Level 0 is the
    original. Emits one audit row per (image, level):
    (image_id, level, w, h, px_sum, chk) with the same position-weighted
    checksum contract as ``resize_nn`` — the shuffle carries a handful of
    ints per level, never pixels; at scale the mip tensors themselves
    feed thumbnail/preview shards on the same executor.

    Stops early when the next level would have a zero dimension; callers
    get exactly the levels that exist.
    """
    if levels < 0:
        raise ValueError(f"levels must be >= 0, got {levels}")

    def fn(px, img_id):
        cur = px.astype(np.int64)
        rows = []
        for lvl in range(levels + 1):
            h, w = cur.shape[:2]
            wts = 3 * (np.arange(h)[:, None] * w + np.arange(w))[..., None] + np.arange(3) + 1
            rows.append((img_id, lvl, w, h, int(cur.sum()), int((cur * wts).sum())))
            if lvl == levels or h < 2 or w < 2:
                break
            he, we = (h // 2) * 2, (w // 2) * 2
            q = cur[:he, :we]
            cur = (q[0::2, 0::2] + q[0::2, 1::2] + q[1::2, 0::2] + q[1::2, 1::2]) // 4
        return rows

    return per_image(
        images, fn, "image_id string, level int, w int, h int, px_sum long, chk long"
    )


def mosaic_pack(
    images: DataFrame,
    side: int = 8,
    n_buckets: int = 16,
    salt: str = "mosaic0",
    id_col: str = "image_id",
) -> DataFrame:
    """Deterministic 4-up mosaic augmentation (the YOLO-style composite:
    four images NN-resized to ``side x side`` and packed into one
    ``2*side`` canvas), summarized to exact integers. Grouping is
    md5-bucketed like ``token_shard_pack``: each image hashes into one of
    ``n_buckets`` independent streams, ranks within its bucket by
    (hash, id), and joins mosaic ``group_id = bucket * 2^32 + (rank-1)//4``
    as quadrant ``(rank-1) % 4`` — sticky, engine-portable, no global
    sort. Incomplete tail groups (< 4 members) are dropped.

    The mosaic checksum is position-weighted over the COMPOSITE canvas,
    which makes it separable per member: quadrant q at offset
    (side * (q//2), side * (q%2)) contributes
    ``sum(px' * (3 * ((r+dr)*2*side + c+dc) + ch + 1))`` — computable
    from each image alone given its quadrant. So the plan is one decode
    + resize kernel emitting per-member partial ints, then a group_id
    groupBy summing them; the four members' PIXELS never meet, only
    their checksums do. Returns (group_id, chk, px_sum) per complete
    group; at scale the composite tensors themselves are materialized
    executor-locally by the shard writer from the same assignments.
    """
    if side < 1:
        raise ValueError(f"side must be >= 1, got {side}")
    from pyspark.sql import Window

    from .sampling import _hash32

    h = _hash32(F.col(id_col), salt)
    ranked = (
        images.select(id_col, "bytes", "fmt")
        .withColumn("__h", h)
        .withColumn("__bucket", F.pmod(F.col("__h"), F.lit(n_buckets)))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__bucket").orderBy("__h", id_col)
            ),
        )
        .select(
            id_col, "bytes", "fmt",
            (
                F.col("__bucket") * F.lit(1 << 32).cast("long")
                + ((F.col("__rn") - 1) / F.lit(4)).cast("long")
            ).alias("group_id"),
            ((F.col("__rn") - 1) % 4).alias("quad"),
        )
    )

    canvas = 2 * side
    rr = np.arange(side)

    def fn(px, gid, quad):
        ih, iw = px.shape[:2]
        rs = px[(rr * ih) // side][:, (rr * iw) // side].astype(np.int64)
        dr, dc = side * (quad // 2), side * (quad % 2)
        wts = 3 * ((rr[:, None] + dr) * canvas + rr + dc)[..., None] + np.arange(3) + 1
        return [(gid, int((rs * wts).sum()), int(rs.sum()))]

    parts = per_image(ranked, fn, "group_id long, chk long, px_sum long", cols=("group_id", "quad"))
    return (
        parts.groupBy("group_id")
        .agg(
            F.sum("chk").alias("chk"),
            F.sum("px_sum").alias("px_sum"),
            F.count(F.lit(1)).alias("__members"),
        )
        .filter(F.col("__members") == 4)
        .select("group_id", "chk", "px_sum")
    )


ASPECT_LADDER = (500, 750, 1000, 1333, 2000)


def aspect_buckets(
    images: DataFrame,
    ladder: tuple[int, ...] = ASPECT_LADDER,
    batch_size: int = 32,
) -> DataFrame:
    """Aspect-ratio bucketing for variable-shape training batches (the
    SDXL-style bucketing step): every image's integer aspect
    ``ratio_milli = (1000 * w) div h`` snaps to the NEAREST ladder rung
    (tie -> the smaller rung, first-attains-min), and per-rung stats
    size the dataloader: (bucket_milli, n_images, n_batches,
    min_ratio_milli, max_ratio_milli) with ``n_batches = ceil(n /
    batch_size)``.

    Metadata-only — reads (w, h), never bytes, so the parquet scan
    prunes to two int columns; the snap is a folded column expression
    and the rollup one map-side-combined groupBy. At 10^12 rows this is
    the cheap planning pass that decides shard layout before any decode
    happens.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    if not ladder or list(ladder) != sorted(set(ladder)):
        raise ValueError("ladder must be strictly increasing and non-empty")
    r = (F.lit(1000).cast("long") * F.col("w").cast("long") / F.col("h")).cast(
        "long"
    )
    best = F.lit(ladder[0]).cast("long")
    bestd = F.abs(r - F.lit(ladder[0]))
    for rung in ladder[1:]:
        d = F.abs(r - F.lit(rung))
        best = F.when(d < bestd, F.lit(rung).cast("long")).otherwise(best)
        bestd = F.least(bestd, d)
    tagged = images.select(r.alias("ratio_milli"), best.alias("bucket_milli"))
    return tagged.groupBy("bucket_milli").agg(
        F.count(F.lit(1)).alias("n_images"),
        (
            (F.count(F.lit(1)) + F.lit(batch_size - 1)) / F.lit(batch_size)
        ).cast("long").alias("n_batches"),
        F.min("ratio_milli").alias("min_ratio_milli"),
        F.max("ratio_milli").alias("max_ratio_milli"),
    )


def patch_tile_map(
    images: DataFrame,
    res: int = 8,
    sub_levels: int = 2,
    patch: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Tile-aligned patch geo-mapping — the raster<->vector bridge at the
    PATCH level: treating each image as spanning its res-``res`` tile,
    every ViT patch (the ``extract_patches`` grid: nr = h div patch
    rows, nc = w div patch cols, partial edges dropped) maps to the
    res+``sub_levels`` child tile containing its center. Downstream
    this keys patch-level masking by map layer (mask water patches,
    keep building patches) without decoding anything: the whole mapping
    is metadata arithmetic over (w, h, lat, lon) — the scan never reads
    bytes.

    Conventions: patch (0, 0) is the image's top-left; image top edge
    = the tile's NORTH edge, so sub_iy = iy*m + (m-1 - child_row).
    Child index from the patch center in exact integers:
    ``child = ((2*p + 1) * m) div (2*np)``. Returns (image_id,
    patch_row, patch_col, tile, subtile); fan-out equals the patch
    count the patch pipeline materializes anyway.
    """
    if sub_levels < 1:
        raise ValueError(f"sub_levels must be >= 1, got {sub_levels}")
    if patch < 1:
        raise ValueError(f"patch must be >= 1, got {patch}")
    n = 1 << res
    m = 1 << sub_levels
    gx, gy = grid_ixy(lat, lon, res)
    base = images.select(
        "image_id",
        (F.col("h") / F.lit(patch)).cast("long").alias("__nr"),
        (F.col("w") / F.lit(patch)).cast("long").alias("__nc"),
        gx.alias("__ix"),
        gy.alias("__iy"),
    ).filter((F.col("__nr") >= 1) & (F.col("__nc") >= 1))
    grid = base.select(
        "image_id", "__nr", "__nc", "__ix", "__iy",
        F.explode(F.sequence(F.lit(0), F.col("__nr") - 1)).alias("patch_row"),
    ).select(
        "image_id", "__nr", "__nc", "__ix", "__iy", "patch_row",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("patch_col"),
    )
    cdx = F.expr(f"div((2 * patch_col + 1) * {m}, 2 * __nc)")
    cdy = F.expr(f"div((2 * patch_row + 1) * {m}, 2 * __nr)")
    sub_ix = F.col("__ix") * m + cdx
    sub_iy = F.col("__iy") * m + (F.lit(m - 1) - cdy)
    return grid.select(
        "image_id",
        F.col("patch_row").cast("int").alias("patch_row"),
        F.col("patch_col").cast("int").alias("patch_col"),
        (F.col("__ix") * n + F.col("__iy")).alias("tile"),
        (sub_ix * F.lit(n * m) + sub_iy).alias("subtile"),
    )


def capture_bursts(
    images: DataFrame,
    res: int = 8,
    band_div: int = 1 << 48,
    min_n: int = 2,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Near-duplicate capture-burst detection: groups of images in the
    SAME tile whose perceptual hashes fall in the same coarse band
    (``phash div band_div`` — truncating division, the cross-engine-safe
    spelling; bands of 2^48 keep the top 16 phash bits) — the "N shots
    of the same scene from the same spot" curation signal that exact
    dedup misses. Returns (tile, band, n_images, n_distinct_phash) for
    groups of at least ``min_n``.

    Metadata-only: the scan reads (phash, lat, lon), never bytes; one
    map-side-combined groupBy on (tile, band)."""
    from ..functions.cells import tile_key_col

    return (
        images.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            F.expr(f"phash div {band_div}").alias("band"),
            "phash",
        )
        .groupBy("tile", "band")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.countDistinct("phash").alias("n_distinct_phash"),
        )
        .filter(F.col("n_images") >= min_n)
    )


def region_image_stats(
    images: DataFrame,
    polygons: DataFrame,
    res: int = 8,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Per-region image inventory: every polygon's image count, total
    stored bytes, largest pixel count, and occupied-tile count — the
    "what does our coverage of region X look like" dashboard rollup.
    Returns (polygon_id, n_images, sum_bytes, max_px, n_tiles).

    Plan: the hierarchical-cover PIP join (pip_join, non-unique —
    overlapping regions each count the image) carries only
    (id, size, px, tile); the blob column contributes one length per
    row at scan time and is never shuffled."""
    from ..functions.cells import tile_key_col
    from .pip_join import pip_join

    slim = images.select(
        F.col(id_col),
        F.col("lat"),
        F.col("lon"),
        F.length(F.col(bytes_col)).cast("long").alias("size_bytes"),
        (F.col("w").cast("long") * F.col("h")).alias("px"),
        tile_key_col(F.col("lat"), F.col("lon"), res).alias("tile"),
    )
    owned = pip_join(slim, polygons, res=res, unique=False, id_col=id_col)
    return owned.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("size_bytes").alias("sum_bytes"),
        F.max("px").alias("max_px"),
        F.countDistinct("tile").alias("n_tiles"),
    )


def burst_dedup_keep(
    images: DataFrame,
    res: int = 8,
    band_div: int = 1 << 48,
    id_col: str = "image_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Burst-collapse curation policy: one representative per
    (tile, phash band) capture-burst group — the smallest id, a
    deterministic sticky pick — plus how many near-duplicates it
    displaces. Feeding shard packing with the keep-list instead of the
    raw table removes same-scene redundancy that exact dedup can't see.
    Returns (tile, band, keep_id, n_images, n_dropped); singleton groups
    appear with n_dropped = 0 so the output IS the full keep-list."""
    from ..functions.cells import tile_key_col

    return (
        images.select(
            tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
            F.expr(f"phash div {band_div}").alias("band"),
            F.col(id_col),
        )
        .groupBy("tile", "band")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_images"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
    )


def region_value_quantiles(
    images: DataFrame,
    polygons: DataFrame,
    res: int = 8,
    id_col: str = "image_id",
) -> DataFrame:
    """Per-region EXACT percentiles of image pixel counts — rank-based
    (value at row_number ceil(p*n), ordered by (px, id)), so the answer
    is an actual data value picked deterministically, never an
    interpolated float — the cross-engine-safe percentile contract.
    Returns (polygon_id, n_images, px_p50, px_p90).

    Plan: the PIP join carries (id, px) only; per-polygon ranking is one
    window keyed by polygon (regions bound the partition), then two
    rank-equality picks in the same pass via conditional aggregation.
    Skew note: one polygon = one sort task, so a region holding most of
    the corpus serializes — at that scale trade exactness for the
    mergeable quantile sketches (operators/sketches.py grouped
    quantiles); this operator is the exact-answer member of the pair."""
    from pyspark.sql import Window

    from .pip_join import pip_join

    slim = images.select(
        F.col(id_col), F.col("lat"), F.col("lon"),
        (F.col("w").cast("long") * F.col("h")).alias("px"),
    )
    owned = pip_join(slim, polygons, res=res, unique=False, id_col=id_col)
    w = Window.partitionBy("polygon_id").orderBy(
        F.col("px").asc(), F.col(id_col).asc()
    )
    ranked = owned.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("polygon_id"))
    )
    # ceil(p*n) ranks, integer-exact: ceil(n/2) = (n+1) div 2,
    # ceil(9n/10) = (9n+9) div 10
    r50 = F.expr("CAST((`__n` + 1) div 2 AS BIGINT)")
    r90 = F.expr("CAST((9 * `__n` + 9) div 10 AS BIGINT)")
    return ranked.groupBy("polygon_id").agg(
        F.max("__n").alias("n_images"),
        F.max(F.when(F.col("__rn") == r50, F.col("px"))).alias("px_p50"),
        F.max(F.when(F.col("__rn") == r90, F.col("px"))).alias("px_p90"),
    )


def orientation_hist(images: DataFrame) -> DataFrame:
    """Per-image 8-octant gradient orientation histogram — the HOG-style
    texture descriptor a curation stage uses to separate structured
    scenes from flat/noise frames, kept exactly integer so it is
    oracle-checkable: central-difference gradients over integer Rec.709
    luminance (gx = L[r, c+1] - L[r, c-1], gy = L[r+1, c] - L[r-1, c]
    on interior pixels), octant decided purely by sign and magnitude
    comparisons

        bin = 4*[gy < 0] + 2*[gx < 0] + [|gy| > |gx|]

    with zero-gradient pixels excluded (they have no orientation).
    Returns (image_id, bin, n_px) rows — empty bins are absent.

    One Arrow decode kernel (NumPy slice arithmetic, no per-pixel
    Python); output is at most 8 rows per image, so nothing pixel-sized
    ever shuffles. Images without a 3x3 interior emit nothing.
    """

    def fn(px, img_id):
        lum = _luma(px)
        h, w = lum.shape
        if h < 3 or w < 3:
            return []
        gx = lum[1:-1, 2:] - lum[1:-1, :-2]
        gy = lum[2:, 1:-1] - lum[:-2, 1:-1]
        nz = (gx != 0) | (gy != 0)
        b = (
            4 * (gy < 0).astype(np.int64)
            + 2 * (gx < 0).astype(np.int64)
            + (np.abs(gy) > np.abs(gx)).astype(np.int64)
        )[nz]
        bins, counts = np.unique(b, return_counts=True)
        return zip([img_id] * bins.size, bins.tolist(), counts.tolist())

    return per_image(images, fn, "image_id string, bin long, n_px long")


def image_coverage_gap(
    events: DataFrame,
    images: DataFrame,
    res: int,
    min_events: int = 1,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Imagery-acquisition queue: res-cells with at least ``min_events``
    trajectory events but ZERO images, ranked by how isolated the gap
    is — ``covered_neighbors`` counts the rook-adjacent cells that DO
    hold imagery (4 = a pinhole in otherwise covered area, 0 = an
    imagery desert). The "collect here next" primitive a curation
    pipeline runs after every ingest. Returns
    (tile, n_events, covered_neighbors).

    Plan: two map-side-combined histograms (events, images), one
    anti-join on the cell key, then a 4-offset fan of the (small) gap
    set left-joined against the image histogram — never touches raw
    rows twice, and both fact scans prune to (lat, lon)."""
    if min_events < 1:
        raise ValueError(f"min_events must be >= 1, got {min_events}")
    from .tiling import assign_tiles

    n = 1 << res
    ev_hist = (
        assign_tiles(events.select(lat, lon), res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= min_events)
    )
    img_hist = (
        assign_tiles(images.select(lat, lon), res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )
    gaps = ev_hist.join(img_hist, "tile", "left_anti")
    ix, iy = tile_ixy("tile", n)
    off = stencil(ROOK).alias("o")
    fan = gaps.select("tile", "n_events", off).select(
        "tile",
        "n_events",
        ((ix + F.col("o.dx")) * F.lit(n) + (iy + F.col("o.dy"))).alias("ntile"),
        (ix + F.col("o.dx")).alias("nx"),
        (iy + F.col("o.dy")).alias("ny"),
    )
    valid = in_grid("nx", "ny", n)
    joined = (
        fan.withColumn("__ok", valid.cast("long"))
        .join(
            img_hist.select(F.col("tile").alias("ntile")).withColumn(
                "__hit", F.lit(1)
            ),
            "ntile",
            "left",
        )
        .select(
            "tile",
            "n_events",
            (F.col("__ok") * F.coalesce(F.col("__hit"), F.lit(0))).alias("cov"),
        )
    )
    return joined.groupBy("tile").agg(
        F.max("n_events").alias("n_events"),
        F.sum("cov").alias("covered_neighbors"),
    )


def tile_dup_rate(
    images: DataFrame,
    res: int,
    hash_col: str = "phash",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-cell exact-duplicate pressure audit: for every res-cell with
    imagery, the image count, the distinct perceptual-hash count and
    the duplicate share in exact milli units (1000 * dups div n — no
    float ratio). The per-REGION complement of the global
    ``images_dedup`` pass: cells with high dup_milli are where a
    crawler loops or a landmark floods the corpus, and where
    ``tile_cap_sample`` thinning pays first. Returns
    (tile, n_images, n_distinct, dup_milli).

    Plan: ONE map-side-combined groupBy on the cell key (count +
    count-distinct on the hash) — scan prunes to (hash, lat, lon)."""
    from .tiling import assign_tiles

    return (
        assign_tiles(images.select(hash_col, lat, lon), res, lat=lat, lon=lon)
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.countDistinct(hash_col).alias("n_distinct"),
            F.expr(
                f"CAST(1000 * (count(1) - count(DISTINCT {hash_col})) AS BIGINT)"
                " div count(1)"
            ).alias("dup_milli"),
        )
    )


def tile_medoid(
    images: DataFrame,
    res: int,
    id_col: str = "image_id",
    hash_col: str = "phash",
    lat: str = "lat",
    lon: str = "lon",
    max_per_tile: int = 10_000,
) -> DataFrame:
    """Per-cell representative picker: the pHash MEDOID of each cell's
    images — the image minimizing the total Hamming distance to its
    cell-mates (ties to the smaller id) — which is exactly "the most
    typical photo here", the deterministic thumbnail/cover choice for a
    map tile. Returns (tile, medoid_id, n_images, sum_hamming).

    Plan: cell-blocked all-pairs Hamming WITHIN each cell (the
    images_dedup banding pattern — never across cells), one rollup per
    (cell, candidate) and a struct-min argmin per cell. Per-cell work
    is occupancy^2, so a counted gate raises past ``max_per_tile`` (the
    co_visitation loud-guard pattern; pre-thin with tile_cap_sample)."""
    if max_per_tile is not None and max_per_tile < 1:
        raise ValueError(f"max_per_tile must be >= 1, got {max_per_tile}")
    from .tiling import assign_tiles

    img = (
        assign_tiles(
            images.select(id_col, hash_col, lat, lon), res, lat=lat, lon=lon
        )
        .select(
            F.col(id_col).alias("id"), F.col(hash_col).alias("h"), "tile"
        )
        .localCheckpoint(eager=True)
    )
    return _medoid_by_key(img, "tile", max_per_tile, "tile_medoid")


def _medoid_by_key(
    img: DataFrame, key: str, max_per_key, opname: str
) -> DataFrame:
    """Shared medoid core over a pinned (key, id, h) frame: blocked
    all-pairs Hamming WITHIN each key group, one rollup per
    (key, candidate) and a struct-min argmin per key — the back half of
    ``tile_medoid`` (cell keys) and ``region_medoid`` (polygon keys).
    Per-group work is occupancy^2, so a counted gate raises past
    ``max_per_key``."""
    if max_per_key is not None:
        worst = (
            img.groupBy(key).agg(F.count(F.lit(1)).alias("nc"))
            .filter(F.col("nc") > max_per_key)
            .orderBy(F.col("nc").desc()).limit(1).collect()
        )
        if worst:
            r = worst[0]
            raise ValueError(
                f"{opname}: group {r[key]} holds {r['nc']} images "
                f"(> {max_per_key}); within-group work is occupancy^2 — "
                "coarsen the key or pre-thin with tile_cap_sample"
            )
    other = img.select(
        key, F.col("id").alias("oid"), F.col("h").alias("oh")
    )
    pairs = img.join(other, key).filter(F.col("id") != F.col("oid"))
    ham = pairs.select(
        key, "id",
        F.bit_count(F.col("h").bitwiseXOR(F.col("oh"))).alias("d"),
    )
    cand = ham.groupBy(key, "id").agg(F.sum("d").alias("sum_ham"))
    sizes = img.groupBy(key).agg(F.count(F.lit(1)).alias("n_images"))
    # singleton groups never enter the pair join: their medoid is their
    # only image with sum_hamming 0
    singles = (
        img.join(sizes.filter(F.col("n_images") == 1), key)
        .select(key, F.col("id").alias("medoid_id"),
                "n_images", F.lit(0).cast("long").alias("sum_hamming"))
    )
    best = (
        cand.groupBy(key)
        .agg(F.min(F.struct(F.col("sum_ham"), F.col("id"))).alias("__b"))
        .join(sizes, key)
        .select(
            key, F.col("__b.id").alias("medoid_id"), "n_images",
            F.col("__b.sum_ham").alias("sum_hamming"),
        )
    )
    return best.unionByName(singles)


def region_medoid(
    images: DataFrame,
    polygons: DataFrame,
    res: int = 8,
    id_col: str = "image_id",
    hash_col: str = "phash",
    max_per_region: int = 10_000,
) -> DataFrame:
    """Per-REGION representative picker: the pHash medoid of each
    polygon's PIP-joined images (ties to the smaller id) — "the most
    typical photo of this administrative area", the region-cover twin
    of ``tile_medoid`` and the image-side use of the engine's central
    PIP machinery. Non-unique ownership: an image inside two
    overlapping polygons is a candidate in both. Returns
    (polygon_id, medoid_id, n_images, sum_hamming).

    Plan: the hierarchical-cover PIP join carries only (id, phash);
    the pinned ownership frame then feeds the shared quadratic-blocked
    medoid core (``_medoid_by_key``), gated by ``max_per_region``."""
    from .pip_join import pip_join

    slim = images.select(F.col(id_col), "lat", "lon", F.col(hash_col))
    owned = (
        pip_join(slim, polygons, res=res, unique=False, id_col=id_col)
        .select(
            "polygon_id",
            F.col(id_col).alias("id"),
            F.col(hash_col).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    return _medoid_by_key(owned, "polygon_id", max_per_region, "region_medoid")


def blur_scores(images: DataFrame, min_var: int = 1000) -> DataFrame:
    """Sharpness audit — the variance-of-Laplacian blur detector every
    image-curation pipeline runs before training (Pech-Pacheco et al.
    2000), exact-integer flavor: per image the 4-neighbor Laplacian
    L = 4*lum - up - down - left - right over INTERIOR pixels of the
    integer BT.709 luminance, reported as the moment sums plus the
    variance as an exact rational — var = var_num / n_int^2 with
    var_num = n_int * sum(L^2) - sum(L)^2. ``is_sharp`` = 1 iff
    var >= min_var, decided in integers (var_num >= min_var * n_int^2),
    so the keep decision is bit-deterministic across engines. A blurred
    or flat frame has small |L| everywhere -> tiny variance; in-focus
    texture and edges push it up. Images without interior (h < 3 or
    w < 3) report n_int = 0 and is_sharp = 0.

    Magnitudes: |L| <= 1020, L^2 <= ~1.04e6, so int64 holds to ~8.8e12
    interior pixels per image — every real frame. One decode per image;
    5 ints out (one ``per_image`` Arrow pass)."""
    if min_var < 0:
        raise ValueError(f"min_var must be >= 0, got {min_var}")

    def fn(px, img_id):
        lum = _luma(px)
        h, w = lum.shape
        if h < 3 or w < 3:
            return [(img_id, 0, 0, 0, 0, 0)]
        lap = (
            4 * lum[1:-1, 1:-1]
            - lum[:-2, 1:-1]
            - lum[2:, 1:-1]
            - lum[1:-1, :-2]
            - lum[1:-1, 2:]
        )
        n = lap.size
        s1 = int(lap.sum())
        s2 = int((lap * lap).sum())
        var_num = n * s2 - s1 * s1
        return [(img_id, n, s1, s2, var_num, int(var_num >= min_var * n * n))]

    return per_image(
        images, fn,
        "image_id string, n_int long, sum_lap long, sum_lap2 long, "
        "var_num long, is_sharp int",
    )


def banding_scores(images: DataFrame, lags: tuple = (1, 2, 3)) -> DataFrame:
    """Scanline-banding audit — the sensor-artifact scrub: periodic
    horizontal banding (readout interference, rolling-shutter flicker)
    makes the sequence of ROW luminance means autocorrelate at the band
    period, so per image and per lag k this reports the exact
    integer aligned-segment autocovariance of the quantized row means
    rm[r] = (sum of row luminance) // w:

        cov_num = n_terms * sum(rm[r] * rm[r+k])
                - (head mean sum) * (tail mean sum),   n_terms = h - k

    (the ``tile_autocov`` estimator on the row axis). A banded frame
    shows cov_num strongly positive at the band period and negative at
    half-period; clean frames hover near 0. Row means are bounded by
    255, so every term stays int64 to h ~ 2e5 rows. Returns one row per
    (image_id, lag_k): (image_id, lag_k, n_terms, sum_prod, head_sum,
    tail_sum, cov_num); frames with h <= k emit n_terms = 0 rows. One
    decode per image (one ``per_image`` Arrow pass)."""
    for k in lags:
        if k < 1:
            raise ValueError(f"lags must be >= 1, got {k}")

    def fn(px, img_id):
        lum = _luma(px)
        h, w = lum.shape
        rm = lum.sum(axis=1) // w
        rows = []
        for k in lags:
            if h <= k:
                rows.append((img_id, k, 0, 0, 0, 0, 0))
                continue
            head, tail = rm[:-k], rm[k:]
            nt = h - k
            sp = int((head * tail).sum())
            hs = int(head.sum())
            ts = int(tail.sum())
            rows.append((img_id, k, nt, sp, hs, ts, nt * sp - hs * ts))
        return rows

    return per_image(
        images, fn,
        "image_id string, lag_k int, n_terms long, sum_prod long, "
        "head_sum long, tail_sum long, cov_num long",
    )


def vignette_scores(images: DataFrame, max_milli: int = 800) -> DataFrame:
    """Vignetting audit — the lens/composite artifact scrub: per image
    the exact integer luminance sums of the BORDER region (everything
    outside the central half-box rows [h//4, h - h//4) x cols
    [w//4, w - w//4)) versus the CENTER box, and their mean ratio in
    exact milli:

        vign_milli = (1000 * sum_border * n_center)
                     div (sum_center * n_border)

    — under 1000 means the border is darker than the center (classic
    vignette or heavy edge letterboxing the uniform-line detector
    misses); ``is_vignetted`` = 1 iff vign_milli <= max_milli, decided
    in integers. A zero-luminance center (sum_center = 0) reports NULL
    ratio and is_vignetted = 0, as does an image too small to have a
    border (h < 4 or w < 4). One decode per image (``per_image``)."""
    if not 0 <= max_milli <= 1000:
        raise ValueError(f"max_milli must be in [0, 1000], got {max_milli}")

    def fn(px, img_id):
        lum = _luma(px)
        h, w = lum.shape
        if h < 4 or w < 4:
            return [(img_id, 0, 0, 0, 0, None, 0)]
        r0, r1 = h // 4, h - h // 4
        c0, c1 = w // 4, w - w // 4
        center = lum[r0:r1, c0:c1]
        nc = center.size
        sc = int(center.sum())
        nb = lum.size - nc
        sb = int(lum.sum()) - sc
        if sc == 0 or nb == 0:
            return [(img_id, nb, sb, nc, sc, None, 0)]
        vm = 1000 * sb * nc // (sc * nb)
        return [(img_id, nb, sb, nc, sc, vm, int(vm <= max_milli))]

    return per_image(
        images, fn,
        "image_id string, n_border long, sum_border long, "
        "n_center long, sum_center long, vign_milli long, is_vignetted int",
    )


def phash_bit_bias(images: DataFrame, hash_col: str = "phash") -> DataFrame:
    """Per-bit BIAS audit of the pHash corpus — the health check of every
    Hamming-distance dedup family: a bit stuck near all-0 or all-1
    carries no information, silently shrinking the effective hash from
    64 bits and inflating band collisions (LSH buckets blow up). For
    each bit position 0..63 reports the ones-count and the exact bias
    numerator |2 * n_ones - n| (0 = perfectly balanced, n = stuck).
    Returns (bit, n_ones, n_images, bias_num) — 64 rows.

    Plan: one 64-literal explode over the hash column (arithmetic shift
    + mask, identical semantics both engines on negative int64 — two's
    complement), one map-side-combined rollup; output is constant-size
    regardless of corpus."""
    bits = F.explode(
        F.array(*[F.lit(k) for k in range(64)])
    ).alias("bit")
    flat = images.select(F.col(hash_col).alias("h")).select("h", bits)
    return (
        flat.select(
            "bit",
            F.expr("shiftright(h, bit) & 1").alias("b"),
        )
        .groupBy("bit")
        .agg(
            F.sum("b").alias("n_ones"),
            F.count(F.lit(1)).alias("n_images"),
        )
        .select(
            F.col("bit").cast("long"),
            "n_ones", "n_images",
            F.abs(F.lit(2) * F.col("n_ones") - F.col("n_images"))
            .alias("bias_num"),
        )
    )


def image_emd_outliers(images: DataFrame) -> DataFrame:
    """Luminance-distribution OUTLIER score per image: the exact 1-D
    earth mover's distance between each frame's 256-bin luminance
    histogram and the CORPUS-MEAN histogram, cross-multiplied to
    integers (1-D EMD = sum over bins of |ECDF difference|):

        d_num = sum_b |C_i(b) * N - C(b) * n_i|,   d_den = n_i * N

    — the domain-shift detector of an image-curation pipeline: frames
    whose tonal distribution sits far from the corpus (renders among
    photos, night frames in a daylight corpus, wrong colorspace) rank
    highest. Returns (image_id, n_px, d_num, d_den). int64 holds while
    n_i * N < 2^63 (~9e6-pixel frames against a 1e12-pixel corpus);
    widen to DECIMAL beyond.

    Plan: one decode per image emitting its 256 CUMULATIVE counts
    (constant 256 rows per frame); the corpus cumulative is one 256-row
    rollup broadcast back; one final per-image rollup. Nothing scans
    pixels twice."""

    def fn(px, img_id):
        lum = _luma(px)
        cum = np.cumsum(np.bincount(lum.ravel(), minlength=256))
        return zip([img_id] * 256, range(256), cum.tolist(), [lum.size] * 256)

    cums = per_image(
        images, fn, "image_id string, bin int, cum_i long, n_px long"
    ).localCheckpoint(eager=True)  # one decode feeds corpus AND per-image
    corpus = cums.groupBy("bin").agg(F.sum("cum_i").alias("ccum"))
    total = cums.filter(F.col("bin") == 255).agg(
        F.sum("n_px").alias("n_total")
    )
    return (
        cums.join(F.broadcast(corpus), "bin")
        .crossJoin(F.broadcast(total))
        .groupBy("image_id", "n_px", "n_total")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_i") * F.col("n_total")
                    - F.col("ccum") * F.col("n_px")
                )
            ).alias("d_num")
        )
        .select(
            "image_id", "n_px", "d_num",
            (F.col("n_px") * F.col("n_total")).alias("d_den"),
        )
    )


def symmetry_scores(images: DataFrame, max_milli: int = 50) -> DataFrame:
    """Horizontal mirror-SYMMETRY audit — the synthetic-frame tell:
    logos, renders, and UI screenshots are far more left-right
    symmetric than photographs. Per image the exact integer sum of
    |lum(r, c) - lum(r, w-1-c)| over all pixels (middle column
    contributes 0; each mirrored pair counts twice — a deterministic
    constant factor), normalized to exact milli of the maximum:
    asym_milli = (1000 * sum) div (255 * n_px). ``is_symmetric`` = 1
    iff asym_milli <= max_milli. Returns (image_id, n_px, sum_absdiff,
    asym_milli, is_symmetric). One decode per image (``per_image``)."""
    if not 0 <= max_milli <= 1000:
        raise ValueError(f"max_milli must be in [0, 1000], got {max_milli}")

    def fn(px, img_id):
        lum = _luma(px)
        n = lum.size
        sad = int(np.abs(lum - lum[:, ::-1]).sum())
        am = 1000 * sad // (255 * n)
        return [(img_id, n, sad, am, int(am <= max_milli))]

    return per_image(
        images, fn,
        "image_id string, n_px long, sum_absdiff long, asym_milli long, is_symmetric int",
    )


def color_cast_scores(images: DataFrame, max_milli: int = 1200) -> DataFrame:
    """Color-CAST audit — the white-balance scrub: per image the exact
    integer channel sums and the dominant/weakest channel-mean ratio in
    exact milli, cast_milli = (1000 * max_sum) div min_sum (channel
    counts are equal, so sums compare directly). A neutral frame sits
    near 1000; tungsten/underwater/IR frames blow past it.
    ``is_neutral`` = 1 iff cast_milli <= max_milli; a zero-valued
    weakest channel (min_sum = 0) reports NULL ratio and is_neutral 0.
    Returns (image_id, n_px, sum_r, sum_g, sum_b, cast_milli,
    is_neutral). One decode per image (``per_image``)."""
    if max_milli < 1000:
        raise ValueError(f"max_milli must be >= 1000, got {max_milli}")

    def fn(px, img_id):
        n = px.shape[0] * px.shape[1]
        sr, sg, sb = (int(s) for s in px.sum(axis=(0, 1), dtype=np.int64))
        mn, mx = min(sr, sg, sb), max(sr, sg, sb)
        if mn == 0:
            return [(img_id, n, sr, sg, sb, None, 0)]
        cm = 1000 * mx // mn
        return [(img_id, n, sr, sg, sb, cm, int(cm <= max_milli))]

    return per_image(
        images, fn,
        "image_id string, n_px long, sum_r long, sum_g long, "
        "sum_b long, cast_milli long, is_neutral int",
    )


def image_bimodality(images: DataFrame) -> DataFrame:
    """Luminance BIMODALITY per image — the backlit / hard-split frame
    detector: a silhouette against a bright sky or a half-burned scan
    puts pixel luminance into two clumps, scoring high on Sarle's
    b = (skew^2 + 1) / kurtosis over the integer luminance moments
    (``tile_bimodality``'s algebra aimed at pixels):

        b = (M3^2 + M2^3) / (M2 * M4),  M_k the n^k-scaled central
        moments from the raw integer sums s1..s4

    quantized to exact milli; a uniform-lit frame sits near 556, two
    point masses reach 1000. Returns (image_id, n_px, m2n, bc_milli)
    with bc_milli NULL for a flat frame (M2 = 0). Arbitrary-precision
    Python ints in the kernel; the HUGEINT oracle holds to ~2000 px
    per frame at worst-case skew — the fixture's 32x32 sits far below.
    One decode per image (``per_image``)."""

    def fn(px, img_id):
        lum = _luma(px)
        y = lum.ravel()
        n = y.size
        s1 = int(y.sum())
        s2 = int((y * y).sum())
        y3 = y * y * y
        s3 = int(y3.sum())
        s4 = int((y3 * y).sum())
        m2 = n * s2 - s1 * s1
        m3 = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 ** 3
        m4 = n ** 3 * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2 - 3 * s1 ** 4
        if m2 == 0:
            return [(img_id, n, 0, None)]
        return [(img_id, n, m2, 1000 * (m3 * m3 + m2 ** 3) // (m2 * m4))]

    return per_image(
        images, fn, "image_id string, n_px long, m2n long, bc_milli long"
    )
