"""kNN join: cell-cogroup + vectorized NumPy top-k, with expanding-radius
rounds for exactness.

Reference analogue: the interactive "nearest plausible name" selection in
translate_with_wikidata (/root/reference/src/translate_with_wikidata.py:
158-217) generalized to *k nearest named features per point* for caption
enrichment (SURVEY.md §2.3 "kNN join", §2.5 "Top-k nearest").

Design (exact kNN, skew-proof, broadcast-free):

* both sides get a grid cell at an auto-sized resolution (one aggregate
  over the feature dim picks the finest res that keeps ~3k+2 expected
  features per radius-1 disk);
* per round, features are exploded to every cell of the round's ANNULUS —
  wrap-aware Chebyshev distance in (prev_radius, radius] from their own
  cell (the SMALL side fans out, never the points; round 1's annulus is
  the radius-1 disk) — then points cogroup with them per cell and a NumPy
  kernel computes each point's top-k with chunked distance matrices —
  candidates never materialize as JVM rows. (A naive explode+window
  formulation produced a 51M-row window at sf0.1 — 20% of points and
  features share one urban cell — and took minutes; the cogroup kernel
  does the same work as a few hundred vectorized matrix blocks.)
* the kernel itself applies the exactness test — a point is RESOLVED when
  it has k neighbors and its kth distance is <= the guaranteed lower bound
  of any cell beyond the explored disk (R * cell_lat_extent degrees, the
  smaller grid axis for |lat| < 60°) — and emits either the k result rows
  or one carry-forward row with the point's coordinates plus its partial
  top-k (exact over the explored disk; annulus candidate sets are
  disjoint across rounds, so the next round merges instead of re-scoring
  — round N's explode volume is the ring only, not the whole disk, and
  explored features are never re-scored). Each round's input is the
  previous round's unresolved output: no driver-side broadcasts of id
  sets, no anti-joins (an earlier design broadcast ~500k-id done-sets per
  round — pure serial driver time);
* once the remaining pairwise volume is small, a group-partitioned
  brute-force pass (features replicated per group) finishes the stragglers
  exactly.

Determinism: tie-break by (distance, feature id) everywhere, so output is
identical at any parallelism (SURVEY.md §7.3).

Metrics: ``euclid_deg`` (squared degrees; bit-reproducible in the DuckDB
oracle) or ``haversine`` (meters).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions import geo
from ..functions.cells import _norm_ixy, tile_key_col

# feature dims at or under this many rows are collected once and broadcast
# as a grid index (knn_join's broadcast path)
BROADCAST_ROWS = 200_000


def auto_res(
    n_feats: int, lat_span: float, lon_span: float, k: int,
    min_per_disk: float | None = None,
) -> int:
    """Finest grid resolution keeping ~``min_per_disk`` expected features
    per radius-1 disk (default 3k+2): round 1 then resolves most points
    while candidate volume stays near O(points x k). The in-task broadcast
    kernel passes a larger target (~128): fewer, bigger point groups —
    NumPy throughput beats per-group dispatch overhead there."""
    target = min_per_disk if min_per_disk is not None else 3 * k + 2
    for r in range(20, 2, -1):
        cells = max(1.0, lat_span / 180.0 * (1 << r)) * max(
            1.0, lon_span / 360.0 * (1 << r)
        )
        per_disk = 9.0 * n_feats / cells
        if per_disk >= target:
            return r
    return 3


def _explode_feature_disk(
    feats: DataFrame, res: int, radius: int, min_radius: int = -1
) -> DataFrame:
    """Explode each feature to every cell whose wrap-aware Chebyshev
    distance from its own cell is in (``min_radius``, ``radius``] (all of
    [0, radius] when ``min_radius`` = -1, the no-previous-disk default;
    note distance 0 — the feature's own cell — must be included then).
    ``min_radius`` >= 0 emits only
    the ANNULUS between two rounds' disks — round N's kernel merges its
    carried top-k (exact over the previous disk) with annulus candidates,
    so features are never re-exploded to already-explored cells.

    Longitude wraps: distances use min(|dx|, n - |dx|) and cells reached
    twice around the globe are deduplicated, so the annulus never
    re-emits a cell the previous disk already covered.

    Invariant: ``radius`` < 2^res. A disk of Chebyshev radius n-1 already
    covers the whole grid (y-extent n-1; x wrap distance maxes at n//2),
    so a larger radius only re-derives the same cell set — callers must
    clamp to the full-disk radius instead (knn_join does)."""
    if radius >= (1 << res):
        raise ValueError(
            f"radius {radius} >= grid size {1 << res}: a radius-(n-1) disk "
            "already covers the grid; clamp to the full-disk radius"
        )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def disk(lat: pd.Series, lon: pd.Series) -> pd.Series:
        n = np.int64(1) << res
        ix, iy = _norm_ixy(lat, lon, res)
        offs = np.arange(-radius, radius + 1, dtype=np.int64)
        dx, dy = np.meshgrid(offs, offs, indexing="ij")
        dx, dy = dx.ravel(), dy.ravel()
        # true modular wrap distance: min(|dx|, n - |dx|) alone goes
        # NEGATIVE once |dx| > n (possible if a radius schedule ever
        # exceeds the grid), collapsing cheb to |dy| and double-emitting
        # cells across annulus rounds — reduce mod n first
        adx = np.abs(dx) % n
        wrap_dx = np.minimum(adx, n - adx)
        cheb = np.maximum(wrap_dx, np.abs(dy))
        ring = (cheb > min_radius) & (cheb <= radius)
        dx, dy = dx[ring], dy[ring]
        nx = np.mod(ix[:, None] + dx[None, :], n)
        ny = iy[:, None] + dy[None, :]
        valid = (ny >= 0) & (ny < n)
        keys = nx * n + ny
        # unique: a cell reachable both ways around the globe appears once
        return pd.Series([np.unique(keys[i][valid[i]]).tolist() for i in range(len(keys))])

    return feats.withColumn(
        "__cell", F.explode(disk(F.col("__flat"), F.col("__flon")))
    )


_EMPTY_COLS = [
    "__pid", "__plat", "__plon", "neighbor_id", "rank", "dist", "__ok",
    "__cids", "__cds",
]


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "__pid": pd.Series(dtype="object"),
            "__plat": pd.Series(dtype="float64"),
            "__plon": pd.Series(dtype="float64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "rank": pd.Series(dtype="int32"),
            "dist": pd.Series(dtype="float64"),
            "__ok": pd.Series(dtype="bool"),
            "__cids": pd.Series(dtype="object"),
            "__cds": pd.Series(dtype="object"),
        }
    )


def _stable_topk(d: np.ndarray, kk: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact per-row top-``kk`` of a distance matrix under the
    (value, column-position) total order. Fast path: argpartition +
    lexsort of the selected block (columns are fid-sorted, so position is
    the id tie-break). A full stable argsort everywhere would be exact
    too but costs ~log(m) more comparisons — measured as a 1.5x flagship
    kNN regression — so rows whose kk-th value also occurs OUTSIDE the
    partition selection (the only case argpartition can get wrong: a
    boundary tie dropping a smaller-position candidate) are detected with
    one equality pass and re-sorted stably individually."""
    n, m = d.shape
    if kk >= m:
        isort = np.argsort(d, axis=1, kind="stable")
        return isort, np.take_along_axis(d, isort, axis=1)
    idx = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    dsel = np.take_along_axis(d, idx, axis=1)
    srt = np.lexsort((idx, dsel))
    isort = np.take_along_axis(idx, srt, axis=1)
    dsort = np.take_along_axis(dsel, srt, axis=1)
    thresh = dsort[:, -1]
    n_eq_total = (d == thresh[:, None]).sum(axis=1)
    n_eq_sel = (dsort == thresh[:, None]).sum(axis=1)
    for r in np.flatnonzero(n_eq_total > n_eq_sel):
        o = np.argsort(d[r], kind="stable")[:kk]
        isort[r] = o
        dsort[r] = d[r][o]
    return isort, dsort


def _topk_kernel(k: int, metric: str, bound: float | None, chunk: int = 4096):
    """Cogroup kernel: per cell, chunked distance matrix -> per-point
    top-k, MERGED with each point's carried partial top-k (``__cids`` /
    ``__cds`` — the exact top-k over every previously explored disk, so
    with annulus-only feature explosion candidate sets across rounds are
    disjoint and the merge is exact top-k over the union). ``bound`` is
    the exactness threshold for the full explored disk: points whose
    merged kth distance exceeds it (or with < k candidates) are emitted
    as single carry-forward rows (__ok=False) holding their coordinates
    AND their merged candidates, so the next round needs no join against
    the input and never re-scores explored features. ``bound=None`` ->
    unconditional brute force over ALL features (carry ignored: the full
    recompute supersedes it). Ties broken by (dist, feature id) via
    lexsort — deterministic at any parallelism."""

    def fn(key, pts: pd.DataFrame, fts: pd.DataFrame) -> pd.DataFrame:
        if len(pts) == 0:
            return _empty_out()
        has_carry = bound is not None and "__cids" in pts.columns
        m = len(fts)
        if m:
            flat = fts["__flat"].to_numpy(np.float64)
            flon = fts["__flon"].to_numpy(np.float64)
            fid = fts["neighbor_id"].to_numpy()
            order = np.argsort(fid, kind="stable")
            flat, flon, fid = flat[order], flon[order], fid[order]
        if m == 0 and bound is None:
            return _empty_out()
        kk = min(k, m)
        frames = []
        for s in range(0, len(pts), chunk):
            sub = pts.iloc[s : s + chunk]
            plat = sub["__plat"].to_numpy(np.float64)
            plon = sub["__plon"].to_numpy(np.float64)
            if m:
                if metric == "euclid_deg":
                    d = (plat[:, None] - flat[None, :]) ** 2 + (
                        plon[:, None] - flon[None, :]
                    ) ** 2
                else:
                    d = geo.haversine_m(
                        plat[:, None], plon[:, None], flat[None, :], flon[None, :]
                    )
                # exact (dist, fid) order incl. boundary ties (columns
                # are fid-sorted) — argpartition fast path + per-row
                # stable fallback on detected boundary ties
                isort, dsort = _stable_topk(d, kk)
            if has_carry:
                car_i = sub["__cids"].to_numpy()
                car_d = sub["__cds"].to_numpy()
                carry_rows = np.array(
                    [isinstance(c, (list, np.ndarray)) and len(c) > 0 for c in car_i],
                    dtype=bool,
                )
            else:
                carry_rows = np.zeros(len(sub), dtype=bool)
            # vectorized fast path: rows with no carried candidates
            plain = ~carry_rows
            if m:
                ok = np.zeros(len(sub), dtype=bool)
                if bound is None:
                    ok[plain] = True
                else:
                    okp = (kk == k) & (dsort[plain][:, -1] <= bound)
                    ok[np.flatnonzero(plain)] = okp
            else:
                ok = np.zeros(len(sub), dtype=bool)
            # merged path: rows carrying candidates from previous disks
            mg_pid, mg_lat, mg_lon, mg_ids, mg_ds = [], [], [], [], []
            cf_pid, cf_lat, cf_lon, cf_ids, cf_ds = [], [], [], [], []
            for r in np.flatnonzero(carry_rows):
                ci = np.asarray(car_i[r], dtype=np.int64)
                cd = np.asarray(car_d[r], dtype=np.float64)
                if m:
                    ids = np.concatenate([ci, fid[isort[r]]])
                    ds = np.concatenate([cd, dsort[r]])
                else:
                    ids, ds = ci, cd
                o = np.lexsort((ids, ds))
                ids, ds = ids[o][:k], ds[o][:k]
                if len(ids) >= k and ds[k - 1] <= bound:
                    mg_pid.append(sub["__pid"].iloc[r])
                    mg_lat.append(plat[r]); mg_lon.append(plon[r])
                    mg_ids.append(ids); mg_ds.append(ds)
                else:
                    cf_pid.append(sub["__pid"].iloc[r])
                    cf_lat.append(plat[r]); cf_lon.append(plon[r])
                    cf_ids.append(ids.tolist()); cf_ds.append(ds.tolist())
            n_ok = int(ok.sum())
            if n_ok:
                sel = np.flatnonzero(ok)
                frames.append(
                    pd.DataFrame(
                        {
                            "__pid": np.repeat(sub["__pid"].to_numpy()[sel], kk),
                            "__plat": np.repeat(plat[sel], kk),
                            "__plon": np.repeat(plon[sel], kk),
                            "neighbor_id": fid[isort[sel]].ravel(),
                            "rank": np.tile(
                                np.arange(1, kk + 1, dtype=np.int32), n_ok
                            ),
                            "dist": dsort[sel].ravel(),
                            "__ok": True,
                            "__cids": None,
                            "__cds": None,
                        }
                    )
                )
            if mg_pid:
                frames.append(
                    pd.DataFrame(
                        {
                            "__pid": np.repeat(np.asarray(mg_pid, dtype=object), k),
                            "__plat": np.repeat(mg_lat, k),
                            "__plon": np.repeat(mg_lon, k),
                            "neighbor_id": np.concatenate(mg_ids),
                            "rank": np.tile(np.arange(1, k + 1, dtype=np.int32), len(mg_pid)),
                            "dist": np.concatenate(mg_ds),
                            "__ok": True,
                            "__cids": None,
                            "__cds": None,
                        }
                    )
                )
            unres = plain & ~ok if bound is not None else np.zeros(len(sub), dtype=bool)
            if bound is not None and (unres.any() or cf_pid):
                sel = np.flatnonzero(unres)
                pid_all = list(sub["__pid"].to_numpy()[sel]) + cf_pid
                lat_all = list(plat[sel]) + cf_lat
                lon_all = list(plon[sel]) + cf_lon
                if m:
                    ids_all = [fid[isort[r]].tolist() for r in sel] + cf_ids
                    ds_all = [dsort[r].tolist() for r in sel] + cf_ds
                else:
                    ids_all = [[] for _ in sel] + cf_ids
                    ds_all = [[] for _ in sel] + cf_ds
                frames.append(
                    pd.DataFrame(
                        {
                            "__pid": pid_all,
                            "__plat": np.asarray(lat_all, dtype=np.float64),
                            "__plon": np.asarray(lon_all, dtype=np.float64),
                            "neighbor_id": np.int64(-1),
                            "rank": np.int32(0),
                            "dist": np.float64(0.0),
                            "__ok": False,
                            "__cids": pd.Series(ids_all, dtype="object"),
                            "__cds": pd.Series(ds_all, dtype="object"),
                        }
                    )
                )
        if not frames:
            return _empty_out()
        return pd.concat(frames, ignore_index=True)

    return fn


def _grid_topk(
    plat: np.ndarray,
    plon: np.ndarray,
    grid: dict,
    k: int,
    metric: str,
    hav_factor: float,
):
    """Exact top-k of each point against a grid-indexed feature array
    (all NumPy, in-task). Per point-cell group: gather candidates from the
    Chebyshev-R cell disk, verify with the same exactness bound as the
    cogroup path (kth dist <= R * cell extent), escalate R for the few
    points near sparse regions, fall back to all-features brute force once
    the disk covers the grid. Ties broken by (dist, feature id) exactly
    like ``_topk_kernel``. Returns (nbr_ids (N,k'), dists, kk)."""
    n = grid["n"]
    res_cell_deg = 180.0 / n
    flat, flon, fid = grid["flat"], grid["flon"], grid["fid"]
    cells_uniq, starts, ends, order = (
        grid["cells"], grid["starts"], grid["ends"], grid["order"]
    )
    m = len(fid)
    kk = min(k, m)
    N = len(plat)
    out_ids = np.empty((N, kk), dtype=fid.dtype)
    out_d = np.empty((N, kk), dtype=np.float64)
    px, py = _norm_ixy(plat, plon, grid["res"])
    pcell = px * n + py
    sort_idx = np.argsort(pcell, kind="stable")
    cells_sorted = pcell[sort_idx]
    group_cells, gstarts = np.unique(cells_sorted, return_index=True)
    gends = np.append(gstarts[1:], N)

    def solve(sel: np.ndarray, cand: np.ndarray, bound: float | None) -> np.ndarray:
        """Top-k of points ``sel`` against feature indices ``cand``;
        writes resolved rows, returns the unresolved subset of sel."""
        if len(cand) < k and bound is not None:
            return sel
        cf = np.sort(cand)  # fid-sorted candidate order for tie-breaks
        cl, co, ci = flat[cf], flon[cf], fid[cf]
        if metric == "euclid_deg":
            d = (plat[sel][:, None] - cl[None, :]) ** 2 + (
                plon[sel][:, None] - co[None, :]
            ) ** 2
        else:
            d = geo.haversine_m(plat[sel][:, None], plon[sel][:, None], cl[None, :], co[None, :])
        kk2 = min(k, len(cf))
        # exact (dist, fid) order incl. boundary ties (cf is index- =
        # fid-sorted): argpartition fast path + stable fallback
        isort, dsort = _stable_topk(d, kk2)
        if bound is None:
            ok = np.ones(len(sel), dtype=bool)
        else:
            ok = (kk2 == kk) & (dsort[:, -1] <= bound)
            if np.isscalar(ok):
                ok = np.full(len(sel), bool(ok))
        done = sel[ok]
        out_ids[done] = ci[isort[ok][:, :kk]]
        out_d[done] = dsort[ok][:, :kk]
        return sel[~ok]

    for g in range(len(group_cells)):
        sel = sort_idx[gstarts[g]:gends[g]]
        cx, cy = group_cells[g] // n, group_cells[g] % n
        radius = 1
        while True:
            if radius >= n:  # disk covers the grid: exact brute force
                solve(sel, np.arange(m), None)
                break
            xs = np.mod(np.arange(cx - radius, cx + radius + 1), n)
            ys = np.arange(max(cy - radius, 0), min(cy + radius, n - 1) + 1)
            disk = (xs[:, None] * n + ys[None, :]).ravel()
            pos = np.searchsorted(cells_uniq, disk)
            pos = pos[pos < len(cells_uniq)]
            pos = np.unique(pos[np.isin(cells_uniq[pos], disk)])
            cand = (
                np.concatenate([order[starts[j]:ends[j]] for j in pos])
                if len(pos)
                else np.empty(0, dtype=np.int64)
            )
            bound_deg = radius * res_cell_deg
            bound = (
                bound_deg * bound_deg
                if metric == "euclid_deg"
                else bound_deg * 111_194.9 * hav_factor
            )
            sel = solve(sel, cand, bound)
            if len(sel) == 0:
                break
            radius *= 4
    return out_ids, out_d, kk


def knn_broadcast(
    points: DataFrame,
    features: DataFrame,
    k: int = 3,
    point_id: str = "image_id",
    feature_id: str = "id",
    metric: str = "euclid_deg",
    res: int | None = None,
) -> DataFrame:
    """Exact kNN against a BROADCASTABLE feature dimension: one
    ``mapInPandas`` pass over the points with a grid-indexed copy of the
    dim shipped to every task — zero shuffles, zero driver rounds, and
    per-point candidate sets bounded by the cell disk (the in-task
    analogue of the cogroup ring expansion; a plain broadcast brute force
    was measured 40% SLOWER than the cogroup path at 200k x 5k because
    candidate volume, not shuffle, dominates). Identical (dist, id)
    tie-breaks -> bit-identical to the cogroup path (parity-tested)."""
    return _knn_grid_pass(
        points, _feature_cols(features, feature_id).toPandas(), k, point_id, metric, res
    )


def _feature_cols(features: DataFrame, feature_id: str, *extra) -> DataFrame:
    return features.select(
        F.col(feature_id).alias("neighbor_id"),
        F.col("lat").alias("__flat"),
        F.col("lon").alias("__flon"),
        *extra,
    )


def _collect_features(features: DataFrame, feature_id: str, threshold: int, *extra):
    """The broadcast gate as one bounded job: up to ``threshold + 1``
    (neighbor_id, __flat, __flon, *extra) rows; more than ``threshold``
    means the dim is over the gate."""
    return _feature_cols(features, feature_id, *extra).limit(threshold + 1).toPandas()


def _knn_grid(feats_pdf: pd.DataFrame, k: int, metric: str, res: int | None) -> dict:
    """The ``_grid_topk`` index of an already-collected feature frame
    (neighbor_id, __flat, __flon): features sorted by id (``fid``) and
    bucketed by cell at ``res`` (auto-sized from the dim when None), plus
    the dim's haversine bound factor."""
    feats_pdf = feats_pdf.sort_values("neighbor_id", kind="stable")
    m = len(feats_pdf)
    flat = feats_pdf["__flat"].to_numpy(np.float64)
    flon = feats_pdf["__flon"].to_numpy(np.float64)
    fid = feats_pdf["neighbor_id"].to_numpy()
    if res is None:
        lat_span = max(float(flat.max() - flat.min()) if m else 1e-6, 1e-6)
        lon_span = max(float(flon.max() - flon.min()) if m else 1e-6, 1e-6)
        res = auto_res(m, lat_span, lon_span, k, min_per_disk=max(3 * k + 2, 128))
    n = np.int64(1) << res
    fx, fy = _norm_ixy(flat, flon, res)
    fcell = fx * n + fy
    order = np.argsort(fcell, kind="stable")  # stable: id order kept per cell
    cells_uniq, starts = np.unique(fcell[order], return_index=True)
    ends = np.append(starts[1:], m)
    hav_factor = 1.0
    if metric == "haversine" and m:
        maxabs = min(float(np.abs(flat).max()), 89.999)
        hav_factor = max(min(1.0, 2.0 * np.cos(np.radians(maxabs))) * 0.999, 1e-9)
    return dict(
        res=res, n=int(n), flat=flat, flon=flon, fid=fid,
        cells=cells_uniq, starts=starts, ends=ends, order=order, hav_factor=hav_factor,
    )


def _knn_grid_pass(
    points: DataFrame,
    feats_pdf: pd.DataFrame,
    k: int,
    point_id: str,
    metric: str,
    res: int | None,
) -> DataFrame:
    """``knn_broadcast`` over an already-collected feature frame
    (neighbor_id, __flat, __flon)."""
    grid = _knn_grid(feats_pdf, k, metric, res)
    bc = points.sparkSession.sparkContext.broadcast(grid)
    pid_type = points.schema[point_id].dataType.simpleString()
    out_schema = (
        f"{point_id} {pid_type}, neighbor_id long, rank int, dist double"
    )
    from .spread import scan_spread

    # per-point answers are partitioning-independent; spread an
    # under-split scan so the grid kernel is not bound to one or two
    # row-group tasks (r8; no-op on pre-split production inputs)
    pts = scan_spread(
        points.select(
            F.col(point_id).alias("__pid"),
            F.col("lat").alias("__plat"),
            F.col("lon").alias("__plon"),
        )
    )

    def run(batches):
        import pandas as pd

        g = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            plat = pdf["__plat"].to_numpy(np.float64)
            plon = pdf["__plon"].to_numpy(np.float64)
            # per-batch point latitudes can exceed the dim's extent
            hf = g["hav_factor"]
            if metric == "haversine" and len(plat):
                pmax = min(float(np.abs(plat).max()), 89.999)
                hf = min(hf, max(min(1.0, 2.0 * np.cos(np.radians(pmax))) * 0.999, 1e-9))
            ids, d, kk = _grid_topk(plat, plon, g, k, metric, hf)
            yield pd.DataFrame(
                {
                    point_id: np.repeat(pdf["__pid"].to_numpy(), kk),
                    "neighbor_id": ids.ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), len(pdf)),
                    "dist": d.ravel(),
                }
            )

    return pts.mapInPandas(run, schema=out_schema)


def knn_join(
    points: DataFrame,
    features: DataFrame,
    k: int = 3,
    res: int | None = None,
    point_id: str = "image_id",
    feature_id: str = "id",
    metric: str = "euclid_deg",
    max_ring: int = 64,
    brute_max_pairs: int = 4_000_000_000,
    broadcast_threshold: int = BROADCAST_ROWS,
    _feats: pd.DataFrame | None = None,
) -> DataFrame:
    """Exact k-nearest-features per point.

    Returns (point_id, neighbor_id, rank, dist). ``points`` needs
    (point_id, lat, lon); ``features`` needs (feature_id, lat, lon).
    ``res=None`` auto-sizes the grid from the feature density. Feature
    dims at or under ``broadcast_threshold`` rows take the broadcast
    fast path (``knn_broadcast`` — identical results, no shuffle); the
    ring-expansion cogroup path below is the huge-dim scale path.
    ``_feats`` is the gate's collect when the caller already ran it.
    """
    small = _feats if _feats is not None else _collect_features(
        features, feature_id, broadcast_threshold
    )
    if len(small) <= broadcast_threshold:
        return _knn_grid_pass(points, small, k, point_id, metric, res)
    stats = features.agg(
        F.count(F.lit(1)).alias("n"),
        (F.max("lat") - F.min("lat")).alias("lat_span"),
        (F.max("lon") - F.min("lon")).alias("lon_span"),
        F.greatest(F.abs(F.max("lat")), F.abs(F.min("lat"))).alias("maxabs_lat"),
    ).collect()[0]
    n_feats = stats["n"]
    if res is None:
        res = auto_res(
            n_feats, max(stats["lat_span"], 1e-6), max(stats["lon_span"], 1e-6), k
        )
    cell_lat_deg = 180.0 / (1 << res)
    if metric == "haversine":
        # the exactness bound assumes the latitude axis is the smaller
        # cell extent; longitude cells are 2x wider in degrees but shrink
        # by cos(lat) in meters, so above |lat| ~ 60 the lon axis governs.
        # Scale by min(1, 2 cos(max |lat|)) over BOTH frames, with a 0.999
        # margin for the small-angle curvature of constant-lat arcs.
        pstats = points.agg(
            F.greatest(F.abs(F.max("lat")), F.abs(F.min("lat"))).alias("m")
        ).collect()[0]
        maxabs = min(max(float(stats["maxabs_lat"] or 0.0), float(pstats["m"] or 0.0)), 89.999)
        hav_factor = max(min(1.0, 2.0 * np.cos(np.radians(maxabs))) * 0.999, 1e-9)
    else:
        hav_factor = 1.0

    pid_type = points.schema[point_id].dataType.simpleString()
    out_schema = (
        f"__pid {pid_type}, __plat double, __plon double, "
        "neighbor_id long, rank int, dist double, __ok boolean, "
        "__cids array<long>, __cds array<double>"
    )

    feats = _feature_cols(features, feature_id).persist()

    unresolved = points.select(
        F.col(point_id).alias("__pid"),
        F.col("lat").alias("__plat"),
        F.col("lon").alias("__plon"),
        F.array().cast("array<long>").alias("__cids"),
        F.array().cast("array<double>").alias("__cds"),
    )

    def with_cell(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__cell", tile_key_col(F.col("__plat"), F.col("__plon"), res)
        )

    resolved_parts: list[DataFrame] = []
    persisted: list[DataFrame] = [feats]
    n_grid = 1 << res
    radius = 1
    prev_radius = -1  # no previous disk: round 1 covers [0, 1]
    while radius <= max_ring:
        # a radius-(n-1) disk covers the whole grid (the explode's
        # invariant): clamp the schedule there; that round scores every
        # feature, so its bound is +inf and nothing can remain unresolved
        # except points with < k candidates grid-wide
        eff_radius = min(radius, n_grid - 1)
        full_disk = eff_radius >= n_grid - 1
        bound_deg = eff_radius * cell_lat_deg
        bound = (
            float("inf")
            if full_disk
            else bound_deg * bound_deg
            if metric == "euclid_deg"
            else bound_deg * 111_194.9 * hav_factor
        )
        kernel = _topk_kernel(k, metric, bound)
        # annulus-only fan-out: round N explodes features to the ring
        # (prev_radius, radius] only — carried candidates already hold the
        # exact top-k over the previous disk, so re-exploding it would
        # only re-score known features
        round_out = (
            with_cell(unresolved)
            .groupBy("__cell")
            .cogroup(
                _explode_feature_disk(
                    feats, res, eff_radius, min_radius=prev_radius
                ).groupBy("__cell")
            )
            .applyInPandas(kernel, schema=out_schema)
        ).persist()
        persisted.append(round_out)
        resolved_parts.append(
            round_out.filter(F.col("__ok")).select("__pid", "neighbor_id", "rank", "dist")
        )
        unresolved = round_out.filter(~F.col("__ok")).select(
            "__pid", "__plat", "__plon", "__cids", "__cds"
        )
        n_unresolved = unresolved.count()
        if n_unresolved == 0:
            unresolved = None
            break
        if full_disk:
            # every feature is scored: only < k-candidate points remain;
            # further annulus rounds would be empty — hand them to the
            # brute-force pass below
            break
        # stragglers shortcut: once the remaining pairwise volume is small,
        # one group-partitioned brute-force pass (features replicated per
        # group; exact, no bound needed) beats exploding features to ever
        # larger disks — radius-R disks multiply the FULL dim by (2R+1)^2.
        if n_unresolved * n_feats <= brute_max_pairs:
            break
        prev_radius = eff_radius
        radius *= 4

    if unresolved is not None:
        n_groups = max(1, min(256, int(unresolved.count()) // 2000 + 1))
        pts_g = unresolved.withColumn("__g", F.pmod(F.hash("__pid"), F.lit(n_groups)))
        fts_g = feats.crossJoin(
            points.sparkSession.range(n_groups).select(F.col("id").cast("int").alias("__g"))
        )
        bf_kernel = _topk_kernel(k, metric, None)
        bf = (
            pts_g.groupBy("__g")
            .cogroup(fts_g.groupBy("__g"))
            .applyInPandas(lambda key, p, f: bf_kernel(key, p, f), schema=out_schema)
        )
        resolved_parts.append(bf.select("__pid", "neighbor_id", "rank", "dist"))

    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    out = out.select(F.col("__pid").alias(point_id), "neighbor_id", "rank", "dist")
    # materialize the (small: points x k rows) result and cut its lineage,
    # then release every intermediate cache — repeated knn_join calls in a
    # long-lived session must not accumulate executor storage (the loop's
    # round caches would otherwise live until the session ends)
    out = out.localCheckpoint(eager=True)
    for df_ in persisted:
        df_.unpersist()
    return out
