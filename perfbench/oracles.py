"""Independent answers the benchmark checks the program's outputs against.

Each is computed once per seed during set-up, outside every timed
interval, with NumPy or DuckDB over the same generated inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

def quantize(x: np.ndarray) -> np.ndarray:
    """Spark ``round(x * 1000)`` (HALF_UP) as int64, the ANN families'
    scalar quantization."""
    v = np.asarray(x, dtype=np.float64) * 1000.0
    return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)


def ann_exact_topk(vec_ids: np.ndarray, vecs: np.ndarray, k: int) -> dict[int, list[tuple[int, int]]]:
    """Exact top-k by quantized dot product for the family's query set
    (every id % 50 == 0), self excluded, ordered (dot desc, id asc):
    query_id -> [(neighbor_id, dot), ...]."""
    X = quantize(vecs)
    qmask = vec_ids % 50 == 0
    D = X[qmask] @ X.T
    out = {}
    for qi, qid in enumerate(vec_ids[qmask]):
        row = D[qi]
        other = np.flatnonzero(vec_ids != qid)
        order = other[np.lexsort((vec_ids[other], -row[other]))][:k]
        out[int(qid)] = [(int(vec_ids[j]), int(row[j])) for j in order]
    return out


def pair_dots(vec_ids: np.ndarray, vecs: np.ndarray) -> "callable":
    """Exact quantized dot for any (query, neighbor) id pair."""
    X = quantize(vecs)
    pos = {int(v): i for i, v in enumerate(vec_ids)}
    return lambda a, b: int(X[pos[a]] @ X[pos[b]])


def epoch_seconds(ts: pd.Series) -> np.ndarray:
    return ((ts - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(seconds=1)).to_numpy(np.int64)


def micro(deg: np.ndarray) -> np.ndarray:
    return np.floor(np.asarray(deg, dtype=np.float64) * 1_000_000.0).astype(np.int64)


def knox_counts(events: pd.DataFrame, ds_micro: int, dt_sec: int) -> dict[str, int]:
    """Knox all-pairs counts by brute force over every event pair."""
    x, y = micro(events["lat"]), micro(events["lon"])
    t = epoch_seconds(events["ts"])
    n = len(x)
    ns = nt = nst = 0
    for i0 in range(0, n, 512):
        sl = slice(i0, min(n, i0 + 512))
        idx = np.arange(sl.start, sl.stop)[:, None]
        upper = np.arange(n)[None, :] > idx
        near_s = (np.abs(x[sl, None] - x[None, :]) <= ds_micro) & (
            np.abs(y[sl, None] - y[None, :]) <= ds_micro) & upper
        near_t = (np.abs(t[sl, None] - t[None, :]) <= dt_sec) & upper
        ns += int(near_s.sum())
        nt += int(near_t.sum())
        nst += int((near_s & near_t).sum())
    return {"n_events": n, "ns_pairs": ns, "nt_pairs": nt, "nst_pairs": nst,
            "e_num": 2 * ns * nt, "e_den": n * (n - 1)}


def co_visitation(events: pd.DataFrame, res: int, min_days: int) -> pd.DataFrame:
    """(a, b, n_codays): user pairs sharing a res-``res`` tile on at
    least ``min_days`` distinct days, in DuckDB SQL."""
    import duckdb

    n = 1 << res
    ev = events.assign(ep=epoch_seconds(events["ts"]))[["user_id", "ep", "lat", "lon"]]
    con = duckdb.connect()
    try:
        con.register("ev", ev)
        return con.execute(f"""
            WITH pres AS (
              SELECT DISTINCT
                LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {n}.0) AS BIGINT), 0), {n - 1}) * {n}
                + LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * {n}.0) AS BIGINT), 0), {n - 1}) AS tile,
                ep // 86400 AS day, user_id AS entity
              FROM ev
            ),
            pairs AS (
              SELECT DISTINCT p.entity AS a, q.entity AS b, p.day
              FROM pres p JOIN pres q
                ON q.tile = p.tile AND q.day = p.day AND p.entity < q.entity
            )
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_codays
            FROM pairs GROUP BY 1, 2 HAVING count(*) >= {min_days}
            ORDER BY a, b
        """).fetchdf()
    finally:
        con.close()


def distance_pairs(events: pd.DataFrame, pois: pd.DataFrame, radius: float) -> pd.DataFrame:
    """(point_id, neighbor_id, dist) for every event/POI pair within
    ``radius`` degrees (squared-euclid-degree metric)."""
    plat, plon = events["lat"].to_numpy(), events["lon"].to_numpy()
    flat, flon = pois["lat"].to_numpy(), pois["lon"].to_numpy()
    dlat = plat[:, None] - flat[None, :]
    dlon = plon[:, None] - flon[None, :]
    dist = dlat * dlat + dlon * dlon
    i, j = np.nonzero(dist <= float(radius) * float(radius))
    return pd.DataFrame({
        "point_id": events["event_id"].to_numpy()[i],
        "neighbor_id": pois["id"].to_numpy()[j],
        "dist": dist[i, j],
    }).sort_values(["point_id", "neighbor_id"], ignore_index=True)


def frechet(events: pd.DataFrame, pairs: list[tuple[int, int]]) -> pd.DataFrame:
    """(a, b, n_a, n_b, frechet_d): discrete Fréchet distance between the
    users' (ts, event_id)-ordered trajectories under the micro-degree
    Chebyshev metric."""
    ev = events.sort_values(["ts", "event_id"])
    seqs = {
        u: (micro(g["lat"]), micro(g["lon"])) for u, g in ev.groupby("user_id", sort=False)
    }
    recs = []
    for a, b in pairs:
        (ax, ay), (bx, by) = seqs[a], seqs[b]
        d = np.maximum(np.abs(ax[:, None] - bx[None, :]), np.abs(ay[:, None] - by[None, :]))
        n, m = d.shape
        c = np.empty_like(d)
        for i in range(n):
            for j in range(m):
                if i == 0 and j == 0:
                    best = d[0, 0]
                elif i == 0:
                    best = c[0, j - 1]
                elif j == 0:
                    best = c[i - 1, 0]
                else:
                    best = min(c[i - 1, j], c[i, j - 1], c[i - 1, j - 1])
                c[i, j] = max(d[i, j], best)
        recs.append((a, b, n, m, int(c[-1, -1])))
    return pd.DataFrame(recs, columns=["a", "b", "n_a", "n_b", "frechet_d"])


def knn_exact(points: pd.DataFrame, feats: pd.DataFrame, k: int) -> dict[str, list[int]]:
    """image_id -> ids of its k nearest features (squared-euclid-degree),
    ties to the smaller id."""
    flat, flon, fid = (feats[c].to_numpy() for c in ("lat", "lon", "id"))
    out = {}
    for i0 in range(0, len(points), 1024):
        chunk = points.iloc[i0 : i0 + 1024]
        dlat = chunk["lat"].to_numpy()[:, None] - flat[None, :]
        dlon = chunk["lon"].to_numpy()[:, None] - flon[None, :]
        dist = dlat * dlat + dlon * dlon
        for r, pid in enumerate(chunk["image_id"]):
            order = np.lexsort((fid, dist[r]))[:k]
            out[pid] = [int(fid[j]) for j in order]
    return out


def table_hash(pdf: pd.DataFrame) -> int:
    """Order-insensitive content hash of a table (row order and file
    layout do not matter; every column value does)."""
    cols = sorted(pdf.columns)
    rows = pdf[cols].sort_values(cols, ignore_index=True)
    return int(pd.util.hash_pandas_object(rows, index=False).sum()) & ((1 << 64) - 1)
