"""``ann_mobility`` workload: one client, closed loop, over a fixed cycle
of two rounds of eleven requests.

* Seven corpus top-k requests from ``operators.similarity`` over seeded
  clustered image embeddings: the exact kernel plus IVF, Lloyd-IVF,
  LSH-kernel, PQ-rescored, SQ8 and IVF-PQ-rescored. Each approximate
  answer also yields its recall@5 against the exact top-k.
* Four mobility requests over seeded multi-day trajectories whose hot
  cluster holds a fixed share of the events: ``spatial.knox_stat``,
  ``tiling.co_visitation``, ``spatial.distance_join`` (events against
  POIs) and ``spatial.frechet_dist`` (on co-visiting pairs).

Each request is one call plus collecting its result to the client; it
is checked against a NumPy or DuckDB oracle computed once in set-up.
Two rounds per cycle give the latency median 22 samples: with 11 the
median is a single request type and jumps between types from run to run.
"""

from __future__ import annotations

import statistics

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
import oracles
from common import Run, latency_summary

N_VECTORS = 4000
K = 5
TRAJ = dict(n_users=200, n_days=7, hot_share=0.2, n_pois=300)
N_EVENTS = 6000
KNOX_DS_MICRO = 1_000_000
KNOX_DT_SEC = 86_400
COVIS_RES = 8
COVIS_MIN_DAYS = 2
RADIUS_DEG = 0.05
FRECHET_PAIRS = 20
ROUNDS_PER_CYCLE = 2


def _families():
    from langtoolsosm_spark.operators import similarity as S

    return [
        ("similarity.topk_dot_kernel", lambda e: S.topk_dot_kernel(e, k=K)),
        ("similarity.ivf_ann_topk", lambda e: S.ivf_ann_topk(e, k=K)),
        ("similarity.ivf_lloyd_ann_topk", lambda e: S.ivf_lloyd_ann_topk(e, k=K)),
        ("similarity.ann_lsh_topk", lambda e: S.ann_lsh_topk(e, k=K, kernel_buckets=True)),
        ("similarity.pq_ann_rescored", lambda e: S.pq_ann_rescored(e, k=K)),
        ("similarity.sq8_ann_topk", lambda e: S.sq8_ann_topk(e, k=K)),
        ("similarity.ivf_pq_ann_rescored", lambda e: S.ivf_pq_ann_rescored(e, k=K)),
    ]


class AnnMobility:
    name = "ann_mobility"

    def __init__(self, run: Run):
        self.run = run
        self.recalls: list[float] = []

    def generate(self) -> None:
        d = inputs.ann_mobility_inputs(self.run.seed, N_VECTORS, N_EVENTS, **TRAJ)
        self.paths = {k: f"{d}/{k}.parquet" for k in ("embeddings", "events", "pois")}

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from langtoolsosm_spark.operators import spatial
        from langtoolsosm_spark.operators.tiling import co_visitation

        self.spark = spark
        emb = spark.read.parquet(self.paths["embeddings"])
        ev = spark.read.parquet(self.paths["events"])
        pois = spark.read.parquet(self.paths["pois"])
        pts = ev.select(F.col("event_id").alias("point_id"), "lat", "lon")
        with self.run.untimed():
            e = pq.read_table(self.paths["embeddings"]).to_pandas()
            ids = e["vec_id"].to_numpy(np.int64)
            vecs = np.stack(e["embedding"].to_numpy())
            self.exact = oracles.ann_exact_topk(ids, vecs, K)
            self.dot = oracles.pair_dots(ids, vecs)
            events = pq.read_table(self.paths["events"]).to_pandas()
            self.knox = oracles.knox_counts(events, KNOX_DS_MICRO, KNOX_DT_SEC)
            self.covis = oracles.co_visitation(events, COVIS_RES, COVIS_MIN_DAYS)
            pairs = [tuple(map(int, r)) for r in self.covis[["a", "b"]].head(FRECHET_PAIRS).to_numpy()]
            self.frechet = oracles.frechet(events, pairs)
            self.dist = oracles.distance_pairs(
                events, pq.read_table(self.paths["pois"]).to_pandas(), RADIUS_DEG
            )
        pair_df = spark.createDataFrame(pd.DataFrame(pairs, columns=["a", "b"]))
        n_ev = len(events)
        self.requests = [(name, fn, emb, N_VECTORS) for name, fn in _families()] + [
            ("spatial.knox_stat",
             lambda d: spatial.knox_stat(d, ds_micro=KNOX_DS_MICRO, dt_sec=KNOX_DT_SEC), ev, n_ev),
            ("tiling.co_visitation",
             lambda d: co_visitation(d, res=COVIS_RES, min_days=COVIS_MIN_DAYS), ev, n_ev),
            ("spatial.distance_join",
             lambda d: spatial.distance_join(d, pois, radius=RADIUS_DEG), pts, n_ev),
            ("spatial.frechet_dist", lambda d: spatial.frechet_dist(d, pair_df), ev, n_ev),
        ]
        # warm-up: one untimed request
        name, fn, src, _ = self.requests[0]
        why = self._check(name, fn(src).toPandas())
        if why:
            raise AssertionError(f"warm-up {name}: {why}")

    # -- the closed loop ----------------------------------------------------

    def cycle(self) -> None:
        run = self.run
        for name, fn, src, n_in in self.requests * ROUNDS_PER_CYCLE:
            rid = run.next_rid()
            with run.op(name) as rec:
                with run.tracer.span(name, rid) as sp:
                    df = fn(src)
                    sp.called()
                    got = df.toPandas()
            rec["images"] = n_in
            if rec["ok"]:
                with run.untimed():
                    why = self._check(name, got)
                if why:
                    run.fail(rec, f"{name}: {why}")

    # -- output checks --------------------------------------------------------

    def _check(self, name: str, got: pd.DataFrame) -> str | None:
        """None if ``got`` is right, else why not."""
        if name.startswith("similarity."):
            return self._check_topk(name, got)
        if name == "spatial.knox_stat":
            row = got.iloc[0].to_dict() if len(got) == 1 else {}
            want = self.knox
            return None if {k: int(row.get(k, -1)) for k in want} == want else f"{row} != {want}"
        if name == "tiling.co_visitation":
            return _same(got, self.covis, ["a", "b", "n_codays"])
        if name == "spatial.frechet_dist":
            return _same(got, self.frechet, ["a", "b", "n_a", "n_b", "frechet_d"])
        if name == "spatial.distance_join":
            g = got.sort_values(["point_id", "neighbor_id"], ignore_index=True)
            w = self.dist
            if len(g) != len(w) or not (
                (g["point_id"].to_numpy() == w["point_id"].to_numpy()).all()
                and (g["neighbor_id"].to_numpy() == w["neighbor_id"].to_numpy()).all()
            ):
                return f"{len(g)} pairs, expected {len(w)}"
            if not np.allclose(g["dist"], w["dist"], rtol=0, atol=1e-12):
                return "distances differ"
            return None
        return f"no check for {name}"

    def _check_topk(self, name: str, got: pd.DataFrame) -> str | None:
        score = "adist" if "adist" in got.columns else "dot"
        hits = total = 0
        for qid, g in got.groupby("query_id"):
            exact = self.exact.get(int(qid))
            if exact is None:
                return f"query {qid} is not in the query set"
            g = g.sort_values("rank")
            if len(g) > K or list(g["rank"]) != list(range(1, len(g) + 1)):
                return f"query {qid}: ranks {list(g['rank'])}"
            nids = [int(n) for n in g["neighbor_id"]]
            if qid in nids or len(set(nids)) != len(nids):
                return f"query {qid}: self or duplicate neighbour"
            s = g[score].to_numpy()
            sign = 1 if score == "adist" else -1
            order = np.lexsort((np.array(nids), sign * s))
            if list(order) != list(range(len(g))):
                return f"query {qid}: rows not in ({score}, id) order"
            if score == "dot" and any(self.dot(int(qid), n) != int(d) for n, d in zip(nids, s)):
                return f"query {qid}: dot differs from the exact quantized dot"
            hits += len(set(nids) & {n for n, _ in exact})
        total = sum(len(v) for v in self.exact.values())
        if name == "similarity.topk_dot_kernel":
            want = [(q, i + 1, n, d) for q, v in self.exact.items() for i, (n, d) in enumerate(v)]
            rows = sorted(zip(got["query_id"], got["rank"], got["neighbor_id"], got["dot"]))
            if [tuple(map(int, r)) for r in rows] != sorted(want):
                return "exact top-k differs from the NumPy oracle"
        else:
            self.recalls.append(hits / total)
        return None

    # -- metrics --------------------------------------------------------------

    def e2e(self) -> dict:
        ops = self.run.ops
        ok = [o for o in ops if o["ok"]]
        lat = latency_summary([o["s"] for o in ops])
        return {
            "images_per_s": statistics.median(o["images"] / o["s"] for o in ok) if ok else 0.0,
            "requests_per_s": len(ok) / sum(o["s"] for o in ops) if ops else 0.0,
            "latency_p50_s": lat["latency_p50_s"],
            "latency_tail_s": lat["latency_tail_s"],
            "recall_at_5": statistics.mean(self.recalls) if self.recalls else 0.0,
            "_latency": lat,
            "_request_s": [(o["kind"].split(".")[-1], round(o["s"], 3)) for o in ops],
        }


def _same(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> str | None:
    g = sorted(tuple(int(x) for x in r) for r in got[cols].to_numpy())
    w = sorted(tuple(int(x) for x in r) for r in want[cols].to_numpy())
    return None if g == w else f"{len(g)} rows, expected {len(w)} (or values differ)"
