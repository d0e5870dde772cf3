"""Point-in-polygon join: cell prefilter + exact vectorized ray-cast
refinement.

Replaces the reference's server-side area containment
(/root/reference/lib/osm_utils.py:34-43 — ``area[...]->.searchArea``) with
the engine's central design move (SURVEY.md §2.3, §4 item 1): cover every
polygon with grid cells, accept points in *interior* cells outright, and
ray-cast only the points in *boundary* cells (NumPy, no per-row Python).

Two physical paths, one answer:

* **Narrow path** (polygon set at or under the 2000-row gate, both
  broadcast flags on): the cover and the rings are built once on the
  driver and broadcast, and one ``mapInArrow`` pass over the points does
  the cell lookup, the refine and the ``unique`` min — no join, no
  exchange, no aggregate, and the point columns pass through as Arrow
  (``RecordBatch.take``), so every Spark type survives. This is the
  replicate-the-small-side choice of adaptive spatial joins.
* **Join path** (above the gate, or either broadcast flag off): the cover
  is an equi-join table (broadcast or shuffled), boundary rows meet their
  ring in a join (broadcast or shuffled on polygon_id) and the refine runs
  as a ``mapInPandas`` batch kernel; ``unique`` is a map-side-combinable
  min aggregate.

Scale notes: the cover has O(polygons x cells-per-polygon) rows — small
next to the fact table. Only boundary-cell rows (a thin band around each
polygon) pay the refinement cost, and the refinement itself is
O(points_in_batch x ring_vertices) vectorized.

Tie-break contract: ray-cast half-open edge rule (functions/geo.py), plus
``unique=True`` resolves multi-polygon membership (nested polygons) to the
lexicographically smallest polygon_id; a null polygon_id loses to every
real one and stays null. A point with a null coordinate matches no
polygon on either path; the narrow path also rejects NaN and infinite
coordinates (the join path's clamped cell key can only place those in a
grid-edge cell).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions import geo
from ..functions.cells import tile_key, tile_key_col

# polygon sets at or under this many rows are broadcast-sized: their cover
# is built on the driver and pip_join takes the narrow path
NARROW_ROWS = 2000


def _ring_to_np(ring) -> np.ndarray:
    """list<struct<lat,lon>> (as pandas objects) -> (M,2) float64 array."""
    return np.array([[p["lat"], p["lon"]] for p in ring], dtype=np.float64)


def _cover_pdf(pdf: pd.DataFrame, res: int) -> pd.DataFrame:
    """Shared NumPy cover kernel over a pandas frame of polygons."""
    from ..functions.cells import cell_to_tile_key

    out = []
    for _, row in pdf.iterrows():
        ring = _ring_to_np(row["ring"])
        cells, full = geo.polygon_cell_cover(ring, res)
        out.append(
            pd.DataFrame(
                {
                    "polygon_id": row["polygon_id"],
                    "tile": cell_to_tile_key(cells),
                    "full_inside": full,
                }
            )
        )
    if not out:
        return pd.DataFrame({"polygon_id": pd.Series(dtype="object"),
                             "tile": pd.Series(dtype="int64"),
                             "full_inside": pd.Series(dtype="bool")})
    return pd.concat(out, ignore_index=True)


def _cover_pdf_hier(pdf: pd.DataFrame, res: int, cover_res: int) -> pd.DataFrame:
    """Hierarchical cover kernel: interior cells stay at ``res``; only the
    boundary band subdivides to ``cover_res``. Output rows
    (polygon_id, tile, fine, full_inside) where ``fine`` marks the
    resolution the flat tile key is encoded at.

    A full bbox mesh at cover_res costs O(area * 4^levels) cells; the
    band-only subdivision costs O(area + perimeter * 2^levels) — the
    difference between a broadcastable cover and a blowup for
    area-dominated polygons (continent-scale admin areas)."""
    from ..functions.cells import cell_decode, cell_to_tile_key

    f = 1 << (cover_res - res)
    out = []
    for _, row in pdf.iterrows():
        ring = _ring_to_np(row["ring"])
        cells, full = geo.polygon_cell_cover(ring, res)
        interior = cells[full]
        if len(interior):
            out.append(
                pd.DataFrame(
                    {
                        "polygon_id": row["polygon_id"],
                        "tile": cell_to_tile_key(interior),
                        "fine": False,
                        "full_inside": True,
                    }
                )
            )
        band = cells[~full]
        if len(band):
            _, bix, biy = cell_decode(band)
            off = np.arange(f, dtype=np.int64)
            cix, ciy = np.broadcast_arrays(
                bix[:, None, None] * f + off[None, :, None],
                biy[:, None, None] * f + off[None, None, :],
            )
            cix, ciy = cix.ravel(), ciy.ravel()
            children = (np.int64(cover_res) << 58) | (cix << 29) | ciy
            touching, cfull = geo.classify_cells(ring, children)
            kept = children[touching]
            if len(kept):
                out.append(
                    pd.DataFrame(
                        {
                            "polygon_id": row["polygon_id"],
                            "tile": cell_to_tile_key(kept),
                            "fine": True,
                            "full_inside": cfull[touching],
                        }
                    )
                )
    if not out:
        return pd.DataFrame(
            {
                "polygon_id": pd.Series(dtype="object"),
                "tile": pd.Series(dtype="int64"),
                "fine": pd.Series(dtype="bool"),
                "full_inside": pd.Series(dtype="bool"),
            }
        )
    return pd.concat(out, ignore_index=True)


_HIER_SCHEMA = "polygon_id string, tile long, fine boolean, full_inside boolean"


def _collect_small(
    polygons: DataFrame, collect_threshold: int, *extra
) -> pd.DataFrame | None:
    """The counted cover gate as one bounded job: the (polygon_id, ring,
    *extra) rows iff there are at most ``collect_threshold`` of them, else
    None (``collect_threshold=0`` is the forced distributed path and runs
    no job). ``limit(threshold + 1)`` both counts and collects, so the gate
    costs one Spark job instead of a count plus a collect."""
    if not collect_threshold:
        return None
    pdf = polygons.select("polygon_id", "ring", *extra).limit(collect_threshold + 1).toPandas()
    return pdf if len(pdf) <= collect_threshold else None


def polygon_cover_hier(
    polygons: DataFrame, res: int, cover_res: int, collect_threshold: int = NARROW_ROWS
) -> DataFrame:
    """Hierarchical (polygon_id, tile, fine, full_inside) cover table —
    same counted driver-side gate as :func:`polygon_cover`."""
    if cover_res < res:
        raise ValueError(f"cover_res {cover_res} must be >= res {res}")

    def per_polygon(pdf: pd.DataFrame) -> pd.DataFrame:
        return _cover_pdf_hier(pdf, res, cover_res)

    pdf = _collect_small(polygons, collect_threshold)
    if pdf is not None:
        return polygons.sparkSession.createDataFrame(
            _cover_pdf_hier(pdf, res, cover_res), schema=_HIER_SCHEMA
        )
    return (
        polygons.select("polygon_id", "ring")
        .groupBy("polygon_id")
        .applyInPandas(per_polygon, schema=_HIER_SCHEMA)
    )


def polygon_cover(
    polygons: DataFrame, res: int, collect_threshold: int = NARROW_ROWS
) -> DataFrame:
    """(polygon_id, tile, full_inside) cover table at resolution ``res``.
    Output tile uses the flat SQL-parity key (ix * 2^res + iy).

    Counted gate: a polygon dim at or under ``collect_threshold`` rows is
    metadata-scale — it is headed for a broadcast anyway — so its cover is
    computed driver-side with the same NumPy kernel and shipped via
    ``createDataFrame``, removing an applyInPandas stage (a shuffle plus a
    cold Python-worker spin-up) from the plan. Above the threshold (or
    with ``collect_threshold=0``, the forced scale path): distributed, one
    ``applyInPandas`` group per polygon."""

    def per_polygon(pdf: pd.DataFrame) -> pd.DataFrame:
        return _cover_pdf(pdf, res)

    pdf = _collect_small(polygons, collect_threshold)
    if pdf is not None:
        return polygons.sparkSession.createDataFrame(
            _cover_pdf(pdf, res),
            schema="polygon_id string, tile long, full_inside boolean",
        )
    return (
        polygons.select("polygon_id", "ring")
        .groupBy("polygon_id")
        .applyInPandas(per_polygon, schema="polygon_id string, tile long, full_inside boolean")
    )


def _narrow_index(pdf: pd.DataFrame, res: int, cover_res: int) -> dict:
    """Driver-side lookup tables for the narrow path. Polygons are
    numbered in polygon_id order with null ids last, so the smallest
    polygon number on a row is its lexicographically smallest polygon_id,
    and a null id only where every match is null (Spark's ``min`` skips
    nulls the same way). Cover cells are sorted by tile key for
    ``searchsorted`` probes. ``attrs`` holds the columns of ``pdf`` other
    than polygon_id and ring, one row per polygon number."""
    ids = pdf["polygon_id"]
    pdf = pdf.assign(polygon_id=ids.astype(str).where(ids.notna(), None)).sort_values(
        "polygon_id", kind="stable", na_position="last", ignore_index=True
    )
    cover = _cover_pdf_hier(pdf.assign(polygon_id=pdf.index), res, cover_res)

    def tier(t: pd.DataFrame):
        order = np.argsort(t["tile"].to_numpy(np.int64), kind="stable")
        return (
            t["tile"].to_numpy(np.int64)[order],
            t["polygon_id"].to_numpy(np.int64)[order],
            t["full_inside"].to_numpy(bool)[order],
        )

    ctile, cpoly, _ = tier(cover[~cover["fine"].astype(bool)])
    ftile, fpoly, ffull = tier(cover[cover["fine"].astype(bool)])
    return dict(
        pids=pdf["polygon_id"].tolist(),
        attrs=pdf.drop(columns=["polygon_id", "ring"]),
        rings=[_ring_to_np(r) for r in pdf["ring"]],
        ctile=ctile, cpoly=cpoly, ftile=ftile, fpoly=fpoly, ffull=ffull,
    )


def _probe(keys: np.ndarray, tiles: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every (i, j) with ``tiles[j] == keys[i]`` (``tiles`` sorted; a key
    can hit several polygons' cells)."""
    lo = np.searchsorted(tiles, keys, "left")
    cnt = np.searchsorted(tiles, keys, "right") - lo
    rows = np.repeat(np.arange(len(keys)), cnt)
    first = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
    return rows, first + np.arange(len(rows))


def _narrow_match(
    lat: np.ndarray, lon: np.ndarray, idx: dict, res: int, cover_res: int, unique: bool
) -> tuple[np.ndarray, np.ndarray]:
    """(row, polygon number) matches of one batch, sorted by row then
    polygon: coarse interior cells and fine ``full_inside`` cells accept
    outright, fine boundary cells go through the ray cast grouped by
    polygon. ``unique`` keeps each row's smallest polygon number."""
    ok = np.flatnonzero(np.isfinite(lat) & np.isfinite(lon))
    la, ln = lat[ok], lon[ok]
    r_c, j_c = _probe(tile_key(la, ln, res), idx["ctile"])
    r_f, j_f = _probe(tile_key(la, ln, cover_res), idx["ftile"])
    p_c, p_f, full = idx["cpoly"][j_c], idx["fpoly"][j_f], idx["ffull"][j_f]
    r_b, p_b = r_f[~full], p_f[~full]
    keep = np.zeros(len(r_b), dtype=bool)
    order = np.argsort(p_b, kind="stable")
    polys, starts = np.unique(p_b[order], return_index=True)
    for p, sel in zip(polys, np.split(order, starts[1:])):
        r = r_b[sel]
        keep[sel] = geo.points_in_polygon_chunked(la[r], ln[r], idx["rings"][p])
    rows = np.concatenate([r_c, r_f[full], r_b[keep]])
    poly = np.concatenate([p_c, p_f[full], p_b[keep]])
    o = np.lexsort((poly, rows))
    rows, poly = rows[o], poly[o]
    if unique:
        first = np.ones(len(rows), dtype=bool)
        first[1:] = rows[1:] != rows[:-1]
        rows, poly = rows[first], poly[first]
    return ok[rows], poly


def _pip_narrow(
    points: DataFrame, pdf: pd.DataFrame, res: int, cover_res: int,
    lat: str, lon: str, unique: bool,
) -> DataFrame:
    """The narrow path: one ``mapInArrow`` pass over ``points`` against a
    broadcast cover + ring index; output rows are ``RecordBatch.take`` of
    the input batch plus ``polygon_id``."""
    bc = points.sparkSession.sparkContext.broadcast(_narrow_index(pdf, res, cover_res))
    schema = StructType(points.schema.fields + [StructField("polygon_id", StringType())])

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        idx = bc.value
        pids = pa.array(idx["pids"], pa.string())
        for b in batches:
            if b.num_rows == 0:
                continue
            la, ln = (
                pc.cast(b.column(c), pa.float64()).to_numpy(zero_copy_only=False)
                for c in (lat, lon)
            )
            rows, poly = _narrow_match(la, ln, idx, res, cover_res, unique)
            if len(rows):
                out = b.take(pa.array(rows))
                yield pa.RecordBatch.from_arrays(
                    out.columns + [pids.take(pa.array(poly))],
                    names=out.schema.names + ["polygon_id"],
                )

    return points.mapInArrow(run, schema)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    unique: bool = False,
    id_col: str = "image_id",
    broadcast_cover: bool = True,
    broadcast_rings: bool = True,
    cover_res: int | None = None,
    _small: pd.DataFrame | None | bool = False,
) -> DataFrame:
    """Join each point to every polygon containing it.

    Returns ``points`` columns + ``polygon_id``. ``unique=True`` keeps only
    the lexicographically smallest polygon_id per point (tile-ownership
    tie-break; requires unique ``id_col``).

    ``cover_res`` (default ``res + 3``) is the resolution of the internal
    boundary-band classification grid, independent of the caller-facing
    ``res``. The cover is HIERARCHICAL: interior cells stay at ``res``
    (one row each), and only the boundary band subdivides to
    ``cover_res`` — so the cover grows O(area@res + perimeter * 2^levels)
    rather than the O(area * 4^levels) a full fine mesh would cost, and
    stays broadcast-sized even for area-dominated continent polygons.
    Finer band cells thin the share of candidate rows paying the exact
    ray-cast refine from ~80% at a polygon-scale grid to ~10% three
    levels down (measured on the synth fixture); the refine kernel is
    the PIP join's dominant cost.

    Scale switches: ``broadcast_cover=False`` shuffles the cover equi-join
    (huge polygon sets whose cover exceeds the broadcast threshold);
    ``broadcast_rings=False`` shuffles the boundary-row-to-ring join on
    polygon_id instead of broadcasting the ring dimension — rings of
    10^6 admin polygons don't fit an executor broadcast, but boundary rows
    hash-partition by polygon_id and meet their ring in the same task.
    Both switches feed the identical refine kernel.

    Path gate: with both switches on, one bounded job collects the
    polygons iff there are at most 2000 of them (``_collect_small``); such
    a set takes the narrow ``mapInArrow`` path (module docstring) — the
    same cover, ring cast and tie-break as the join path, no exchange.
    Above the gate, or with either switch off, the join path runs.
    ``_small`` is that gate's answer when the caller already collected it
    (the frame, or None over the gate); False collects here.
    """
    if cover_res is None:
        cover_res = res + 3
    if cover_res < res:
        raise ValueError(f"cover_res {cover_res} must be >= res {res}")
    small = _small
    if small is False:
        small = _collect_small(polygons, NARROW_ROWS) if broadcast_cover and broadcast_rings else None
    if small is not None:
        return _pip_narrow(points, small, res, cover_res, lat, lon, unique)
    # points carry BOTH grid keys (pure codegen); the hierarchical cover
    # keeps interior cells at the coarse res and subdivides only the
    # boundary band to cover_res, so the cover is O(area + perimeter*2^L)
    # instead of O(area*4^L) — a full-bbox fine mesh blows up for
    # area-dominated polygons
    pts = points.withColumn(
        "__ctile", tile_key_col(F.col(lat), F.col(lon), res)
    ).withColumn("__ftile", tile_key_col(F.col(lat), F.col(lon), cover_res))
    # broadcast_cover=False is the forced huge-polygon-set scale path:
    # keep the cover build distributed there too; with both switches on
    # the gate above already found the set over the threshold
    cover = polygon_cover_hier(
        polygons, res, cover_res,
        collect_threshold=NARROW_ROWS if broadcast_cover and not broadcast_rings else 0,
    )
    if broadcast_cover:
        cover = F.broadcast(cover)
    coarse = cover.filter(~F.col("fine")).select(
        "polygon_id", F.col("tile").alias("__cover_tile")
    )
    fine = cover.filter(F.col("fine")).select(
        "polygon_id", F.col("tile").alias("__cover_tile"), "full_inside"
    )

    drop_keys = ["__cover_tile", "__ctile", "__ftile"]
    # coarse interior cells accept their points outright
    interior_coarse = pts.join(
        coarse, pts["__ctile"] == coarse["__cover_tile"], "inner"
    ).drop(*drop_keys)
    cand_fine = pts.join(
        fine, pts["__ftile"] == fine["__cover_tile"], "inner"
    ).drop(*drop_keys)
    interior = interior_coarse.unionByName(
        cand_fine.filter(F.col("full_inside")).drop("full_inside")
    )

    rings = polygons.select("polygon_id", "ring")
    if broadcast_rings:
        rings = F.broadcast(rings)
    boundary = (
        cand_fine.filter(~F.col("full_inside"))
        .drop("full_inside")
        .join(rings, "polygon_id", "inner")
    )

    out_cols = points.columns + ["polygon_id"]

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            for pid, idx in pdf.groupby("polygon_id").groups.items():
                sub = pdf.loc[idx]
                ring = _ring_to_np(sub["ring"].iloc[0])
                inside = geo.points_in_polygon_chunked(
                    sub[lat].to_numpy(), sub[lon].to_numpy(), ring
                )
                keep[pdf.index.get_indexer(idx)] = inside
            yield pdf.loc[keep, out_cols]

    schema_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in points.schema.fields
    )
    refined = boundary.mapInPandas(refine, schema=f"{schema_fields}, polygon_id string")

    result = interior.select(*out_cols).unionByName(refined)
    if unique:
        # min over polygon_id instead of a row_number window: the hash
        # aggregate gets a map-side partial combine (the window's
        # sort-based exchange ships every multi-polygon candidate row).
        # Only polygon_id enters the min — the other columns are copies
        # of the same source point row on every candidate, so first()
        # carries them deterministically AND keeps non-orderable point
        # columns (maps, e.g. OSM tags) legal, which a
        # min(struct(all-columns)) is not
        others = [c for c in out_cols if c != id_col and c != "polygon_id"]
        result = result.groupBy(id_col).agg(
            F.min("polygon_id").alias("polygon_id"),
            *[F.first(c).alias(c) for c in others],
        )
        result = result.select(*out_cols)
    return result


def bbox_filter(
    df: DataFrame, south: float, west: float, north: float, east: float,
    lat: str = "lat", lon: str = "lon",
) -> DataFrame:
    """Reference bbox scan (/root/reference/lib/osm_utils.py:24-33) as a
    pushed-down range predicate."""
    return df.filter(
        (F.col(lat) >= south) & (F.col(lat) <= north) & (F.col(lon) >= west) & (F.col(lon) <= east)
    )


def pip_anti_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 8,
    id_col: str = "image_id",
    **kw,
) -> DataFrame:
    """Points contained in NO polygon — the orphan scrub of a geo-curation
    pipeline (images with no admin/language region get no name:LANG rule
    and route to a fallback). Composition of the existing scale path: the
    hierarchical-cover ``pip_join`` produces the hit set; one left_anti
    on the point id removes it. The anti join shuffles only (id) pairs —
    the hit set is ids-only, and Spark's left_anti needs no dedup of the
    build side. Returns the surviving ``points`` rows unchanged."""
    hits = pip_join(points, polygons, res=res, id_col=id_col, **kw).select(id_col)
    return points.join(hits, id_col, "left_anti")
