"""Reference answers, computed without the kernels being measured.

The benchmark checks every operation's output against these. They are
written here in plain numpy (and DuckDB for dedup) instead of calling
the engine's own single-process paths, so that a change that breaks an
engine kernel (WKB parsing, point-in-polygon, the hex grid, the
Hann-overlap model pass, connected components, ring tracing, polygon
area) changes the program's output but not the reference, and the
check fails. tests/test_reference.py pins that they agree with the
engine at the commit that added them and that this module imports no
engine kernel.

From the engine this module takes only inputs and definitions: the
stand-in model (an input of the raster workload), the Earth radius of
the kNN operator, and the SQL text of the DuckDB twins.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

# ----------------------------------------------------------- geometry

def wkb_polygons(wkb: bytes) -> list[list[np.ndarray]]:
    """Polygons (lists of (n, 2) rings) of a little-endian WKB Polygon
    or MultiPolygon."""
    buf = memoryview(wkb)

    def polygon(off):
        order, kind, n_rings = struct.unpack_from("<BII", buf, off)
        if (order, kind) != (1, 3):
            raise ValueError(f"expected a little-endian Polygon, got {order}, {kind}")
        off += 9
        rings = []
        for _ in range(n_rings):
            (n,) = struct.unpack_from("<I", buf, off)
            rings.append(np.frombuffer(buf, "<f8", 2 * n, off + 4).reshape(n, 2))
            off += 4 + 16 * n
        return rings, off

    order, kind = struct.unpack_from("<BI", buf, 0)
    if kind == 3:
        return [polygon(0)[0]]
    if (order, kind) != (1, 6):
        raise ValueError(f"expected a little-endian (Multi)Polygon, got {order}, {kind}")
    (n,) = struct.unpack_from("<I", buf, 5)
    out, off = [], 9
    for _ in range(n):
        rings, off = polygon(off)
        out.append(rings)
    return out


def inside(x: np.ndarray, y: np.ndarray, rings) -> np.ndarray:
    """Even-odd ray casting over all rings (exterior and holes)."""
    hit = np.zeros(len(x), dtype=bool)
    for ring in rings:
        x1, y1 = ring[:, 0], ring[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        for a, b, c, d in zip(x1, y1, x2, y2):
            if b == d:
                continue
            crosses = (b > y) != (d > y)
            hit ^= crosses & (x < a + (y - b) * (c - a) / (d - b))
    return hit


def pip_counts(lat, lon, polys: pd.DataFrame) -> dict[int, int]:
    """Pages per area: a point counts once per area, whichever of the
    area's parts holds it."""
    out: dict[int, int] = {}
    for aid, wkb in zip(polys["area_id"], polys["geom_wkb"]):
        hit = np.zeros(len(lat), dtype=bool)
        for rings in wkb_polygons(wkb):
            x0, y0 = rings[0].min(axis=0)
            x1, y1 = rings[0].max(axis=0)
            idx = np.flatnonzero((lon >= x0) & (lon <= x1)
                                 & (lat >= y0) & (lat <= y1))
            hit[idx] |= inside(lon[idx], lat[idx], rings)
        if hit.any():
            out[int(aid)] = int(hit.sum())
    return out


def haversine_km(lat1, lon1, lat2, lon2):
    """Same formula and operation order as operators.knn's SQL."""
    from geo_inference_spark.operators.knn import R_KM

    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = (np.sin(dlat / 2) ** 2
         + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2))
         * np.sin(dlon / 2) ** 2)
    return 2 * R_KM * np.arcsin(np.sqrt(a))


def hex_cell(lat, lon, res: int) -> np.ndarray:
    """Cell id of the engine's hex grid (grid/hexgrid.py): pointy-top
    hexagons over the (lon, lat) degree plane with circumradius
    36 * 7**(-res/2), nearest hex by cube rounding, packed as
    flag | res << 56 | (q + 2**27) << 28 | (r + 2**27)."""
    size = 36.0 * 7.0 ** (-res / 2.0)
    qf = (np.sqrt(3.0) / 3.0 * lon - lat / 3.0) / size
    rf = (2.0 / 3.0 * lat) / size
    yf = -qf - rf
    q, y, r = np.rint(qf), np.rint(yf), np.rint(rf)
    dq, dy, dr = np.abs(q - qf), np.abs(y - yf), np.abs(r - rf)
    fix_q = (dq > dy) & (dq > dr)
    fix_r = ~fix_q & (dr > dy)
    q = np.where(fix_q, -y - r, q).astype(np.int64)
    r = np.where(fix_r, -q - y, r).astype(np.int64)
    off = np.int64(1 << 27)
    return (np.int64(1 << 62) | (np.int64(res) << 56)
            | ((q + off) << 28) | (r + off))


# ------------------------------------------------------------- raster

def _hann_factor(m: int, pos: str) -> np.ndarray:
    """1-D periodic Hann taper, held at 1 on the side of the image edge
    ('lo': first half, 'hi': second half) so overlap weights sum to 1."""
    h = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(m, dtype=np.float64) / m)
    i = np.arange(m)
    if pos == "lo":
        return h[np.maximum(i, m >> 1)]
    if pos == "hi":
        return h[np.minimum(i, m >> 1)]
    return h


def dense_mask(arr: np.ndarray, model, stride: int, classes: int) -> np.ndarray:
    """Class mask of a scene with no nodata whose sides are multiples of
    ``stride``: every patch of 2*stride pixels that has its right and
    bottom halo goes through the model, its class scores are weighted by
    the positional Hann window and summed, and each pixel takes the
    first class with the highest score divided by the summed weight."""
    bands, h, w = arr.shape
    ny, nx = h // stride, w // stride
    if h != ny * stride or w != nx * stride or min(ny, nx) < 3:
        raise ValueError(f"scene {h}x{w} is not 3 or more strides of {stride} a side")
    if classes < 2 or not np.isfinite(arr).all():
        raise ValueError("needs two or more classes and a scene without nodata")
    p = 2 * stride

    def pos(c, n):
        return "lo" if c == 0 else "hi" if c >= n - 2 else "mid"

    acc = np.zeros((classes + 1, h + stride, w + stride))
    for cy in range(ny - 1):
        for cx in range(nx - 1):
            y0, x0 = cy * stride, cx * stride
            win = np.outer(_hann_factor(p, pos(cy, ny)), _hann_factor(p, pos(cx, nx)))
            out = np.asarray(model(arr[:, y0:y0 + p, x0:x0 + p]))
            acc[:classes, y0:y0 + p, x0:x0 + p] += out * win
            acc[classes, y0:y0 + p, x0:x0 + p] += win
    acc = acc[:, :h, :w]
    weight = acc[classes]
    with np.errstate(divide="ignore", invalid="ignore"):
        probs = np.divide(acc[:classes], weight, out=np.zeros((classes, h, w)),
                          where=weight != 0)
    return np.argmax(probs, axis=0).astype(np.uint8)


def component_areas(mask: np.ndarray) -> list[tuple[float, float]]:
    """Sorted (value, pixel count) of the 4-connected components of equal
    positive value: the polygons of the mask with their areas in pixel
    units (holes excluded)."""
    h, w = mask.shape
    fg = mask > 0
    lab = np.arange(h * w).reshape(h, w)
    right = fg[:, :-1] & (mask[:, :-1] == mask[:, 1:])
    down = fg[:-1, :] & (mask[:-1, :] == mask[1:, :])
    while True:  # min label over equal neighbours, then pointer jumping
        new = lab.copy()
        np.minimum(new[:, :-1], np.where(right, lab[:, 1:], new[:, :-1]), out=new[:, :-1])
        np.minimum(new[:, 1:], np.where(right, lab[:, :-1], new[:, 1:]), out=new[:, 1:])
        np.minimum(new[:-1, :], np.where(down, lab[1:, :], new[:-1, :]), out=new[:-1, :])
        np.minimum(new[1:, :], np.where(down, lab[:-1, :], new[1:, :]), out=new[1:, :])
        new = new.ravel()[new]
        if np.array_equal(new, lab):
            break
        lab = new
    roots, counts = np.unique(lab[fg], return_counts=True)
    values = mask.ravel()[roots]
    return sorted((float(v), float(c)) for v, c in zip(values, counts))


# -------------------------------------------------------------- dedup

def keep_best(docs: pd.DataFrame) -> list[list]:
    """Reference for ``q_dedup_keep_best``: the DuckDB twins of the LSH
    pair decision (``lsh_collapsed_oracle_sql``) and of the quality
    score, then connected components (cluster id = min doc id) and the
    keep-best pick (highest quality, ties by doc id) in numpy. The
    recursive-CTE twin (``dedup_clusters_oracle_sql``) gives the same
    clusters but takes ~40 s per 1k documents in DuckDB."""
    import duckdb

    from geo_inference_spark.text import analysis, portable
    from geo_inference_spark.text.dedup import lsh_collapsed_oracle_sql

    q = analysis.quality_exprs(portable.DUCK)["quality_score"]
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        pairs = np.array(con.execute(lsh_collapsed_oracle_sql()).fetchall(),
                         dtype=np.int64).reshape(-1, 2)
        qual = con.execute(
            f"SELECT doc_id, {q} AS quality_score FROM documents").df()
    finally:
        con.close()
    ids = np.sort(docs["doc_id"].to_numpy(np.int64))
    lbl = ids.copy()
    a, b = np.searchsorted(ids, pairs[:, 0]), np.searchsorted(ids, pairs[:, 1])
    while True:  # min-label propagation to the fixpoint
        new = lbl.copy()
        np.minimum.at(new, a, lbl[b])
        np.minimum.at(new, b, lbl[a])
        if np.array_equal(new, lbl):
            break
        lbl = new
    t = pd.DataFrame({"doc_id": ids, "cluster_id": lbl}).merge(qual, on="doc_id")
    t = t.sort_values(["cluster_id", "quality_score", "doc_id"],
                      ascending=[True, False, True])
    best = t.drop_duplicates("cluster_id")
    return [[int(c), int(d), float(s)] for c, d, s in
            zip(best["cluster_id"], best["doc_id"], best["quality_score"])]
