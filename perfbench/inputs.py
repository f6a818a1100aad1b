"""Seeded inputs and reference answers for every workload.

Everything here runs before the measured process starts and uses no
Spark: numpy generators and the repo's own writers (GeoTIFF, WARC) make
the inputs, and reference.py computes the expected outputs without the
kernels being measured. Inputs are cached under
``.perfbench_work/inputs/<workload>/<size>-<code>-s<seed>``, where
``<code>`` is a digest of this file and reference.py, so a repeated seed
reuses them and a changed generator or reference does not; the same
seed always produces the same bytes. Any integer is a valid seed: the
generators see ``gen_seed(seed)``, a digest of it in ``[0, 2**24)``, so
numpy's 32-bit seeds and the page ids derived from it stay in range.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import reference

WORK_DIR = ".perfbench_work"

# Sizes, one dict per workload; a change here changes the cache key.
# ``inputs``: those of the cold operations, then those of one measured
# round.
# An operation costs seconds (tens of Spark jobs) and every run starts
# a fresh JVM, so these stay small: a run must fit its share of the
# benchmark's time budget.
PAGES = {"pages": 80_000, "files": 4, "inputs": 2, "res": 8,
         "knn_k": 10, "knn_queries": 6, "radius_queries": 8,
         "radius_km": 25.0, "radius_res": 6,
         "records": 1000, "cell_res": 4, "buckets": 16}
# raster: scene 0 (smooth) is the cold operation, scenes 1, 2, 3
# (smooth, fragmented, smooth) the measured round
RASTER = {"size": 128, "bands": 2, "stride": 32, "classes": 3,
          "inputs": 4, "cold": 1, "smooth_block": 16, "frag_block": 3}

SIZES = {"crawl_and_query": PAGES, "raster_scenes": RASTER}


def size_tag(workload: str) -> str:
    s = SIZES[workload]
    return "-".join(f"{k}{v}" for k, v in sorted(s.items()))


def _code_tag() -> str:
    h = hashlib.sha256()
    for mod in (__file__, reference.__file__):
        with open(mod, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def gen_seed(seed: int) -> int:
    """The generators' seed for a ``--seed`` value (any integer)."""
    h = hashlib.sha256(f"perfbench-seed:{seed}".encode()).digest()
    return int.from_bytes(h[:3], "big")


def input_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, WORK_DIR, "inputs", workload,
                        f"{size_tag(workload)}-{_code_tag()}-s{seed}")


def prepare(root: str, workload: str, seed: int) -> str:
    """Build (or reuse) the inputs of one workload and seed; returns
    the directory. A finished build is marked by ``ready.json``."""
    d = input_dir(root, workload, seed)
    if os.path.exists(os.path.join(d, "ready.json")):
        return d
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    props = {"gen_seed": gen_seed(seed),
             **_GENERATORS[workload](d, gen_seed(seed))}
    with open(os.path.join(d, "ready.json"), "w") as f:
        json.dump(props, f)
    return d


def load_json(d: str, name: str):
    with open(os.path.join(d, name)) as f:
        return json.load(f)


def _dump(d: str, name: str, obj) -> None:
    with open(os.path.join(d, name), "w") as f:
        json.dump(obj, f)


# ------------------------------------------- crawl_and_query: the request

def _hotspot_points(rng, n: int) -> np.ndarray:
    from geo_inference_spark.sources.pages import _CITIES

    c = _CITIES[rng.randint(0, len(_CITIES), n)]
    return np.column_stack([c[:, 0] + rng.normal(0, 0.05, n),
                            c[:, 1] + rng.normal(0, 0.05, n)])


def _sparse_points(rng, n: int) -> np.ndarray:
    return np.column_stack([rng.uniform(-60, 60, n), rng.uniform(-170, 170, n)])


def _build_requests(d: str, seed: int) -> dict:
    """The pages table, one AOI layer and query batch per input, and
    the brute-force PIP / kNN / radius answers."""
    from geo_inference_spark.operators.pip_join import build_cover
    from geo_inference_spark.sources.pages import build_latlon, synth_admin_polygons

    g = PAGES
    ids = np.arange(g["pages"], dtype=np.int64) + seed * 10_000_000
    lat, lon = build_latlon(ids.astype(np.uint64), seed=seed)
    pages_dir = os.path.join(d, "pages")
    os.makedirs(pages_dir)
    for i, part in enumerate(np.array_split(np.arange(len(ids)), g["files"])):
        pq.write_table(pa.table({"page_id": ids[part], "lat": lat[part],
                                 "lon": lon[part]}),
                       os.path.join(pages_dir, f"part-{i:03d}.parquet"))
    rng = np.random.RandomState(seed)
    boundary, cover_cells, sparse_q = [], [], 0
    for r in range(g["inputs"]):
        n_areas = int(rng.randint(8, 49))
        polys = synth_admin_polygons(n_areas=n_areas,
                                     seed=int(rng.randint(1 << 30)))
        cover = build_cover(polys, g["res"])
        boundary.append(float(cover["boundary"].mean()))
        cover_cells.append(len(cover))
        kq = _hotspot_points(rng, g["knn_queries"])
        n_sparse = g["radius_queries"] // 2
        rq = np.vstack([_hotspot_points(rng, g["radius_queries"] - n_sparse),
                        _sparse_points(rng, n_sparse)])
        sparse_q += n_sparse
        polys[["area_id", "name", "value", "geom_wkb", "crs"]].to_parquet(
            os.path.join(d, f"polys-{r}.parquet"))
        # kNN reference: planar lon/lat distance, ties by id (the
        # operator's ORDER BY dist, id), brute force over all pages
        knn = []
        for qid, (qlat, qlon) in enumerate(kq):
            dist = np.sqrt((lon - qlon) ** 2 + (lat - qlat) ** 2)
            order = np.lexsort((ids, dist))[: g["knn_k"]]
            knn.append({"qid": qid, "ids": ids[order].tolist(),
                        "dist": dist[order].tolist()})
        radius = {}
        for qid, (qlat, qlon) in enumerate(rq):
            dk = reference.haversine_km(qlat, qlon, lat, lon)
            radius[str(qid)] = int((dk <= g["radius_km"]).sum())
        _dump(d, f"request-{r}.json", {
            "n_areas": n_areas,
            "knn_queries": kq.tolist(), "radius_queries": rq.tolist(),
            "expect_pip": {str(k): v for k, v in
                           reference.pip_counts(lat, lon, polys).items()},
            "expect_knn": knn, "expect_radius": radius,
        })
    # a fixed kernel sample: the first 50k page coordinates
    np.save(os.path.join(d, "kernel_latlon.npy"),
            np.column_stack([lat[:50_000], lon[:50_000]]))
    hot = reference.hex_cell(lat, lon, g["res"])
    return {
        "boundary_cell_share": float(np.mean(boundary)),
        "cover_cells_mean": float(np.mean(cover_cells)),
        "sparse_query_share": sparse_q / (g["inputs"] * g["radius_queries"]),
        "distinct_page_cells": int(len(np.unique(hot))),
    }


# ------------------------------------------------------------ raster_scenes

FRAGMENTED_SAMPLE = 2  # the fragmented scene; also the kernel samples


def is_fragmented(i: int) -> bool:
    return i == FRAGMENTED_SAMPLE


def scene_array(seed: int, i: int) -> tuple[np.ndarray, bool]:
    """(bands, H, W) float32 scene: smooth scenes are large blocks (a
    few tens of polygons), fragmented ones small blocks (hundreds)."""
    r = RASTER
    frag = is_fragmented(i)
    block = r["frag_block"] if frag else r["smooth_block"]
    rng = np.random.RandomState([seed, i])
    n = -(-r["size"] // block)
    base = rng.uniform(0, 255, size=(r["bands"], n, n))
    arr = np.kron(base, np.ones((block, block)))[:, : r["size"], : r["size"]]
    return arr.astype(np.float32), frag


def _build_raster(d: str, seed: int) -> dict:
    from geo_inference_spark.raster.kernels import make_linear_model
    from geo_inference_spark.sources.tiff import write_geotiff

    r = RASTER
    model = make_linear_model(num_classes=r["classes"])
    n_frag, polys_smooth, polys_frag = 0, [], []
    for i in range(r["inputs"]):
        arr, frag = scene_array(seed, i)
        write_geotiff(arr, os.path.join(d, f"scene-{i}.tif"),
                      compression="lzw")
        mask = reference.dense_mask(arr, model, r["stride"], r["classes"])
        expect = reference.component_areas(mask)
        _dump(d, f"scene-{i}.json", {"fragmented": frag, "polygons": expect})
        if i >= r["cold"]:  # the measured round
            n_frag += frag
            (polys_frag if frag else polys_smooth).append(len(expect))
        if i == 0:
            np.save(os.path.join(d, "kernel_patch.npy"),
                    arr[:, : 2 * r["stride"], : 2 * r["stride"]].astype(np.float64))
        if i == FRAGMENTED_SAMPLE:
            np.save(os.path.join(d, "kernel_mask.npy"), mask)
    return {
        "rows_per_op": r["size"] * r["size"],
        "fragmented_scene_share": n_frag / (r["inputs"] - r["cold"]),
        "polygons_smooth_mean": float(np.mean(polys_smooth)),
        "polygons_fragmented_mean": float(np.mean(polys_frag)),
    }


# ------------------------------------------- crawl_and_query: the segment

def _build_segments(d: str, seed: int) -> dict:
    """One WARC archive per input, its url -> lat/lon side table, and
    the expected text, cells and keep-best rows."""
    from geo_inference_spark.sources.pages import _canon_ids, pages_pdf
    from geo_inference_spark.sources.warc import write_warc

    c = PAGES
    dup_share, in_bytes = [], []
    for a in range(c["inputs"]):
        ids = (np.arange(c["records"], dtype=np.uint64)
               + np.uint64(seed * 10_000_000 + 5_000_000 + a * c["records"]))
        pdf = pages_pdf(ids, seed=seed)
        path = os.path.join(d, f"archive-{a}.warc.gz")
        write_warc(pdf[["url", "warc_ts", "html"]], path)
        in_bytes.append(os.path.getsize(path))
        # the crawl's geo side table (url -> coordinates)
        pdf[["url", "lat", "lon"]].to_parquet(
            os.path.join(d, f"geo-{a}.parquet"))
        docs = pd.DataFrame({"doc_id": pdf["page_id"], "text": pdf["text"]})
        canon, _ = _canon_ids(ids, seed)
        dup_share.append(float(np.mean(canon != ids)))
        cells = reference.hex_cell(pdf["lat"].to_numpy(),
                                   pdf["lon"].to_numpy(), c["cell_res"])
        _dump(d, f"archive-{a}.json", {
            "in_bytes": in_bytes[-1],
            "texts": dict(zip(pdf["url"], pdf["text"])),
            "cells": dict(zip(pdf["url"], (int(x) for x in cells))),
            "keep_best": reference.keep_best(docs),
        })
    return {
        "duplicate_share": float(np.mean(dup_share)),
        "archive_bytes_mean": float(np.mean(in_bytes)),
    }


def _build_pages(d: str, seed: int) -> dict:
    return {"rows_per_round": 2 * PAGES["records"] + PAGES["pages"],
            **_build_segments(d, seed), **_build_requests(d, seed)}


_GENERATORS = {"crawl_and_query": _build_pages, "raster_scenes": _build_raster}
