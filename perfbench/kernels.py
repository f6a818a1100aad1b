"""Direct timings of the numpy/codec kernels beneath the layers.

Each kernel is called through its public function on a fixed sample
drawn from the workload's own inputs, repeated until at least
``MIN_S`` seconds have passed; the median call is reported per row,
pixel, byte or patch. Kernels a workload does not use report 0.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import inputs

MIN_S = 0.15
KERNEL_METRICS = {
    "grid.latlng_to_cell_ns_per_row": "ns/row",
    "geom.points_in_polygon_ns_per_row": "ns/row",
    "raster.label_components_ns_per_px": "ns/px",
    "raster.boundary_edges_ns_per_px": "ns/px",
    "raster.chain_rings_ms": "ms",
    "raster.model_window_patch_ms": "ms",
    "sources.lzw_decode_ns_per_byte": "ns/byte",
    "sources.extract_text_ns_per_byte": "ns/byte",
}


def _median_call_s(fn) -> float:
    times = []
    t_end = time.perf_counter() + MIN_S
    while time.perf_counter() < t_end or len(times) < 3:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _raster(d: str) -> dict:
    from geo_inference_spark.raster.kernels import make_linear_model, model_window_patch
    from geo_inference_spark.raster.polygonize import (
        boundary_edges, chain_rings, label_components, split_edges_by_label)
    from geo_inference_spark.sources.tiff import geotiff_index, lzw_decode

    r = inputs.RASTER
    mask = np.load(os.path.join(d, "kernel_mask.npy"))
    patch = np.load(os.path.join(d, "kernel_patch.npy"))
    lab = label_components(mask)
    edges = boundary_edges(lab)
    comps = [e for _, e in split_edges_by_label(edges)]
    model = make_linear_model(num_classes=r["classes"])
    p = 2 * r["stride"]
    path = os.path.join(d, f"scene-{inputs.FRAGMENTED_SAMPLE}.tif")
    idx = geotiff_index(path)
    with open(path, "rb") as f:  # one strip: the decoder is pure Python
        f.seek(idx["segments"][0][0])
        strips = [f.read(idx["segments"][0][1])]
    n_bytes = sum(len(lzw_decode(s)) for s in strips)
    return {
        "raster.label_components_ns_per_px": 1e9 * _median_call_s(
            lambda: label_components(mask)) / mask.size,
        "raster.boundary_edges_ns_per_px": 1e9 * _median_call_s(
            lambda: boundary_edges(lab)) / mask.size,
        "raster.chain_rings_ms": 1e3 * _median_call_s(
            lambda: [chain_rings(e) for e in comps]),
        "raster.model_window_patch_ms": 1e3 * _median_call_s(
            lambda: model_window_patch(patch, model, p, r["classes"], 0, 0, 2, 2, None)),
        "sources.lzw_decode_ns_per_byte": 1e9 * _median_call_s(
            lambda: [lzw_decode(s) for s in strips]) / n_bytes,
    }


def _pages(d: str) -> dict:
    from geo_inference_spark.geom.core import points_in_polygon
    from geo_inference_spark.geom.wkb import iter_polygons
    from geo_inference_spark.grid import hexgrid
    from geo_inference_spark.sources.pages import extract_text_bytes, pages_pdf

    ll = np.load(os.path.join(d, "kernel_latlon.npy"))
    lat, lon = ll[:, 0].copy(), ll[:, 1].copy()
    polys = pd.read_parquet(os.path.join(d, "polys-0.parquet"))
    rings = next(iter_polygons(polys["geom_wkb"].iloc[0]))
    geo = pd.read_parquet(os.path.join(d, "geo-0.parquet"))
    ids = np.array([int(u.rsplit("/", 1)[1]) for u in geo["url"][:400]], np.uint64)
    seed = inputs.load_json(d, "ready.json")["gen_seed"]
    html = list(pages_pdf(ids, seed=seed)["html"])
    n_bytes = sum(len(h) for h in html)
    return {
        "grid.latlng_to_cell_ns_per_row": 1e9 * _median_call_s(
            lambda: hexgrid.latlng_to_cell(lat, lon, inputs.PAGES["res"])) / len(lat),
        "geom.points_in_polygon_ns_per_row": 1e9 * _median_call_s(
            lambda: points_in_polygon(lon, lat, rings)) / len(lat),
        "sources.extract_text_ns_per_byte": 1e9 * _median_call_s(
            lambda: [extract_text_bytes(h) for h in html]) / n_bytes,
    }


_BY_WORKLOAD = {"crawl_and_query": _pages, "raster_scenes": _raster}


def run(workload: str, d: str) -> dict:
    out = dict.fromkeys(KERNEL_METRICS, 0.0)
    out.update(_BY_WORKLOAD[workload](d))
    return out
