"""The reference answers agree with the engine at this commit, and they
are computed without the engine kernels the benchmark measures, so a
change that breaks one of those kernels fails the benchmark's checks."""

import ast
import os

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry
import inputs
import reference
from geo_inference_spark.geom.core import points_in_polygon, polygon_area
from geo_inference_spark.geom.wkb import iter_polygons
from geo_inference_spark.grid import hexgrid
from geo_inference_spark.raster.dense import dense_infer_mask
from geo_inference_spark.raster.kernels import make_linear_model
from geo_inference_spark.raster.polygonize import mask_to_polygons
from geo_inference_spark.sources.pages import build_latlon, pages_pdf, synth_admin_polygons

# what reference.py may take from the engine: inputs and definitions
ALLOWED_ENGINE_IMPORTS = {
    "geo_inference_spark.operators.knn": {"R_KM"},
    "geo_inference_spark.text": {"analysis", "portable"},
    "geo_inference_spark.text.dedup": {"lsh_collapsed_oracle_sql"},
}


def test_reference_imports_no_measured_kernel():
    with open(reference.__file__) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            assert not any(a.name.startswith("geo_inference_spark") for a in node.names)
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "geo_inference_spark"):
            names = {a.name for a in node.names}
            assert names <= ALLOWED_ENGINE_IMPORTS.get(node.module, set()), node.module


def test_raster_reference_matches_the_dense_pipeline():
    r = inputs.RASTER
    model = make_linear_model(num_classes=r["classes"])
    for i in range(r["inputs"]):
        arr, _ = inputs.scene_array(7, i)
        want = dense_infer_mask(arr.astype(np.float64), model, 2 * r["stride"],
                                r["classes"])
        mask = reference.dense_mask(arr, model, r["stride"], r["classes"])
        assert np.array_equal(mask, want)
        polys = sorted((float(v), round(polygon_area(rings), 6))
                       for rings, v in mask_to_polygons(mask))
        assert reference.component_areas(mask) == polys


def test_pages_reference_matches_the_engine_kernels():
    ids = np.arange(20_000, dtype=np.uint64) + np.uint64(70_000_000)
    lat, lon = build_latlon(ids, seed=7)
    for res in (4, 8):
        assert np.array_equal(reference.hex_cell(lat, lon, res),
                              hexgrid.latlng_to_cell(lat, lon, res))
    polys = synth_admin_polygons(n_areas=24, seed=7)
    counts = {}
    for aid, wkb in zip(polys["area_id"], polys["geom_wkb"]):
        parts = list(iter_polygons(wkb))
        ref = reference.wkb_polygons(wkb)
        assert len(ref) == len(parts)
        hit = np.zeros(len(lat), dtype=bool)
        for rings, ref_rings in zip(parts, ref):
            assert all(np.array_equal(a, b) for a, b in zip(rings, ref_rings))
            hit |= points_in_polygon(lon, lat, rings)
        if hit.any():
            counts[int(aid)] = int(hit.sum())
    assert counts and reference.pip_counts(lat, lon, polys) == counts


def test_keep_best_reference_matches_duckdb_twin():
    """The numpy keep-best equals the DuckDB twin of q_dedup_keep_best
    (recursive-CTE clusters), which is too slow to run per seed."""
    ids = np.arange(260, dtype=np.uint64) + np.uint64(77_000)
    pdf = pages_pdf(ids, seed=5)
    docs = pd.DataFrame({"doc_id": pdf["page_id"], "text": pdf["text"]})
    con = duckdb.connect()
    con.register("documents", docs)
    want = [[int(c), int(d), float(q)] for c, d, q in
            con.execute(entry.oracle_sql()["dedup_keep_best"]).fetchall()]
    con.close()
    got = reference.keep_best(docs)
    assert got == want
    assert len(got) < len(docs)  # the sample has duplicates to collapse


def test_same_seed_same_inputs(tmp_path):
    a = inputs.prepare(str(tmp_path / "a"), "raster_scenes", 3)
    b = inputs.prepare(str(tmp_path / "b"), "raster_scenes", 3)
    for name in ("scene-0.tif", "scene-2.tif", "scene-2.json", "ready.json"):
        with open(os.path.join(a, name), "rb") as fa, \
                open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read()
