"""The operations of each workload and the checks of their outputs.

An operation calls the engine's public functions; every call is
wrapped in a tracer span (a no-op in the untraced run). ``run(i)``
returns the operation's output in a small Python form and ``check(i,
out)`` compares it with the reference answer built by inputs.py,
raising ``Mismatch`` on any difference. Checks run after the measured
window.

The first ``COLD`` operations (one of each kind) are part of set-up;
the measured operations run in whole rounds of ``ROUND`` so that every
run measures the same mix of inputs. ``kind(i)`` names an operation's
kind, for the per-kind latencies on the report line.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

import inputs

# keep_quality is rounded to 6 decimals in both engines, but Spark's
# round() and DuckDB's break exact decimal half-ties differently, so
# the score may differ by one unit in the sixth decimal
QUALITY_STEP = 1e-6 + 1e-12


class Mismatch(AssertionError):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


def _data_files(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Spark's
    ``_SUCCESS`` markers and ``.crc`` checksums are not counted."""
    sizes = [os.path.getsize(os.path.join(dp, f))
             for dp, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "_"))]
    return sum(sizes), len(sizes)


def input_index(n: int, cold: int, n_inputs: int) -> int:
    """Input of the ``n``-th unit of work (an operation or a round): the
    ``cold`` first ones take inputs 0 .. cold-1, the measured ones cycle
    through inputs cold .. n_inputs-1."""
    return n if n < cold else cold + (n - cold) % (n_inputs - cold)


class CrawlAndQuery:
    """A crawl segment and an analyst request, as a round of three
    operations:

    1. ``ingest``: one WARC archive through range scan, html to text,
       language, a geocode cell and a bucket-partitioned parquet append;
    2. ``keep_best``: near-duplicate clusters and keep-best over that
       segment (the ``q_dedup_keep_best`` composition);
    3. ``request``: pages per area (PIP join) against one AOI layer, a
       kNN batch (k=10) and a radius count over the materialized pages
       table.
    """

    KINDS = ("ingest", "keep_best", "request")
    ROUND = COLD = len(KINDS)

    def __init__(self, spark, d: str, out_dir: str, tracer):
        self.spark, self.d, self.out_dir, self.tr = spark, d, out_dir, tracer
        self.p = inputs.PAGES
        n = self.p["inputs"]
        self.req = [inputs.load_json(d, f"request-{r}.json") for r in range(n)]
        self.seg = [inputs.load_json(d, f"archive-{a}.json") for a in range(n)]
        self.polys = [pd.read_parquet(os.path.join(d, f"polys-{r}.parquet"))
                      for r in range(n)]

    def kind(self, i: int) -> str:
        return self.KINDS[i % self.ROUND]

    def _k(self, i: int) -> int:
        return input_index(i // self.ROUND, 1, self.p["inputs"])

    def _seg_dir(self, i: int) -> str:
        return os.path.join(self.out_dir, f"round{i // self.ROUND}")

    def rows(self, i: int) -> int:
        return self.p["pages"] if self.kind(i) == "request" else self.p["records"]

    def run(self, i: int):
        return getattr(self, "_" + self.kind(i))(i)

    def _ingest(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from geo_inference_spark.operators.geocode import hex_cell_udf
        from geo_inference_spark.sources.pages import extract_text_bytes
        from geo_inference_spark.sources.warc import read_warc
        from geo_inference_spark.text.analysis import with_langid

        p, spark, k = self.p, self.spark, self._k(i)

        def extract_text(batches):
            for pdf in batches:
                yield pd.DataFrame({
                    "url": pdf["url"],
                    "doc_id": [int(u.rsplit("/", 1)[1]) for u in pdf["url"]],
                    "text": [extract_text_bytes(bytes(h)) for h in pdf["html"]],
                })

        with self.tr.call("sources.read_warc"):
            recs = read_warc(spark, os.path.join(self.d, f"archive-{k}.warc.gz"))
        geo = spark.read.parquet(os.path.join(self.d, f"geo-{k}.parquet"))
        cell = f"cell_h{p['cell_res']}"
        with self.tr.call("sources.write_segment"):
            docs = with_langid(recs.mapInPandas(
                extract_text, "url string, doc_id long, text string"))
            docs = (docs.select("url", "doc_id", "text",
                                F.col("pred_lang").alias("lang"))
                    .join(F.broadcast(geo), "url")
                    .withColumn(cell, hex_cell_udf(p["cell_res"])(
                        F.col("lat"), F.col("lon")))
                    .withColumn("bucket", F.pmod(F.xxhash64(F.col(cell)),
                                                 F.lit(p["buckets"])).cast("int")))
            docs.write.mode("append").partitionBy("bucket").parquet(
                os.path.join(self._seg_dir(i), "documents.parquet"))
        return {"dir": self._seg_dir(i)}

    def _keep_best(self, i: int) -> dict:
        import __spark_entry__ as entry

        with self.tr.call("dedup.keep_best"):
            keep = entry.q_dedup_keep_best(self.spark, self._seg_dir(i)).collect()
        return {"keep": [(int(r[0]), int(r[1]), float(r[2])) for r in keep]}

    def _request(self, i: int) -> dict:
        from geo_inference_spark.operators.knn import knn_join, radius_join
        from geo_inference_spark.operators.pip_join import pages_per_area

        p, spark, k = self.p, self.spark, self._k(i)
        q = self.req[k]
        with self.tr.call("sources.read_parquet"):
            pages = spark.read.parquet(os.path.join(self.d, "pages"))
        with self.tr.call("pip_join.pages_per_area"):
            pip = pages_per_area(spark, pages, self.polys[k], res=p["res"]).collect()
        kq = pd.DataFrame({"qid": np.arange(len(q["knn_queries"])),
                           "lat": [x[0] for x in q["knn_queries"]],
                           "lon": [x[1] for x in q["knn_queries"]]})
        with self.tr.call("knn.knn_join"):
            knn = knn_join(spark, pages, kq, k=p["knn_k"], res=p["res"]).toPandas()
        rq = pd.DataFrame({"qid": np.arange(len(q["radius_queries"])),
                           "lat": [x[0] for x in q["radius_queries"]],
                           "lon": [x[1] for x in q["radius_queries"]]})
        with self.tr.call("knn.radius_join"):
            rad = (radius_join(spark, pages, rq, p["radius_km"], res=p["radius_res"])
                   .groupBy("qid").count().collect())
        return {"pip": {int(r["area_id"]): int(r["cnt"]) for r in pip},
                "knn": knn,
                "radius": {int(r["qid"]): int(r["count"]) for r in rad}}

    def check(self, i: int, out) -> None:
        getattr(self, "_check_" + self.kind(i))(self._k(i), out)

    def _check_ingest(self, k: int, out) -> None:
        import pyarrow.dataset as ds

        seg = self.seg[k]
        t = ds.dataset(os.path.join(out["dir"], "documents.parquet"),
                       partitioning="hive").to_table().to_pandas()
        cell = f"cell_h{self.p['cell_res']}"
        _expect(len(t) == self.p["records"], "ingested record count")
        _expect(dict(zip(t["url"], t["text"])) == seg["texts"],
                "extracted text is byte-identical to the generator's")
        _expect(dict(zip(t["url"], t[cell].astype(int))) == seg["cells"],
                "geocode cells")

    def _check_keep_best(self, k: int, out) -> None:
        want = self.seg[k]["keep_best"]
        _expect(len(out["keep"]) == len(want), "keep-best cluster count")
        for g, w in zip(out["keep"], want):
            _expect(g[0] == w[0] and g[1] == w[1]
                    and math.isclose(g[2], w[2], rel_tol=0.0,
                                     abs_tol=QUALITY_STEP),
                    f"keep-best row {w}, got {list(g)}")

    def _check_request(self, k: int, out) -> None:
        q = self.req[k]
        _expect(out["pip"] == {int(a): v for a, v in q["expect_pip"].items()},
                "pages_per_area counts")
        knn = out["knn"].sort_values(["qid", "rn"])
        for e in q["expect_knn"]:
            got = knn[knn["qid"] == e["qid"]]
            _expect(got["id"].tolist() == e["ids"], f"knn ids q{e['qid']}")
            _expect(np.allclose(got["dist"].to_numpy(), e["dist"],
                                rtol=1e-12, atol=0.0), f"knn dist q{e['qid']}")
        want = {int(a): v for a, v in q["expect_radius"].items() if v}
        _expect(out["radius"] == want, "radius counts")

    def written(self, i: int, out):
        """(bytes, files, input bytes) of an ingest; None for the others."""
        if self.kind(i) != "ingest":
            return None
        return (*_data_files(os.path.join(out["dir"], "documents.parquet")),
                self.seg[self._k(i)]["in_bytes"])

    def trace_extra(self, i: int, out) -> dict:
        """Counts for ratios; for a request, also the cover build of its
        AOI layer timed on its own (outside the operation)."""
        import time

        from geo_inference_spark.operators.pip_join import build_cover

        if out is None or self.kind(i) == "ingest":
            return {}
        if self.kind(i) == "keep_best":
            return {"components": float(len(out["keep"]))}
        t0 = time.perf_counter()
        cover = build_cover(self.polys[self._k(i)], self.p["res"])
        return {"cover_build_s": time.perf_counter() - t0,
                "cover_cells": float(len(cover)),
                "pip_results": float(sum(out["pip"].values())),
                "knn_results": float(len(out["knn"]))}


class RasterScenes:
    """One LZW GeoTIFF scene: windowed read, Hann-overlap stitch,
    polygonize, YOLO annotations and the YOLO sink writer. The cold
    operation is a smooth scene; each measured round is smooth,
    fragmented, smooth. (COCO is left out:
    its window sorts and driver collects add ~2.4 s per scene, which
    the run-time budget cannot carry.)"""

    ROUND, COLD = 3, inputs.RASTER["cold"]

    def __init__(self, spark, d: str, out_dir: str, tracer):
        self.spark, self.d, self.out_dir, self.tr = spark, d, out_dir, tracer
        self.r = inputs.RASTER
        self.expect = [inputs.load_json(d, f"scene-{s}.json")
                       for s in range(self.r["inputs"])]

    def _k(self, i: int) -> int:
        return input_index(i, self.COLD, self.r["inputs"])

    def kind(self, i: int) -> str:
        return "fragmented" if inputs.is_fragmented(self._k(i)) else "smooth"

    def rows(self, i: int) -> int:
        return self.r["size"] * self.r["size"]

    def run(self, i: int):
        from geo_inference_spark.operators.annotations import yolo_annotations
        from geo_inference_spark.operators.overlap import overlap_stitch
        from geo_inference_spark.operators.vectorize import polygonize_tiles
        from geo_inference_spark.raster.kernels import make_linear_model
        from geo_inference_spark.sources import sinks
        from geo_inference_spark.sources.tiff import read_geotiff_chunks_distributed

        r, spark, s = self.r, self.spark, self._k(i)
        out = os.path.join(self.out_dir, f"op{i}")
        os.makedirs(out, exist_ok=True)
        size, ident = r["size"], (1.0, 0.0, 0.0, 0.0, 1.0, 0.0)
        with self.tr.call("sources.read_geotiff_chunks_distributed"):
            chunks, ny, nx, _ = read_geotiff_chunks_distributed(
                spark, os.path.join(self.d, f"scene-{s}.tif"), r["stride"])
        with self.tr.call("overlap.overlap_stitch"):
            tiles = overlap_stitch(chunks, make_linear_model(num_classes=r["classes"]),
                                   r["bands"], r["stride"], ny, nx, r["classes"])
        with self.tr.call("vectorize.polygonize_tiles"):
            polys = polygonize_tiles(spark, tiles, r["stride"]).cache()
            rows = polys.select("value", "area").collect()
        with self.tr.call("annotations.yolo_annotations"):
            yolo = yolo_annotations(polys, ident, size, size)
        with self.tr.call("sinks.write_yolo_csv"):
            sinks.write_yolo_csv(yolo, os.path.join(out, "yolo"))
        polys.unpersist()
        return {"polygons": sorted((float(x["value"]), round(float(x["area"]), 6))
                                   for x in rows), "dir": out}

    def check(self, i: int, out) -> None:
        want = [tuple(p) for p in self.expect[self._k(i)]["polygons"]]
        _expect(out["polygons"] == want, "polygon values/areas")
        yolo_dir = os.path.join(out["dir"], "yolo")
        n = 0
        for f in os.listdir(yolo_dir):
            if f.endswith(".csv"):
                with open(os.path.join(yolo_dir, f)) as fh:
                    n += sum(1 for _ in fh)
        _expect(n == len(want), "yolo row count")

    def written(self, i: int, out) -> tuple[int, int, int]:
        """(bytes, files) written and the scene's input bytes."""
        return (*_data_files(out["dir"]),
                os.path.getsize(os.path.join(self.d, f"scene-{self._k(i)}.tif")))

    def trace_extra(self, i: int, out) -> dict:
        return {"components": float(len(out["polygons"])) if out else 0.0}


WORKLOADS = {"crawl_and_query": CrawlAndQuery, "raster_scenes": RasterScenes}
