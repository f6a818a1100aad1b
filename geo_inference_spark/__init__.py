"""geo_inference_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of NRCan/geo-inference
(reference at /root/reference, cited per-module as file:line) on top of
the Spark DataFrame API:

- cell indexing (S2 per the public spec; hex grid as the H3-shaped
  fallback when the `h3` package is absent), with the Spark hex
  geocode as one whole-stage-codegen JVM expression,
- broadcast point-in-polygon joins with per-partition bbox R-trees,
- kNN by k-ring expansion with distance-bounded refinement,
- the reference's raster->vector stage (tile grid, Hann-overlap
  stitching, polygonization, YOLO/COCO export) as DataFrame pipelines,
- plus web-scale training-data ops: dedup (exact/MinHash/SimHash/
  n-gram), ANN similarity search, text quality/lang-id/tokenization.

Everything is DataFrame/SQL + Arrow-batched pandas UDFs; no RDDs, no
per-row Python in hot paths.
"""

__version__ = "0.1.0"
