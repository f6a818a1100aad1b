"""On a tiny PIP join the walk puts the geocode ArrowEvalPython in
``geocode`` and the boundary-refine UDF in ``pip_join``."""

import numpy as np
import pandas as pd

from geo_inference_spark.operators.pip_join import pages_per_area
from geo_inference_spark.sources.pages import synth_admin_polygons
from spans import PlanTotals


def test_pip_plan_attribution(spark):
    rng = np.random.RandomState(0)
    polys = synth_admin_polygons(n_areas=8, seed=3)
    # points around the first areas' centres, so boundary cells exist
    n = 4000
    lat = 40.71 + rng.normal(0, 0.3, n)
    lon = -74.00 + rng.normal(0, 0.3, n)
    pts = spark.createDataFrame(pd.DataFrame({"page_id": np.arange(n),
                                              "lat": lat, "lon": lon}))
    df = pages_per_area(spark, pts, polys, res=8)
    got = df.collect()
    totals = PlanTotals({})
    totals.walk_execution(df._jdf.queryExecution())
    assert "_udf" in totals.udf_names and "pip_exact" in totals.udf_names
    geo, pip = totals.python["geocode"], totals.python["pip_join"]
    assert geo["rows"] == n  # every point geocoded once, in one eval
    assert 0 < pip["rows"] < n  # only boundary-cell candidates refined
    assert geo["total_ms"] > 0 and pip["total_ms"] > 0
    assert sum(r["cnt"] for r in got) <= n
    assert "python.other" not in totals.python
