"""Test set-up: import the benchmark's modules and the engine from the
checkout, and give the Spark tests one small shared session."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    # python workers unpickle the engine's UDFs: they need the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    os.environ["SPARK_GRAFT_NO_WORKER_WARM"] = "1"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from geo_inference_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2)
    yield s
    s.stop()
