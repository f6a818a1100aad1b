"""The measured process: one fresh interpreter per run.

Started by run.py after the inputs exist. It builds the Spark session
with the engine's ``session.get_spark``, runs the cold operations (one
of each kind), then runs operations back to back for ``--seconds`` (one
closed-loop client), in whole rounds of the workload's input mix,
checks every output against its reference, and
writes a JSON result for run.py. ``--t0`` is the wall-clock time at
which run.py started this process, so ``setup_s`` covers interpreter
start, imports, session build and the cold operations.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback


def run_ops(wl, tracer, seconds: float, trace: bool, after_op, t0: float):
    """The ``wl.COLD`` cold operations, then whole rounds of
    ``wl.ROUND`` operations until ``seconds`` have passed: every run
    measures the same mix of inputs, and at least one round. An
    operation that raises is recorded and the loop goes on. Returns
    (records, outputs, setup_s) with setup_s measured from the
    wall-clock time ``t0``."""
    ops, outputs = [], []

    def one(i: int) -> None:
        rec = {"i": i, "kind": wl.kind(i), "rows": wl.rows(i), "error": None}
        tracer.begin_op(i)
        t_op = time.perf_counter()
        try:
            out = wl.run(i)
        except Exception:
            out = None
            rec["error"] = traceback.format_exc(limit=3)
        rec["wall"] = time.perf_counter() - t_op
        tracer.end_op(wl.trace_extra(i, out) if trace else None)
        after_op()
        written = wl.written(i, out) if out is not None else None
        if written is not None:
            rec["out_bytes"], rec["out_files"], rec["in_bytes"] = written
        ops.append(rec)
        outputs.append(out)
        print(f"perfbench: op {i} {rec['kind']} {rec['wall']:.3f}s "
              f"error={rec['error'] is not None}", file=sys.stderr, flush=True)

    for i in range(wl.COLD):
        one(i)
    setup_s = time.time() - t0
    t_start, i = time.perf_counter(), wl.COLD
    while i == wl.COLD or time.perf_counter() - t_start < seconds:
        for _ in range(wl.ROUND):
            one(i)
            i += 1
    return ops, outputs, setup_s


def check_ops(wl, ops, outputs) -> None:
    """Sets ``ok`` on every record; a check that raises fails its op."""
    for rec, out in zip(ops, outputs):
        if out is None:
            rec["ok"] = False
            continue
        try:
            wl.check(rec["i"], out)
            rec["ok"] = True
        except Exception as e:  # a mismatch, or output too broken to compare
            rec["ok"] = False
            rec["error"] = f"check failed: {type(e).__name__}: {e}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    from geo_inference_spark.session import get_spark

    import workloads
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    t_build = time.time()
    spark = get_spark("perfbench", cores=cores)
    build_s = time.time() - t_build
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, bool(a.trace))
    wl = workloads.WORKLOADS[a.workload](spark, a.inputs, a.out_dir, tracer)
    ops, outputs, setup_s = run_ops(wl, tracer, a.seconds, bool(a.trace),
                                    spark.catalog.clearCache, a.t0)
    print("perfbench: checking outputs", file=sys.stderr, flush=True)
    check_ops(wl, ops, outputs)
    result = {"setup_s": setup_s, "build_s": build_s, "cores": cores,
              "cold": wl.COLD, "round": wl.ROUND, "ops": ops}
    if a.trace:
        import kernels

        result["trace_ops"] = tracer.ops[wl.COLD:]  # cold ops are set-up
        result["trace_overhead_s"] = tracer.overhead_s
        result["kernels"] = kernels.run(a.workload, a.inputs)
        result["spans"] = tracer.spans
        tracer.close()
    spark.stop()
    with open(a.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
