"""Benchmark entry point.

    python3 perfbench/run.py --workload raster_scenes --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It builds the workload's seeded
inputs (cached per seed under ``.perfbench_work/``), starts the
measured process (perfbench/child.py) on ``local[nproc]``, samples the
resident memory of that process tree (driver Python, JVM and Python
workers; PSS for the Python processes) every 500 ms, and prints:

* one ``# report`` line with every end-to-end metric (including
  ``error_rate``, ``peak_rss_mb`` and ``out_bytes_per_in_byte``),
  sample counts, the workload's input properties and the host
  (nproc, memory, 1-minute load average);
* as the last line, the result object: the end-to-end metrics listed
  in BENCHMARK.json (``--trace 0``) or the per-layer metrics (``--trace 1``).

The traced run also writes its spans to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# a run must end within 180 s: the measured process is killed at this
# age of the whole run, leaving time to tear it down
TIMEOUT_S = 165.0
SAMPLE_S = 0.5  # memory sampling period

import inputs  # noqa: E402
from kernels import KERNEL_METRICS  # noqa: E402
from stats import median, tail  # noqa: E402

END_TO_END = {
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "setup_s": "s",
}
# printed on the report line only: error_rate is 0 on a correct run,
# so it cannot carry a relative bound; the JVM's peak heap under the
# 24g default varies so much from run to run (G1 sizing) that the
# quartile spread of peak_rss_mb reached 0.27, above any allowed bound
REPORT_ONLY = {"error_rate": "share", "peak_rss_mb": "MiB",
               "out_bytes_per_in_byte": "ratio"}

# per-layer metric -> (unit, function of one traced operation's summary);
# the function is None for the metrics measured once per run
def _py(layer, key="total_ms", scale=1e-3):
    return lambda s: s["py"].get(layer, {}).get(key, 0.0) * scale


def _plan(key, scale=1.0):
    return lambda s: s["plan"].get(key, 0.0) * scale


def _ratio(num, den):
    return lambda s: (num(s), den(s))


_CC_EDGES = _plan("cc.border_edges")
_CANDIDATES = _plan("dedup_candidates")

PER_LAYER = {
    "session.build_s": ("s", None),
    "session.python_init_s": ("s", lambda s: sum(
        v.get("boot_ms", 0.0) for v in s["py"].values()) * 1e-3),
    "sources.scan_s": ("s", _plan("scan_ms", 1e-3)),
    "sources.scan_bytes": ("bytes", _plan("scan_bytes")),
    "sources.decode_python_s": ("s", _py("sources.decode")),
    "sources.extract_python_s": ("s", _py("sources.extract")),
    "sources.write_s": ("s", _plan("write_ms", 1e-3)),
    "sources.bytes_written": ("bytes", lambda s: s["out_bytes"]),
    "sources.files_written": ("count", lambda s: s["out_files"]),
    "geocode.python_s": ("s", _py("geocode")),
    "geocode.rows": ("count", _py("geocode", "rows", 1.0)),
    "geocode.arrow_bytes": ("bytes", lambda s: _py("geocode", "sent", 1.0)(s)
                            + _py("geocode", "received", 1.0)(s)),
    "pip_join.cover_build_s": ("s", lambda s: s["extra"].get("cover_build_s", 0.0)),
    "pip_join.cover_cells": ("count", lambda s: s["extra"].get("cover_cells", 0.0)),
    "pip_join.refine_python_s": ("s", _py("pip_join")),
    "pip_join.refined_per_result": ("ratio", _ratio(
        _py("pip_join", "rows", 1.0), lambda s: s["extra"].get("pip_results", 0.0))),
    "knn.call_s": ("s", lambda s: s["knn_call_s"]),
    "knn.jobs_per_call": ("count", lambda s: s["knn_jobs"]),
    "knn.candidates_per_result": ("ratio", _ratio(
        lambda s: s["knn_join_rows"], lambda s: s["extra"].get("knn_results", 0.0))),
    "knn.driver_s": ("s", lambda s: s["knn_driver_s"]),
    "overlap.python_s": ("s", _py("overlap")),
    "overlap.shuffle_bytes": ("bytes", _plan("overlap_shuffle_bytes")),
    "vectorize.tile_facts_python_s": ("s", _py("vectorize.tile_facts")),
    "vectorize.rings_python_s": ("s", _py("vectorize.rings")),
    "vectorize.cc_s": ("s", lambda s: s["cc_s"]),
    "vectorize.border_edges": ("count", _CC_EDGES),
    "vectorize.components": ("count", lambda s: s["extra"].get("components", 0.0)),
    "annotations.python_s": ("s", _py("annotations")),
    "dedup.signature_python_s": ("s", _py("dedup")),
    "dedup.candidate_pairs": ("count", _CANDIDATES),
    "dedup.verified_per_candidate": ("ratio", _ratio(_CC_EDGES, _CANDIDATES)),
    "exchange.shuffle_bytes": ("bytes", _plan("shuffle_bytes")),
    "exchange.shuffle_write_s": ("s", _plan("shuffle_write_ns", 1e-9)),
    "exchange.broadcast_bytes": ("bytes", _plan("broadcast_bytes")),
    "exchange.broadcast_rows": ("count", _plan("broadcast_rows")),
    "agg.time_s": ("s", _plan("agg_ms", 1e-3)),
    "agg.peak_memory_bytes": ("bytes", _plan("agg_peak_bytes")),
    "agg.spill_bytes": ("bytes", _plan("spill_bytes")),
    "tasks.count": ("count", lambda s: s["tasks"]),
    "tasks.failed": ("count", lambda s: s["tasks_failed"]),
    "tasks.skew": ("ratio", lambda s: s["task_skew"]),
    "driver.self_s": ("s", lambda s: s["driver_self_s"]),
    "trace.overhead_s": ("s", lambda s: s["overhead_s"]),
    "trace.overhead_share": ("share", None),
    "trace.spans": ("count", lambda s: s["spans"]),
}
for _k, _u in KERNEL_METRICS.items():
    PER_LAYER[_k] = (_u, None)
# how the operations of a round combine (default: their sum)
_RATIO = {"pip_join.refined_per_result", "knn.candidates_per_result",
          "dedup.verified_per_candidate"}  # sum(num) / sum(den)
_MAX = {"agg.peak_memory_bytes", "tasks.skew"}


def host() -> dict:
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_gib": round(mem_kb / 2**20, 1), "load_1m": load}


def _session_procs(sid: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, resident bytes) of every process in session
    ``sid``. Python processes report their proportional set size, so
    pages that forked workers share count once in a sum; the JVM
    reports its RSS from statm, because reading its smaps walks
    gigabytes of page tables under the JVM's mmap lock (~30 ms)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2:].split()
            if int(fields[3]) != sid:  # field 6 of stat: session id
                continue
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            if comm == "java":
                with open(f"/proc/{p}/statm") as f:
                    size = int(f.read().split()[1]) * page
            else:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    size = 1024 * next(int(line.split()[1]) for line in f
                                       if line.startswith("Pss:"))
            out[int(p)] = (comm, size)
        except (OSError, ValueError, IndexError, StopIteration):
            continue  # the process ended (or is a zombie) while being read
    return out


def _stop_session(sid: int) -> None:
    """SIGKILL whatever is left of the session and wait until it is gone."""
    deadline = time.time() + 10
    while _session_procs(sid) and time.time() < deadline:
        time.sleep(0.1)
    if _session_procs(sid):
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        while _session_procs(sid):
            time.sleep(0.05)


def measure(root: str, workload: str, seed: int, seconds: float, trace: int,
            deadline: float) -> dict:
    """Run the measured process; returns its result plus peak memory.
    The process is killed at wall-clock time ``deadline``."""
    work = os.path.join(root, inputs.WORK_DIR)
    t_prep = time.time()
    d = inputs.prepare(root, workload, seed)
    phases = {"prep_s": time.time() - t_prep}
    run_dir = os.path.join(work, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keep every temporary file inside the checkout: Python's and the
    # JVM's temp dirs, and no /tmp/hsperfdata_* from the JVMs
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]))
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", workload, "--inputs", d, "--out-dir", out_dir,
           "--seconds", str(seconds), "--trace", str(trace),
           "--result", result_path]
    log_path = os.path.join(run_dir, "child.log")
    peak, peak_split = 0, {}
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=root, env=env,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            while proc.poll() is None:
                procs = _session_procs(proc.pid).values()
                total = sum(r for _, r in procs)
                if total > peak:
                    peak = total
                    jvm = sum(r for c, r in procs if c == "java")
                    peak_split = {"jvm_mb": jvm / 2**20,
                                  "python_mb": (total - jvm) / 2**20,
                                  "processes": len(procs)}
                if time.time() > deadline:
                    os.killpg(proc.pid, signal.SIGKILL)
                    break
                time.sleep(SAMPLE_S)
            proc.wait()
            phases["child_s"] = time.time() - t0
        finally:
            _stop_session(proc.pid)
            shutil.rmtree(tmp, ignore_errors=True)
    phases["teardown_s"] = time.time() - t0 - phases.get("child_s", 0.0)
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"measured process failed (exit {proc.returncode})")
    with open(result_path) as f:
        res = json.load(f)
    res["peak_rss_bytes"] = peak
    res["peak_rss_split"] = peak_split
    res["phases"] = phases
    res["props"] = inputs.load_json(d, "ready.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    if trace:
        tdir = os.path.join(work, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{workload}-s{seed}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "spans": res["spans"]}, f)
    return res


def end_to_end(res: dict) -> tuple[dict, dict]:
    ops = res["ops"][res["cold"]:]  # the cold ops are counted in setup_s
    walls = [o["wall"] for o in ops]
    t, pct = tail(walls)
    vals = {
        "rows_per_s": sum(o["rows"] for o in ops) / sum(walls),
        "op_p50_s": median(walls),
        "op_tail_s": t,
        "setup_s": res["setup_s"],
    }
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["wall"])
    return vals, {"ops": len(walls), "tail_percentile": pct,
                  "op_p50_s_by_kind": {k: median(w) for k, w in kinds.items()},
                  "op_walls_s": walls}


def per_layer(res: dict) -> dict:
    """Per-layer metrics per measured round (the mean over the run's
    rounds), or per run for the metrics measured once."""
    ops, size = res["trace_ops"], res["round"]
    walls = sum(o["wall"] for o in ops)
    rows = [{**o, "py": o["python"], "extra": o,
             "out_bytes": rec.get("out_bytes", 0), "out_files": rec.get("out_files", 0),
             "overhead_s": res["trace_overhead_s"] / len(ops),
             "spans": len(res["spans"]) / len(res["ops"])}
            for o, rec in zip(ops, res["ops"][res["cold"]:])]
    once = {"session.build_s": res["build_s"],
            "trace.overhead_share": res["trace_overhead_s"] / walls,
            **res["kernels"]}
    out = {}
    for name, (unit, fn) in PER_LAYER.items():
        if fn is None:
            out[name] = {"value": float(once[name]), "unit": unit}
            continue
        per_round = []
        for j in range(0, len(rows), size):
            vals = [fn(s) for s in rows[j:j + size]]
            if name in _RATIO:
                den = sum(d for _, d in vals)
                per_round.append(sum(n for n, _ in vals) / den if den else 0.0)
            else:
                per_round.append(max(vals) if name in _MAX else sum(vals))
        out[name] = {"value": float(statistics.fmean(per_round)), "unit": unit}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + TIMEOUT_S
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "geo_inference_spark"))):
        print("perfbench: run from the root of a checkout of the engine "
              "(geo_inference_spark/ and __spark_entry__.py not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    h0 = host()
    res = measure(root, a.workload, a.seed, a.seconds, a.trace, deadline)
    e2e, counts = end_to_end(res)
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o.get("ok"))
    for o in res["ops"]:
        if not o.get("ok"):
            print(f"# op {o['i']} failed: {o.get('error')}", file=sys.stderr)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
              "error_rate": {"value": failed / attempted,
                             "unit": REPORT_ONLY["error_rate"]},
              "peak_rss_mb": {"value": res["peak_rss_bytes"] / 2**20,
                              "unit": REPORT_ONLY["peak_rss_mb"]},
              **counts, "cores": res["cores"], "build_s": res["build_s"],
              "phases": res["phases"], "peak_rss_split": res["peak_rss_split"],
              "host_start": h0, "host_end": host(), "inputs": res["props"]}
    written = [o for o in res["ops"][res["cold"]:] if "out_bytes" in o]
    if written:
        report["out_bytes_per_in_byte"] = {
            "value": sum(o["out_bytes"] for o in written)
            / sum(o["in_bytes"] for o in written),
            "unit": REPORT_ONLY["out_bytes_per_in_byte"]}
    if a.trace:
        report["tracing_overhead_share"] = res["trace_overhead_s"] / sum(
            o["wall"] for o in res["trace_ops"])
        report["udf_names"] = sorted({n for o in res["trace_ops"] for n in o["udf_names"]})
    print("# report " + json.dumps(report))
    metrics = (per_layer(res) if a.trace
               else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
