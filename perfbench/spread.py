"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload raster_scenes --seeds 1-10 --seconds 12

For every end-to-end metric it prints the median of the runs and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
BENCHMARK.json. Each run's last stdout line is appended, with its
report line, to ``.perfbench_work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import quartile_spread

LOG = os.path.join(".perfbench_work", "spread.jsonl")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(a.seconds), "--trace", "0"],
            capture_output=True, text=True, check=False)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        with open(LOG, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed,
                                "report": lines[0], "result": res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        sp = quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k}: median {statistics.median(vs):.4g} spread {sp:.3f} "
              f"bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
