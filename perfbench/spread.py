"""Run workloads over several seeds, interleaved seed by seed, and report
each end-to-end metric's median and quartile spread (IQR over median),
the statistic the benchmark's bounds are set against.

    python3 perfbench/spread.py --workloads ingest,queries --seeds 1-10

Each run prints one line: its metrics, wall time, and the CPU steal the
machine saw during its passes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import iqr_share, median  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True, help="comma-separated, e.g. ingest,queries")
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",")
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    for seed in seeds(args.seeds):
        for w in workloads:
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
            wall = time.perf_counter() - t0
            facts_line, result_line = out.stdout.strip().splitlines()[-2:]
            facts, result = json.loads(facts_line)["facts"], json.loads(result_line)
            if not result["correct"]:
                print(f"{w} seed {seed}: {result['failed']} of {result['attempted']} failed", file=sys.stderr)
            for k, m in result["metrics"].items():
                values[w].setdefault(k, []).append(m["value"])
            line = {"workload": w, "seed": seed, **{k: m["value"] for k, m in result["metrics"].items()}}
            line.update(run_wall_s=wall, pass_steal_s=facts["pass_steal_s"], failed=result["failed"])
            print(json.dumps(line), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w, metrics in values.items():
        for k, xs in metrics.items():
            summary = {"metric": k, "median": median(xs), "iqr_share": iqr_share(xs), "bound": bounds[k]}
            print(json.dumps({"workload": w, **summary, "n": len(xs)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
