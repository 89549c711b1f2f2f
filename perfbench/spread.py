"""Run one workload over several seeds and report each metric's median
and its spread (interquartile range over the median).

    python3 perfbench/spread.py kpi_batch --seeds 1-10 [--trace 1] [--out runs.jsonl]

Run it from the root of a checkout. Each run is a fresh process of
``perfbench/run.py`` with ``run_seconds`` from BENCHMARK.json; a run
that fails, or whose outputs are wrong, is reported and counted.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", args.trace]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"seed {seed}: exit {proc.returncode}, no result\n{proc.stderr[-2000:]}", file=sys.stderr)
            bad += 1
            continue
        if proc.returncode or not res["correct"] or res["failed"]:
            bad += 1
        row = {k: v["value"] for k, v in res["metrics"].items()}
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        line = {"seed": seed, "wall_s": round(time.time() - t0, 1), "correct": res["correct"],
                "attempted": res["attempted"], "failed": res["failed"], **row}
        print(json.dumps(line), flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, **line}) + "\n")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{args.workload} {k}: median {med:.4g} spread {spread:.3f} (n={len(vs)})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
