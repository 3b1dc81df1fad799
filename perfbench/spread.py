"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread, (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload ingest --seeds 1 2 3 4 5

Runs one workload at a time, one seed after another, from the
repository root, and prints one JSON object per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import core  # noqa: E402


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    args = ap.parse_args(argv)
    for w in args.workload:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=subprocess.DEVNULL, text=True, timeout=600)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}", file=sys.stderr)
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {json.dumps(res)}", file=sys.stderr, flush=True)
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        print(json.dumps({"workload": w, "runs": len(args.seeds), "metrics": {
            k: {"median": core.median(v), "spread": core.quartile_spread(v),
                "bound": bounds.get(k), "values": v}
            for k, v in values.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
