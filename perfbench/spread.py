"""Run the benchmark over several seeds and print each end-to-end metric's
median and quartile spread (IQR / median), the steadiness test the
benchmark's bounds are set against.

    python3 perfbench/spread.py --workload sql_analytics --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        res = json.loads(out[-1])
        host = json.loads(out[-2])["host"]
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              f"steal={host['steal_frac']} foreign={host['foreign_frac']}", flush=True)
        for m, v in res["metrics"].items():
            values.setdefault(m, []).append(v["value"])
    for m, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(m)
        flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")
        print(f"{m:28s} median={med:.4g} spread={spread:.3f} bound={b}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
