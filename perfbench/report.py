"""Run every workload at several seeds and print each end-to-end metric by
name and unit, one run per line; exits non-zero if any run fails a check.

    python3 perfbench/report.py [--seeds 42,7] [--trace 0|1]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="42,7")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for wl in (w["name"] for w in spec["workloads"]):
        for seed in args.seeds.split(","):
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", wl,
                 "--seed", seed, "--seconds", str(spec["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{wl} seed={seed}: exit {proc.returncode}, no result")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok = ok and res["correct"]
            metrics = "  ".join(f"{k}={v['value']:.4g} {v['unit']}"
                                for k, v in res["metrics"].items())
            print(f"{wl} seed={seed} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}  {metrics}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
