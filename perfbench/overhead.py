"""Tracing overhead: the traced minus the untraced value of every
end-to-end metric, for one workload and seed.

  python3 perfbench/overhead.py --workload control_plane --seed 1 --seconds 8

Runs perfbench/run.py once with ``--trace 0`` and once with
``--trace 1`` and prints one JSON line per metric.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def report(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-2])["report"]["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()
    off, on = report(args, 0), report(args, 1)
    end_to_end = json.loads((HERE.parent / "BENCHMARK.json").read_text())["end_to_end"]
    for m in end_to_end:
        name = m["name"]
        print(json.dumps({
            "metric": name,
            "unit": m["unit"],
            "untraced": off[name]["value"],
            "traced": on[name]["value"],
            "overhead": on[name]["value"] - off[name]["value"],
        }))


if __name__ == "__main__":
    main()
