"""Per-layer report for one workload, with the cost of tracing.

Runs the workload twice, untraced and then traced, with the same seed
and length, and prints the end-to-end metrics of both runs side by side
(traced minus untraced is the tracing overhead), then the per-layer
metrics of the traced run and where its span file is. From the root of
a checkout:

    python3 perfbench/trace_report.py --workload query_relational --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args: argparse.Namespace, trace: int) -> list[dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    if trace and args.spans:
        cmd += ["--spans", args.spans]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True).stdout
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--spans", help="where the traced run writes its spans")
    args = ap.parse_args()

    untraced = _run(args, 0)
    traced = _run(args, 1)
    base = {k: v["value"] for k, v in untraced[-1]["metrics"].items()}
    info = next(line for line in traced if "traced_end_to_end" in line)
    print(json.dumps(untraced[0]))
    print(f"\n{'end-to-end':<24}{'untraced':>12}{'traced':>12}{'overhead':>12}")
    for name, value in base.items():
        t = info["traced_end_to_end"][name]
        pct = f"{(t - value) / value:+.1%}" if value else "n/a"
        print(f"{name:<24}{value:>12.3f}{t:>12.3f}{pct:>12}")
    result = traced[-1]
    print(f"\nattempted {result['attempted']}, failed {result['failed']}"
          f" (untraced: {untraced[-1]['attempted']}, {untraced[-1]['failed']})")
    print(f"\n{'per-layer (traced run)':<48}{'value':>16}  unit")
    idle = []
    for name, m in result["metrics"].items():
        if m["value"] == 0:
            idle.append(name)
            continue
        print(f"{name:<48}{m['value']:>16.4f}  {m['unit']}")
    print(f"\n{len(idle)} per-layer metrics are 0: layers this workload does not call")
    print(f"spans: {info['spans']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
