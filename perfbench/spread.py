"""Run one workload over several seeds and report each metric's spread.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload catalog --seeds 1-10 [--trace 0]

Each run is the benchmark command with ``BENCHMARK.json``'s
``run_seconds``. Prints one line per metric: the values, their median
and the quartile spread (``statistics.quantiles(values, n=4)``, third
minus first quartile over the median) next to the metric's bound, then
a JSON object with the same figures.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.metrics import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_arg, help="e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    failed = 0
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        failed += result["failed"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    report = {}
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) > 1 and statistics.median(vals) else None
        report[name] = {"median": statistics.median(vals), "spread": spread,
                        "bound": bounds.get(name), "values": vals}
        shown = f"{spread:.3f}" if spread is not None else "-"
        print(f"{name:36s} median={statistics.median(vals):<10.4g} spread={shown} "
              f"bound={bounds.get(name)}")
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "failed": failed, "metrics": report}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
