"""Run the benchmark on several seeds and report how steady each metric is.

    python3 perfbench/repeat.py --runs 10 --first-seed 1 [--workload NAME ...]

For every workload and end-to-end metric it prints the median of the runs,
their quartiles as ``statistics.quantiles(values, n=4)`` gives them, and the
interquartile distance as a share of the median next to the metric's bound
in BENCHMARK.json. The runs and the summary are written to
``.bench_build/perfbench/repeat-<first seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path.pop(0)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs: dict[str, list[dict]] = {}
    for wl in args.workload or [w["name"] for w in spec["workloads"]]:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = spec["command"] + [
                "--workload", wl, "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"
            ]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if out.returncode != 0:
                print(out.stderr[-2000:], file=sys.stderr)
                return 1
            result = json.loads(out.stdout.strip().splitlines()[-1])
            runs.setdefault(wl, []).append(result)
            print(wl, seed, json.dumps({k: round(v["value"], 4) for k, v in result["metrics"].items()}), flush=True)

    summary = {}
    for wl, results in runs.items():
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in results]
            q1, q3 = stats.quartiles(values)
            summary[f"{wl}/{name}"] = {
                "median": stats.median(values),
                "q1": q1,
                "q3": q3,
                "spread": stats.spread(values),
                "bound": bound,
                "all_correct": all(r["correct"] for r in results),
            }
    for key, s in summary.items():
        print(
            f"{key:32s} median {s['median']:10.4f}  q1 {s['q1']:10.4f}  q3 {s['q3']:10.4f}  "
            f"spread {s['spread']:.4f}  bound {s['bound']}  correct {s['all_correct']}"
        )
    path = os.path.join(ROOT, ".bench_build", "perfbench", f"repeat-{args.first_seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
