"""Run one workload in two sets of runs and compare them.

    python3 perfbench/steadiness.py --workload <name> [--runs 10] [--seconds S]

Set one uses seeds 1..runs, set two seeds 101..100+runs. For every
end-to-end metric it prints each set's median and quartiles, the
spread (interquartile distance over the median) and the ratio of the
second median to the first, next to the metric's bound from
BENCHMARK.json; and for each set the host CPU steal seen during the
timed phases and the share of failed operations; then every run's
record. Run it from the repository root; it starts one run at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    record = next(json.loads(line.split("perfbench record ", 1)[1])
                  for line in p.stderr.splitlines() if "perfbench record " in line)
    record["run_s"] = round(time.perf_counter() - t0, 1)  # the whole run, set-up included
    return result, record


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> None:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    sets = []
    for base in (0, 100):
        runs = []
        for i in range(1, args.runs + 1):
            result, record = one_run(args.workload, base + i, args.seconds)
            print(f"seed {base + i}: correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
                  + f" steal_s={record['steal_s']} run_s={record['run_s']}"
                  + (f" problems={record['problems']}" if record["problems"] else ""),
                  file=sys.stderr, flush=True)
            runs.append((result, record))
        sets.append(runs)

    report = {"workload": args.workload, "runs": args.runs, "seconds": args.seconds,
              "metrics": {}, "sets": []}
    for runs in sets:
        report["sets"].append({
            "seeds": [r["seed"] for _, r in runs],
            "correct": all(res["correct"] for res, _ in runs),
            "failed_share": sum(res["failed"] for res, _ in runs)
                            / sum(res["attempted"] for res, _ in runs),
            "steal_s": summary([r["steal_s"] for _, r in runs]) | {
                "total": sum(r["steal_s"] for _, r in runs)},
        })
    for m in bench["end_to_end"]:
        name = m["name"]
        a, b = (summary([res["metrics"][name]["value"] for res, _ in runs]) for runs in sets)
        report["metrics"][name] = {
            "bound": m["bound"], "set1": a, "set2": b,
            "median_ratio": b["median"] / a["median"],
        }
    report["records"] = [r for runs in sets for _, r in runs]
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
