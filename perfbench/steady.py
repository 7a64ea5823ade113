"""Steadiness report: run the benchmark on several seeds per workload and
give each end-to-end metric's median, quartiles and inter-quartile spread
as a share of the median (``statistics.quantiles(values, n=4)``).

    python3 perfbench/steady.py --runs 10 --seconds 10 \
        --out perfbench/results/steadiness.json

Runs are sequential, one process each, from the repository root.  With
``--traced`` one traced run per workload is added and its step time is set
against the untraced median step time (the tracing overhead).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartiles, spread  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, check=False)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    res["wall_s"] = time.time() - t
    res["exit"] = out.returncode
    return res


def summarize(runs: list[dict]) -> dict:
    names = runs[0]["metrics"].keys() if runs else []
    out = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = quartiles(vals)
        out[name] = {"values": vals, "q1": q1, "median": q2, "q3": q3,
                     "spread": spread(vals)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="frontier_drain,wide_hosts")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    report: dict = {"seconds": args.seconds, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = one_run(wl, args.first_seed + i, args.seconds, 0)
            runs.append(r)
            print(f"{wl} seed={args.first_seed + i} wall={r['wall_s']:.1f}s "
                  f"correct={r.get('correct')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in
                             r.get("metrics", {}).items()), flush=True)
        ok = [r for r in runs if r.get("correct")]
        entry = {"runs": len(runs), "correct_runs": len(ok),
                 "wall_s": [round(r["wall_s"], 1) for r in runs],
                 "metrics": summarize(ok)}
        if args.traced:
            tr = one_run(wl, args.first_seed, args.seconds, 1)
            step = tr.get("metrics", {}).get("trace.step_s_p50", {})
            base = entry["metrics"].get("step_s_p50", {}).get("median")
            entry["traced"] = {
                "correct": tr.get("correct"), "wall_s": round(tr["wall_s"], 1),
                "step_s_p50": step.get("value"),
                "overhead_frac": (step["value"] / base - 1
                                  if step and base else None),
                "overhead_s_per_step": tr.get("metrics", {}).get(
                    "trace.overhead_s_per_step", {}).get("value")}
            print(f"{wl} traced: {entry['traced']}", flush=True)
        report["workloads"][wl] = entry
        for k, v in entry["metrics"].items():
            print(f"{wl} {k}: median={v['median']:.4g} q1={v['q1']:.4g} "
                  f"q3={v['q3']:.4g} spread={v['spread']:.3f}", flush=True)
    if args.out:
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
