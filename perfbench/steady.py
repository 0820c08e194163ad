#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed, in fresh processes,
and report every metric's median, quartiles and spread — the distance
between the first and third quartile as a share of the median — against
the bound BENCHMARK.json fixes for it. Run from the repository root:

    python3 perfbench/steady.py --workloads point_serve,churn --seeds 1-10

With --trace, each seed also gets a traced run; the report then holds the
per-layer medians and the tracing overhead (traced minus untraced median
op_p50_ms). A spread above a third of its bound is flagged "wide", above
the bound "FAIL"; setup_s is judged like every other end-to-end metric.
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

import stats  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    """"1-5,9" -> [1, 2, 3, 4, 5, 9]."""
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           + p.stderr[-2000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


def summarize(values: list[float], bound: float | None) -> dict:
    q1, med, q3, spread = stats.quartile_spread(values)
    row = {"median": med, "q1": q1, "q3": q3, "spread": spread,
           "values": values}
    if bound is not None:
        row["bound"] = bound
        row["verdict"] = ("ok" if spread <= bound / 3
                          else "wide" if spread <= bound else "FAIL")
    return row


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = parse_seeds(args.seeds)
    if len(seeds) < 2:
        ap.error("quartiles need at least two seeds")

    report, ok = {}, True
    for workload in args.workloads.split(","):
        untraced, traced, failed = [], [], 0
        for seed in seeds:
            r = run_once(workload, seed, seconds, 0)
            failed += r["failed"] + (0 if r["correct"] else 1)
            untraced.append(r["metrics"])
            if args.trace:
                traced.append(run_once(workload, seed, seconds, 1)["metrics"])
        rows = {}
        for name in untraced[0]:
            rows[name] = summarize([m[name]["value"] for m in untraced],
                                   bounds[name])
            ok &= rows[name].get("verdict", "ok") != "FAIL"
        entry = {"seeds": seeds, "failed_ops": failed, "end_to_end": rows}
        if traced:
            entry["per_layer"] = {
                name: summarize([m[name]["value"] for m in traced], None)
                for name in traced[0]
            }
            entry["trace_overhead_ms"] = (
                entry["per_layer"]["trace.op_p50_ms"]["median"]
                - rows["op_p50_ms"]["median"])
        report[workload] = entry
        ok &= failed == 0
        for name, row in rows.items():
            print(f"{workload:<14} {name:<12} median {row['median']:.6g} "
                  f"q1 {row['q1']:.6g} q3 {row['q3']:.6g} "
                  f"spread {row['spread']:.4f} "
                  f"bound {row.get('bound', '-')} {row.get('verdict', '')}",
                  file=sys.stderr)
        if traced:
            print(f"{workload:<14} tracing overhead "
                  f"{entry['trace_overhead_ms']:.3f} ms on op_p50_ms",
                  file=sys.stderr)
    print(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
