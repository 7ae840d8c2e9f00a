#!/usr/bin/env python3
"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/spread.py --workload batch_jobs --seeds 10 --out set1.json
    python3 perfbench/spread.py --workload batch_jobs --seeds 10 --first-seed 11 --out set2.json
    python3 perfbench/spread.py --workload batch_jobs --seeds 10 --trace 1 --out t1.json
    python3 perfbench/spread.py --compare set1.json set2.json

For each metric: the median over the runs and the quartile spread, i.e.
(Q3 - Q1) / median from ``statistics.quantiles(values, n=4)``, next to the
metric's bound from BENCHMARK.json. ``--compare`` takes two saved sets of
the same workload and prints, per metric, the change of the median; for
counts it marks whether every run of both sets gave the same value
(``repeated``) or gives their range.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def run_set(workload: str, seeds: list[int], seconds: int, trace: int) -> list[dict]:
    runs = []
    for seed in seeds:
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {out.returncode}")
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        report = json.loads(lines[-2])["report"]
        runs.append({"seed": seed, "result": result, "report": report})
        print(f"seed {seed}: " + json.dumps(
            {k: round(v["value"], 4) for k, v in result["metrics"].items()
             if not k.startswith(("query.", "snapshots.", "streaming.", "functions."))}
        ), flush=True)
    return runs


def table(runs: list[dict]) -> dict[str, dict]:
    b = bounds()
    names = runs[0]["result"]["metrics"]
    out = {}
    for name, m in names.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        out[name] = {
            "unit": m["unit"],
            "median": statistics.median(vals),
            "spread": spread(vals) if len(vals) >= 2 else 0.0,
            "bound": b.get(name),
            "min": min(vals),
            "max": max(vals),
        }
    return out


def compare(a: list[dict], b: list[dict]) -> dict[str, dict]:
    ta, tb = table(a), table(b)
    out = {}
    for name, ma in ta.items():
        mb = tb[name]
        vals = [r["result"]["metrics"][name]["value"] for r in a + b]
        row = {
            "unit": ma["unit"],
            "median_a": ma["median"],
            "median_b": mb["median"],
            "change": (mb["median"] - ma["median"]) / ma["median"] if ma["median"] else 0.0,
            "bound": ma["bound"],
        }
        if ma["unit"] == "count":
            row["repeated"] = len(set(vals)) == 1
            if not row["repeated"]:
                row["range"] = [min(vals), max(vals)]
        out[name] = row
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2)
    args = p.parse_args()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f)["runs"])
        print(json.dumps(compare(*sets), indent=1))
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    seeds = list(range(args.first_seed, args.first_seed + args.seeds))
    runs = run_set(args.workload, seeds, seconds, args.trace)
    summary = table(runs)
    for name, row in summary.items():
        if args.trace == 0 or row["unit"] == "count":
            bound = row["bound"]
            flag = "" if bound is None else ("ok" if row["spread"] < bound / 3 else "WIDE")
            print(f"{name:34s} median {row['median']:.6g} {row['unit']:6s} "
                  f"spread {row['spread']:.4f} bound {bound} {flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
