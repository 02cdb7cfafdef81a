"""Steadiness evidence: run the benchmark once per seed and summarize each
end-to-end metric's median, quartiles and spread, or compare two such sets
against the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py run --seeds 101-110 --out set1.json
    python3 perfbench/steadiness.py compare set1.json set2.json

The spread is (q3 - q1) / median with ``statistics.quantiles(values, n=4)``;
a set passes when every spread is within its metric's bound, and two sets
agree when neither median is worse than the other by more than the bound.
Every workload in BENCHMARK.json is run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _seeds(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values),
            "q1": q1, "q3": q3, "spread": (q3 - q1) / statistics.median(values)}


def run_set(seeds: list, workloads: list, seconds: int) -> dict:
    out = {}
    for w in workloads:
        per_metric: dict = {}
        walls = []
        for seed in seeds:
            t = time.monotonic()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed",
                 str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            walls.append(time.monotonic() - t)
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if proc.returncode != 0 or not result["correct"]:
                raise SystemExit(f"{w} seed {seed}: {proc.stderr[-2000:]}")
            for k, v in result["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed} {walls[-1]:.0f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
        out[w] = {"seeds": seeds, "run_wall_s": walls,
                  "metrics": {k: summarize(v) for k, v in per_metric.items()}}
    return out


def compare(a: dict, b: dict) -> bool:
    spec = _spec()
    ok = True
    for w in a:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sa, sb = a[w]["metrics"][name], b[w]["metrics"][name]
            sign = 1 if m["better"] == "lower" else -1
            drift = max(sign * (sb["median"] - sa["median"]) / sa["median"],
                        sign * (sa["median"] - sb["median"]) / sb["median"])
            row_ok = max(sa["spread"], sb["spread"]) <= bound and drift <= bound
            ok &= row_ok
            print(f"{w:15s} {name:20s} bound {bound:.2f} "
                  f"spread {sa['spread']:.3f}/{sb['spread']:.3f} "
                  f"median {sa['median']:.4g}/{sb['median']:.4g} "
                  f"worse-by {drift:+.3f} {'ok' if row_ok else 'FAIL'}")
    return ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", required=True, help="e.g. 101-110")
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = p.parse_args(argv)
    spec = _spec()
    if args.cmd == "run":
        names = [w["name"] for w in spec["workloads"]]
        result = run_set(_seeds(args.seeds), names, spec["run_seconds"])
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
        return 0
    with open(args.first) as fa, open(args.second) as fb:
        return 0 if compare(json.load(fa), json.load(fb)) else 1


if __name__ == "__main__":
    sys.exit(main())
