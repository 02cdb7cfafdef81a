"""Benchmark entry point.

    python3 perfbench/run.py --workload agent-sparse --seed 1 --seconds 12 --trace 0

Runs one workload at ``local[<cores>]`` in this process: starts the Spark
session, generates the seeded inputs, warms up with one untimed operation,
then repeats the timed operation until ``--seconds`` of timed wall have
accumulated, checking every operation's output after it. Prints readable
lines, then as the last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see README.md).
Everything is written under ``.perfbench/`` next to this directory and
removed at exit, except the traced run's span file.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

from contextlib import nullcontext  # noqa: E402

from perfbench import layers, proctree, sparkenv, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

GEN_REPEATS = 3
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
END_TO_END, PER_LAYER = SPEC["end_to_end"], SPEC["per_layer"]


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat", "rb") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def source_id(root: str) -> str:
    """The git commit when run from a clone, else a digest of the sources."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    import hashlib

    h = hashlib.sha256()
    for sub in ("kgpipe", "perfbench"):
        for f in sorted(os.listdir(os.path.join(root, sub))):
            if f.endswith(".py"):
                with open(os.path.join(root, sub, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def timed_reps(ctx, name, seconds):
    """Repeat the timed operation until ``seconds`` of timed wall have
    accumulated. Returns (reps, attempted, failed)."""
    reps, attempted, failed, timed = [], 0, 0, 0.0
    while timed < seconds or not reps:
        attempted += 1
        out = os.path.join(ctx.work, f"out-{attempted}")
        cpu0, t0 = proctree.tree_cpu_s(), time.monotonic()
        try:
            workloads.op(ctx, name, out)
            wall = time.monotonic() - t0
            cpu = proctree.tree_cpu_s() - cpu0
            fails = workloads.check_store(ctx, out, stream=False)
        except Exception:  # one failed operation is counted, the run goes on
            traceback.print_exc()
            failed += 1
            timed += time.monotonic() - t0  # so that repeated failures end the loop
            if not reps and attempted >= 3:
                raise
            continue
        finally:
            ctx.spark.catalog.clearCache()
        timed += wall
        for f in fails:
            print(f"check failed: {f}", flush=True)
        failed += bool(fails)
        reps.append({"wall": wall, "cpu": cpu, "bytes": dir_bytes(out)})
        shutil.rmtree(out, ignore_errors=True)
    return reps, attempted, failed


def end_to_end(ctx, reps, setup_s) -> dict:
    kturns = ctx.turns / 1000
    med = statistics.median
    return {
        "turns_per_s": med(ctx.turns / r["wall"] for r in reps),
        "cpu_s_per_kturn": med(r["cpu"] / kturns for r in reps),
        "setup_s": setup_s,
        "store_mb_per_kturn": med(r["bytes"] / 2**20 / kturns for r in reps),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.FUSED))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import kgpipe  # noqa: F401  (fail before starting anything if absent)
    from kgpipe.config import DEFAULT_CONFIG
    from kgpipe.resources import (
        Gazetteer, builtin_blacklist_terms, builtin_gazetteer_rows,
    )

    root = sparkenv.export_repo_path()
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    sparkenv.confine_tmp(work)
    cores = os.cpu_count() or 1
    tracer = Tracer() if args.trace else None
    span = tracer.span if tracer else (lambda _name: nullcontext())
    spark = None
    try:
        with span("session.start"):
            spark = sparkenv.start(work, cores, event_log=bool(args.trace))
        if tracer:
            tracer.spark = spark
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed, cores=cores,
            gaz=Gazetteer.from_rows(builtin_gazetteer_rows()),
            bl=builtin_blacklist_terms(), cfg=DEFAULT_CONFIG,
        )
        with span("fixtures.generate"):
            gen_s = []
            for _ in range(GEN_REPEATS):
                t = time.monotonic()
                data = workloads.generate(args.workload, args.seed)
                gen_s.append(time.monotonic() - t)
            workloads.write_inputs(ctx, args.workload, data)
            del data
        with span("session.warmup"):
            workloads.warm_up(ctx, args.workload)
        # generation ran GEN_REPEATS times; set-up counts it once, at its median
        setup_s = process_age_s() - sum(gen_s) + statistics.median(gen_s)

        if args.trace:
            result = layers.traced_run(ctx, args.workload, tracer)
            names = [m["name"] for m in PER_LAYER]
        else:
            reps, attempted, failed = timed_reps(ctx, args.workload, args.seconds)
            metrics = end_to_end(ctx, reps, setup_s)
            props = workloads.properties(ctx, workloads.text_sample(ctx, 500))
            load1, load5, _ = os.getloadavg()
            print("workload", json.dumps({
                "workload": args.workload, "seed": args.seed, "reps": len(reps),
                "op_walls_s": [round(r["wall"], 3) for r in reps], **props,
                "host_cores": cores, "loadavg_1m": load1, "loadavg_5m": load5,
                "source": source_id(root),
            }), flush=True)
            result = {"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}
            names = [m["name"] for m in END_TO_END]
        sparkenv.stop(spark)
        spark = None
        if args.trace:
            spans_dir = os.path.join(root, ".perfbench", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            result = layers.finish(ctx, tracer, result, {
                "session.start_s": tracer.duration("session.start"),
                "fixtures.generate_s": tracer.duration("fixtures.generate")
                - sum(gen_s) + statistics.median(gen_s),
                "session.warmup_s": tracer.duration("session.warmup"),
            }, os.path.join(spans_dir, f"{args.workload}-{args.seed}-{tracer.run_id}.json"))
    finally:
        if spark is not None:
            sparkenv.stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in END_TO_END + PER_LAYER}
    out = {k: {"value": result["metrics"][k], "unit": units[k]} for k in names}
    for k, v in out.items():
        print(f"{args.workload:15s} {k:40s} {v['value']:14.6g} {v['unit']}")
    print(f"{args.workload:15s} {'failed_frac':40s} "
          f"{result['failed'] / result['attempted']:14.6g} ratio")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
