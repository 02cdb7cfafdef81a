"""Summaries of a Spark event log, restricted to the jobs submitted inside
one wall-clock window (the traced operation's span)."""

from __future__ import annotations

import glob
import json
import os
import statistics

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def read_events(log_dir: str) -> list:
    """Every event of the (single, finished) application log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _plan_key(node: dict) -> str:
    return node["nodeName"] + node.get("simpleString", "") + "".join(
        _plan_key(c) for c in node.get("children", ()))


def _udf_scans(node: dict, seen_cached: set) -> int:
    """MapInPandas operators with a parquet scan below them. A cached
    relation's plan is walked only the first time it appears: later
    executions read the cache instead of running its UDFs again."""
    name = node["nodeName"]
    kids = node.get("children", ())
    if name.startswith("InMemoryTableScan"):
        # keyed on the cached plan, not on the scan's own filter/columns
        key = "".join(_plan_key(c) for c in kids)
        if key in seen_cached:
            return 0
        seen_cached.add(key)
    below = sum(_udf_scans(c, seen_cached) for c in kids)
    if name == "MapInPandas" and _has_scan(node):
        below += 1
    return below


def _has_scan(node: dict) -> bool:
    return node["nodeName"].startswith("Scan parquet") or any(
        _has_scan(c) for c in node.get("children", ()))


def summarize(events: list, t0_ms: float, t1_ms: float) -> dict:
    """spark.* per-layer metrics over the jobs submitted in [t0_ms, t1_ms]
    (epoch milliseconds)."""
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"
            and t0_ms <= e["Submission Time"] <= t1_ms]
    stage_ids = {s for j in jobs for s in j["Stage IDs"]}
    exec_ids = {int(j["Properties"]["spark.sql.execution.id"]) for j in jobs
                if "spark.sql.execution.id" in j.get("Properties", {})}
    stages = [e["Stage Info"] for e in events
              if e["Event"] == "SparkListenerStageCompleted"
              and e["Stage Info"]["Stage ID"] in stage_ids]
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"
             and e["Stage ID"] in stage_ids and e.get("Task Metrics")]

    def tsum(f):
        return sum(f(t["Task Metrics"]) for t in tasks)

    by_stage: dict = {}
    for t in tasks:
        info = t["Task Info"]
        by_stage.setdefault(t["Stage ID"], []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1000)
    skew = 1.0
    if by_stage:
        widest = max(by_stage.values(), key=lambda d: (len(d), sum(d)))
        p50 = statistics.median(widest)
        skew = max(widest) / p50 if p50 > 0 else 1.0
    seen: set = set()
    udf_scans = sum(
        _udf_scans(e["sparkPlanInfo"], seen)
        for e in sorted((e for e in events if e["Event"] == _SQL_START
                         and e["executionId"] in exec_ids),
                        key=lambda e: e["executionId"]))
    mb = 2**20
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_cpu_s": tsum(lambda m: m["Executor CPU Time"]) / 1e9,
        "spark.executor_run_s": tsum(lambda m: m["Executor Run Time"]) / 1e3,
        "spark.jvm_gc_s": tsum(lambda m: m["JVM GC Time"]) / 1e3,
        "spark.shuffle_write_mb": tsum(
            lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"]) / mb,
        "spark.shuffle_read_mb": tsum(
            lambda m: m["Shuffle Read Metrics"]["Remote Bytes Read"]
            + m["Shuffle Read Metrics"]["Local Bytes Read"]) / mb,
        "spark.spill_mb": tsum(
            lambda m: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / mb,
        "spark.task_s_max_over_p50": skew,
        "spark.python_udf_scans": udf_scans,
    }
