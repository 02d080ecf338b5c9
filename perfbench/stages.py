"""Per-stage task metrics from Spark's status store (its REST API),
grouped by job group and mapped to plan layers.

Each timed operation runs under its own job group; writes run under the
group `<group>:sink` (see run.py). A stage is counted in the first of
these layers that applies to it:

    scan      the stage reads input (inputBytes > 0: table files, or blocks
              an earlier stage cached): scan plus the row-rule projection,
              and the map side of the exchange
    window    the stage reads a fact-sized shuffle (at least half as many
              shuffle records as the operation's largest scan read): the
              sort and window side of the conversation exchange, including
              a write fused into that stage
    sink      the final stage of a write job
    agg       any other stage: final aggregations over partial results,
              small joins, collects
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.request

MB = 1024.0 * 1024.0


def fetch(ui_url: str, app_id: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the live status store."""
    base = f"{ui_url}/api/v1/applications/{app_id}"
    with urllib.request.urlopen(f"{base}/jobs", timeout=30) as r:
        jobs = json.load(r)
    with urllib.request.urlopen(f"{base}/stages?status=complete", timeout=30) as r:
        stages = json.load(r)
    return jobs, stages


def parse_time(s: str) -> float:
    """Status-store timestamp ('2026-10-16T18:08:23.438GMT') -> epoch s."""
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def op_stages(jobs: list[dict], stages: list[dict], group: str) -> tuple[list[dict], list[dict], set[int]]:
    """(jobs, completed stages, sink stage ids) of one job group."""
    mine = [j for j in jobs if j.get("jobGroup") in (group, f"{group}:sink")]
    by_id = {s["stageId"]: s for s in stages if s.get("status") == "COMPLETE"}
    ids = {sid for j in mine for sid in j["stageIds"] if sid in by_id}
    sinks = {
        max(sid for sid in j["stageIds"] if sid in by_id)
        for j in mine
        if j.get("jobGroup") == f"{group}:sink" and any(sid in by_id for sid in j["stageIds"])
    }
    return mine, [by_id[i] for i in sorted(ids)], sinks


def classify(stage: dict, sink_ids: set[int], fact_records: int) -> str:
    if stage.get("inputBytes", 0) > 0:
        return "scan"
    if fact_records > 0 and stage.get("shuffleReadRecords", 0) * 2 >= fact_records:
        return "window"
    if stage["stageId"] in sink_ids:
        return "sink"
    return "agg"


def busy_seconds(stages: list[dict], t0: float, t1: float) -> float:
    """Wall seconds in [t0, t1] during which at least one stage ran."""
    spans = sorted(
        (max(parse_time(s["submissionTime"]), t0), min(parse_time(s["completionTime"]), t1))
        for s in stages
        if s.get("submissionTime") and s.get("completionTime")
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return busy


def summarize(
    jobs: list[dict], stages: list[dict], group: str, t0: float, t1: float, cores: int
) -> dict[str, float]:
    """exec.* and driver.idle_s for the operation run under `group` in
    the epoch window [t0, t1]."""
    mine, st, sinks = op_stages(jobs, stages, group)
    fact_records = max([s.get("inputRecords", 0) for s in st] or [0])
    out = {f"exec.{k}": 0.0 for k in (
        "scan.run_s", "scan.cpu_s", "scan.input_mb", "window.run_s", "window.cpu_s",
        "agg.run_s", "sink.run_s",
    )}
    task_s = 0.0
    for s in st:
        layer = classify(s, sinks, fact_records)
        run_s = s["executorRunTime"] / 1000.0
        cpu_s = s["executorCpuTime"] / 1e9
        task_s += run_s
        out[f"exec.{layer}.run_s"] += run_s
        if layer in ("scan", "window"):
            out[f"exec.{layer}.cpu_s"] += cpu_s
        if layer == "scan":
            out["exec.scan.input_mb"] += s["inputBytes"] / MB
    wall = max(t1 - t0, 1e-9)
    out.update(
        {
            "exec.exchange.write_mb": sum(s["shuffleWriteBytes"] for s in st) / MB,
            "exec.exchange.write_s": sum(s["shuffleWriteTime"] for s in st) / 1e9,
            "exec.exchange.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in st) / 1000.0,
            "exec.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st) / MB,
            "exec.gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
            "exec.tasks": float(sum(s["numTasks"] for s in st)),
            "exec.jobs": float(len(mine)),
            "exec.stages": float(len(st)),
            "exec.packing": task_s / (cores * wall),
            "driver.idle_s": max(wall - busy_seconds(st, t0, t1), 0.0),
        }
    )
    return out
