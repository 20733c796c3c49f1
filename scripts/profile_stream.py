#!/usr/bin/env python3
"""Event-log profile of ONE battery entry: where does the
wall time of a streaming entry actually go — executed jobs, or the gaps
between them (micro-batch planning, Python-source offset negotiation,
checkpoint commits, driver-side sequencing)?

Runs the named entry ONCE in a fresh session with the Spark event log
enabled, then reconstructs the timeline from the log:

- per-job wall (submission -> completion) with its job group/description,
- total covered-by-jobs time vs end-to-end wall,
- the N largest inter-job gaps with the jobs they separate.

Usage: python3 scripts/profile_stream.py <query> [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    query = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_path = Path(sys.argv[3]) if len(sys.argv) > 3 else None

    evdir = tempfile.mkdtemp(prefix="evlog_")
    from presto_ethereum_spark.plans import battery
    from presto_ethereum_spark.session import get_spark

    spark = get_spark(
        app_name=f"profile-{query}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            # plain single-file JSON so the parse below needs no codec
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = battery.queries()

    # generic warm (parquet footers + Arrow workers) so the profile reads
    # the entry's own cost, not first-touch session spin-up
    spark.read.parquet(f"{sf_dir}/events.parquet").write.mode(
        "overwrite"
    ).format("noop").save()

    # one untimed warmup execution (bench.py's warm-median contract), then
    # the profiled run — only jobs submitted after t0_wall_ms are reported
    qs[query](spark, sf_dir).write.mode("overwrite").format("noop").save()
    t0_wall_ms = int(time.time() * 1000)
    t0 = time.perf_counter()
    qs[query](spark, sf_dir).write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # -- parse the event log ------------------------------------------------
    ev_path = next(Path(evdir).glob(f"*{app_id}*"))
    # Spark 4 may write a rolling event-log DIRECTORY (eventlog_v2_<app>)
    ev_files = (
        sorted(p for p in ev_path.iterdir() if p.name.startswith("events"))
        if ev_path.is_dir()
        else [ev_path]
    )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    lines = [ln for f in ev_files for ln in f.read_text().splitlines()]
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        k = ev.get("Event")
        if k == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "job": ev["Job ID"],
                "t0": ev["Submission Time"],
                "desc": props.get(
                    "spark.job.description", props.get("callSite.short", "")
                )[:120],
            }
        elif k == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
        elif k == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            # the warmup run's stages predate t0 and must not rank
            if si.get("Submission Time", 0) < t0_wall_ms:
                continue
            stages[si["Stage ID"]] = {
                "stage": si["Stage ID"],
                "name": si["Stage Name"][:80],
                "tasks": si["Number of Tasks"],
                "ms": si.get("Completion Time", 0) - si.get("Submission Time", 0),
            }

    done = sorted(
        (j for j in jobs.values() if "t1" in j and j["t0"] >= t0_wall_ms),
        key=lambda j: j["t0"],
    )
    for j in done:
        j["ms"] = j["t1"] - j["t0"]
    covered = sum(j["ms"] for j in done)
    gaps = []
    for prev, nxt in zip(done, done[1:]):
        g = nxt["t0"] - prev["t1"]
        if g > 0:
            gaps.append(
                {
                    "gap_ms": g,
                    "after_job": prev["job"],
                    "after_desc": prev["desc"],
                    "before_job": nxt["job"],
                    "before_desc": nxt["desc"],
                }
            )
    gaps.sort(key=lambda g: -g["gap_ms"])
    span = (done[-1]["t1"] - done[0]["t0"]) / 1000 if done else 0.0
    report = {
        "query": query,
        "wall_s": round(wall, 3),
        "n_jobs": len(done),
        "jobs_covered_s": round(covered / 1000, 3),
        "job_span_s": round(span, 3),
        "inter_job_gap_s": round(max(0.0, span - covered / 1000), 3),
        # driver-side build before the profiled run's first job
        "pre_first_job_s": (
            round((done[0]["t0"] - t0_wall_ms) / 1000, 3) if done else None
        ),
        "top_gaps": gaps[:15],
        "slowest_jobs": sorted(done, key=lambda j: -j["ms"])[:15],
        "slowest_stages": sorted(stages.values(), key=lambda s: -s["ms"])[:10],
    }
    text = json.dumps(report, indent=1)
    print(text)
    if out_path:
        out_path.write_text(text + "\n")


if __name__ == "__main__":
    main()
