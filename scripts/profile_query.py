"""Per-stage profile of one (or more) bench queries at $SPARK_GRAFT_SF_DIR.

Runs each named query exactly like bench.py (count() action) with the Spark
event log enabled, then parses the event log and prints, per job/stage:
wall-clock, task count, executor-CPU sum, shuffle read/write bytes and
records, input bytes, and the gap before the first task (driver/planning
time). This is the guide §1 "empirical" loop without a UI.

Usage:
    python scripts/profile_query.py <query_csv> [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from ai_powered_data_pipeline_assistant_spark.registry import all_queries  # noqa: E402


def main() -> int:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    # a private event-log dir, removed once the log is parsed
    log_dir = tempfile.mkdtemp(prefix="spark_events_")
    try:
        return _profile(names, sf_dir, log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def _profile(names: list[str], sf_dir: str, log_dir: str) -> int:
    """Run the queries with the event log written to ``log_dir``, then parse
    it and print the per-job/stage profile."""
    # same config surface as get_spark(), plus event logging via the
    # SPARK_GRAFT_EXTRA_CONF environment hook
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
        f"spark.eventLog.enabled=true;spark.eventLog.dir={log_dir};"
        "spark.eventLog.compress=false"
    )
    from ai_powered_data_pipeline_assistant_spark.session import get_spark

    spark = get_spark("profile")
    assert spark.conf.get("spark.eventLog.enabled") == "true", (
        "event log config did not take; is a SparkSession already running?"
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # mirror bench.py warm-up
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1000).count()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    warm = spark.range(64).repartition(32)
    warm.mapInPandas(lambda it: it, schema="id long").count()
    warm.select(F.row_number().over(Window.partitionBy("id").orderBy("id"))).count()

    marks = []
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        marks.append((name, dt))
        spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log (Spark 4 rolling v2 layout or flat file) ----
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.startswith("events_")
        )
    else:
        parts = [path]

    def lines():
        for p in parts:
            if p.endswith(".zstd"):
                import io
                import subprocess

                raw = subprocess.run(
                    ["zstd", "-dc", p], capture_output=True, check=True
                ).stdout
                yield from io.StringIO(raw.decode())
            else:
                with open(p) as fh:
                    yield from fh

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines():
        ev = json.loads(line)
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "desc": props.get("spark.job.description", ""),
                "t0": ev["Submission Time"],
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
            }
        elif e == "SparkListenerJobEnd":
            jobs.setdefault(ev["Job ID"], {})["t1"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            st = stages.setdefault(
                sid,
                {
                    "cpu_ms": 0,
                    "sr_bytes": 0,
                    "sw_bytes": 0,
                    "in_bytes": 0,
                    "task_ms": 0,
                },
            )
            st["name"] = si["Stage Name"].split("\n")[0][:70]
            st["tasks"] = si["Number of Tasks"]
            st["t0"] = si.get("Submission Time", 0)
            st["t1"] = si.get("Completion Time", 0)
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.get(sid)
            tm = ev.get("Task Metrics") or {}
            if st is None:
                stages[sid] = st = {
                    "cpu_ms": 0,
                    "sr_bytes": 0,
                    "sw_bytes": 0,
                    "in_bytes": 0,
                    "task_ms": 0,
                }
            if tm:
                st["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                st["task_ms"] += tm.get("Executor Run Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st["sr_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                st["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
                im = tm.get("Input Metrics") or {}
                st["in_bytes"] += im.get("Bytes Read", 0)

    for name, dt in marks:
        print(f"\n=== {name}: {dt:.3f}s wall ===")
        jids = sorted(j for j, v in jobs.items() if v.get("desc") == name)
        prev_end = None
        for jid in jids:
            j = jobs[jid]
            jt = (j.get("t1", 0) - j["t0"]) / 1000.0
            gap = "" if prev_end is None else f" (+{(j['t0']-prev_end)/1000.0:.3f}s gap)"
            prev_end = j.get("t1", 0)
            print(f" job {jid}: {jt:.3f}s{gap}")
            for sid in sorted(j["stages"]):
                st = stages.get(sid)
                if st is None or not st.get("t1"):
                    continue
                wall = (st["t1"] - st["t0"]) / 1000.0
                print(
                    f"   stage {sid:>4} {wall:6.3f}s tasks={st['tasks']:<3}"
                    f" taskms={st['task_ms']:>7.0f} cpums={st['cpu_ms']:>7.0f}"
                    f" in={st['in_bytes']/1e6:7.2f}MB sr={st['sr_bytes']/1e6:7.2f}MB"
                    f" sw={st['sw_bytes']/1e6:7.2f}MB  {st['name']}"
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
