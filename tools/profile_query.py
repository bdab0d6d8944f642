"""Per-query profiler for the optimization rounds (guide §1).

Runs one or more registered queries on the engine session (``get_spark``,
same env contract as bench.py: $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS),
with the Spark event log enabled, then reports per query:

  - wall seconds for the same `.count()` action bench.py times
  - number of Spark jobs the query launched and each job's wall time
  - number of stages / tasks, and the per-stage executor-time split
    (so "15 tiny jobs of scheduling latency" is visible as such)

Usage:
    python tools/profile_query.py q1_pricing graph_cc ...
    python tools/profile_query.py --plans q1_pricing   # also dump
        .explain(formatted) to plans/r18/<key>_profile.txt

The event log parse is offline (no UI needed): one JSON object per
line, SparkListenerJobStart/JobEnd + StageCompleted carry everything.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-profile"
# the event log must be on before the JVM starts, so it rides in as
# spark-submit confs under the engine session's own settings
EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": EVDIR,
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    dump_plans = "--plans" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(EVDIR, exist_ok=True)

    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in EVENT_LOG_CONFS.items()] + ["pyspark-shell"]
    )
    from etl_pipeline_example_spark import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    # warmup (same as bench.py)
    for t in ["lineitem", "orders", "customer", "events", "documents", "embeddings"]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    marks: dict[str, tuple[float, float, float]] = {}
    for name in args:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        df = queries[name](spark, sf_dir)
        if dump_plans:
            os.makedirs("plans/r18", exist_ok=True)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(f"plans/r18/{name}_profile.txt", "w") as fh:
                fh.write(txt)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).count()
        t1 = time.perf_counter()
        spark.sparkContext.setJobDescription(None)
        marks[name] = (t0, t1, t1 - t0)
        spark.catalog.clearCache()
    spark.stop()

    # ---- offline event-log parse
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):
        cands = [p for p in os.listdir(EVDIR) if app_id in p]
        if cands:
            path = os.path.join(EVDIR, cands[0])
    if os.path.isdir(path):  # Spark 4 rolling event log: a directory
        lines = []
        for part in sorted(os.listdir(path)):
            if "appstatus" in part:
                continue
            with open(os.path.join(path, part)) as fh:
                lines.extend(fh.readlines())
    else:
        with open(path) as fh:
            lines = fh.readlines()
    jobs = {}  # job_id -> dict
    stages = {}  # stage_id -> dict
    if True:
        for line in lines:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    "ntasks": sum(
                        s.get("Number of Tasks", 0)
                        for s in ev.get("Stage Infos", [])
                    ),
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", "")[:60],
                    "ntasks": si.get("Number of Tasks", 0),
                    "ms": (si.get("Completion Time", 0) or 0)
                    - (si.get("Submission Time", 0) or 0),
                }

    per_query: dict[str, list] = {}
    for jid, j in sorted(jobs.items()):
        d = j.get("desc") or ""
        if d.startswith("profile:"):
            per_query.setdefault(d[len("profile:"):], []).append((jid, j))

    for name in args:
        if name not in marks:
            continue
        wall = marks[name][2]
        js = per_query.get(name, [])
        print(f"\n=== {name}: wall {wall:.3f}s, {len(js)} jobs ===")
        tot_job_ms = 0
        for jid, j in js:
            ms = j.get("t1", j["t0"]) - j["t0"]
            tot_job_ms += ms
            sdesc = []
            slow = []
            for sid in j["stages"]:
                s = stages.get(sid)
                if s:
                    sdesc.append(f"s{sid}:{s['ntasks']}t/{s['ms']}ms")
                    if s["ms"] >= 500:
                        slow.append(f"    s{sid} = {s['name']}")
            print(f"  job {jid}: {ms}ms  tasks={j['ntasks']}  [{' '.join(sdesc)}]")
            for line in slow:
                print(line)
        print(
            f"  sum(job wall)={tot_job_ms / 1000.0:.3f}s; "
            f"driver/plan gap={wall - tot_job_ms / 1000.0:.3f}s"
        )


if __name__ == "__main__":
    main()
