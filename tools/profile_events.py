"""Event-log stage breakdown for one query (r19 optimization rounds).

Runs <query> once (noop sink) in a session with the event log on,
then summarizes per-stage: task count, total/max task time, input
rows/bytes where present — plus the job timeline with the dead time
BETWEEN jobs (driver planning / AQE / broadcast gaps), which the
mid-round measurements showed dominating several mid-weight queries.

Usage: python tools/profile_events.py <query> [--sf-dir DIR] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=1,
                    help="timed reps after the warm-up (all logged)")
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="gws_evlog_")
    # get_spark's session plus the event log: the launcher reads these
    # confs when the JVM starts, i.e. inside get_spark
    eventlog = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in eventlog.items()]
        + [os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")])

    from go_whisper_spark.session import get_spark

    spark = get_spark("gws_profile_events")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    fn = entrymod.queries()[args.query]
    spark.range(1000).count()
    # warm-up (builds memoized substrates, compiles codegen)
    fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()

    import time
    marks = []
    for r in range(args.reps):
        spark.sparkContext.setJobDescription(f"{args.query}:rep{r}")
        t0 = time.time()
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        marks.append((t0 * 1000, time.time() * 1000))
        spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # Spark 4 defaults to a rolled, zstd-compressed event log dir
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        path = os.path.join(evdir, f"eventlog_v2_{app_id}")
    if os.path.isdir(path):
        parts = sorted(p for p in os.listdir(path) if p.startswith("events_"))
        lines = []
        for p in parts:
            fp = os.path.join(path, p)
            if p.endswith(".zstd"):
                import zstandard

                with open(fp, "rb") as fh:
                    data = zstandard.ZstdDecompressor().stream_reader(fh).read()
                lines.extend(data.decode().splitlines())
            else:
                lines.extend(open(fp).read().splitlines())
    else:
        lines = open(path).read().splitlines()
    jobs = {}        # id -> dict
    stages = {}      # id -> dict
    if True:
        for line in lines:
            ev = json.loads(line)
            t = ev.get("Event")
            if t == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""),
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif t == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif t == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages.setdefault(si["Stage ID"], {})
                st.update({
                    "name": si["Stage Name"].split("\n")[0][:80],
                    "n_tasks": si["Number of Tasks"],
                    "ms": (si.get("Completion Time", 0)
                           - si.get("Submission Time", 0)),
                })
            elif t == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                ti = ev.get("Task Info", {})
                dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                st["task_ms"] = st.get("task_ms", 0) + dur
                st["task_max"] = max(st.get("task_max", 0), dur)
                st["task_n"] = st.get("task_n", 0) + 1

    # restrict to the timed reps' window
    lo = min(m[0] for m in marks)
    hi = max(m[1] for m in marks)
    sel = {j: d for j, d in jobs.items()
           if "end" in d and d["start"] >= lo - 50 and d["end"] <= hi + 50}
    order = sorted(sel, key=lambda j: sel[j]["start"])
    total = hi - lo
    in_jobs = sum(sel[j]["end"] - sel[j]["start"] for j in order)
    print(f"window {total:.0f} ms over {args.reps} rep(s); "
          f"{len(order)} jobs, {in_jobs:.0f} ms inside jobs, "
          f"{total - in_jobs:.0f} ms between jobs (driver)")
    prev_end = lo
    for j in order:
        d = sel[j]
        gap = d["start"] - prev_end
        prev_end = d["end"]
        dur = d["end"] - d["start"]
        print(f"  job {j:>4}  gap {gap:>6.0f} ms  run {dur:>7.0f} ms  "
              f"{d['desc'][:60]}")
        for sid in sorted(d["stages"]):
            st = stages.get(sid)
            if not st or "task_n" not in st:
                continue
            print(f"        stage {sid:>4} {st.get('n_tasks', st['task_n']):>4}t "
                  f"wall {st.get('ms', 0):>6} ms  "
                  f"task_sum {st['task_ms']:>7} ms  "
                  f"task_max {st['task_max']:>6} ms  "
                  f"{st.get('name', '')}")
    print(f"eventlog: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
