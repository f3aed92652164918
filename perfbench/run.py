"""The repository benchmark: seeded, closed-loop, single-client workloads
over the engine's public calls (see perfbench/NOTES.md).

Run one workload:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

prints every metric by name with its unit and the output checks, and as
its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.  Each run also
writes a result record (and, traced, its spans) under
``perfbench/results/``.

Other modes (no Spark session):

    python3 perfbench/run.py --diff A B     # compare two sets of results
    python3 perfbench/run.py --selftest     # generator determinism check

``--smoke`` shrinks every workload (sf0.01 data, two report queries, a
few requests) for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SETUP_REPS = 3

END_TO_END = {
    "read_mean_s": "s", "heavy_mean_s": "s", "wall_s": "s", "setup_s": "s",
}
PER_LAYER = {
    "render.build_s": "s", "render.miss_build_s": "s", "render.memo_hit_ratio": "ratio",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "retention.rollup_s": "s", "retention.rollup_jobs": "count",
    "retention.rows_read_per_point": "rows/point",
    "retention.bytes_written_per_point": "B", "retention.files_written": "count",
    "retention.fetch_build_s": "s", "retention.reap_s": "s",
    "retention.partitions_reaped": "count",
    "retention.ingest_points_per_s": "points/s",
    "retention.store_bytes_per_point": "B",
    "spark.jobs": "count", "spark.in_job_s": "s", "spark.gap_s": "s",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B", "spark.spill_bytes": "B", "spark.failed_tasks": "count",
    "trace.request_p50_s": "s",
}


def _host():
    """nproc, usable cpus, load average and the cumulative CPU ticks
    (``/proc/stat``: user, nice, system, idle, iowait, irq, softirq,
    steal), so two records give the steal share in between."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return {"nproc": os.cpu_count(), "cpus": len(os.sched_getaffinity(0)),
            "loadavg": load, "cpu_ticks": ticks}


def _steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    run times here grew by 2-4% per 1% of steal."""
    d = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return d[7] / max(1, sum(d))


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and put the repository on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")


def _start_spark():
    from go_whisper_spark.session import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants() -> list:
    """(pid, command name) of every process below this one."""
    children = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                comm, fields = fh.read().rsplit(")", 1)
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        children.setdefault(int(fields.split()[1]), []).append((pid, comm.split("(", 1)[1]))
    out, todo = [], [os.getpid()]
    while todo:
        for pid, comm in children.get(todo.pop(), []):
            todo.append(pid)
            out.append((pid, comm))
    return out


def _stop_jvm() -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    started = [pid for pid, _ in _descendants()]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in started:
        while _running(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _running(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True until ``pid`` has exited (a zombie counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM."""
    pids = [os.getpid()] + [pid for pid, comm in _descendants() if comm == "java"]
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
        except (OSError, StopIteration):
            pass
    return kb / 1024.0


def _smoke(wl_cls) -> None:
    """Shrink a workload for the benchmark's own tests."""
    import gen

    gen.ANALYTICS_QUERIES[:] = ["w_lww_1h", "r_q5_nation_rev"]
    wl_cls.SF_EVENTS = 0.01
    wl_cls.N_BLOCKS = wl_cls.WALL_BLOCKS = 1
    wl_cls.N_FILES, wl_cls.WALL_STEPS = 3, 1


def fixed_sequence(requests, read_kind: str, heavy_kind: str):
    """(latencies, per-kind latencies, latency metrics) of the requests
    marked ``fixed``.  The requests sent after the fixed sequence are
    recorded but change no metric here, so how many fit in ``--seconds``
    never changes the mix these metrics see."""
    from tracing import percentile_with_tail

    fixed = [r for r in requests if r.get("fixed")]
    lat = [r["seconds"] for r in fixed]
    kinds = {}
    for r in fixed:
        kinds.setdefault(r["kind"], []).append(r["seconds"])
    return lat, kinds, {
        "read_mean_s": statistics.mean(kinds[read_kind]),
        "heavy_mean_s": statistics.mean(kinds[heavy_kind]),
        "request_p50_s": statistics.median(lat),
        "request_tail_s": percentile_with_tail(lat),
    }


def at_reference_speed(raw: dict, probes: dict):
    """(times, speed, set-up speed): the end-to-end times ``raw`` as they
    would read on the host at ``tracing.REFERENCE_PROBE_S``.  Each time
    is scaled by the reference over the mean probe of its phase: the
    timed phase for the request metrics, set-up and warm-up for
    ``setup_s`` (see NOTES.md, "Host speed")."""
    from tracing import REFERENCE_PROBE_S

    speed = REFERENCE_PROBE_S / statistics.mean(probes["timed"])
    setup_speed = REFERENCE_PROBE_S / statistics.mean(probes["setup"] + probes["warm"])
    return ({k: v * (setup_speed if k == "setup_s" else speed) for k, v in raw.items()},
            speed, setup_speed)


def run(args) -> int:
    # Fail before any work when the program is not there.
    import __spark_entry__  # noqa: F401
    import go_whisper_spark  # noqa: F401
    from tracing import Recorder, probe, spark_layer
    from workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    if args.smoke:
        _smoke(wl_cls)
    host = _host()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    _isolate(work)
    try:
        # Set-up: session start (the first also launches the JVM) and
        # input generation, several times; then the warm-up requests once.
        setups, setup_probes, spark, wl = [], [], None, None
        for k in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
                shutil.rmtree(os.path.join(work, f"rep{k - 1}"), ignore_errors=True)
            setup_probes += [probe() for _ in range(3)]
            t0 = time.perf_counter()
            spark = _start_spark()
            wl = wl_cls()
            wl.prepare(args.seed, os.path.join(work, f"rep{k}"))
            setups.append(time.perf_counter() - t0)
        pre = Recorder(spark, False)
        t0 = time.perf_counter()
        wl.warm(spark, pre)
        warm_s = time.perf_counter() - t0 - pre.probe_seconds()
        broken = [r["id"] for r in pre.requests if not r["ok"]]
        if broken:
            raise RuntimeError(f"warm-up requests failed: {broken}")

        rec = Recorder(spark, args.trace == 1)
        t0 = time.perf_counter()
        wall = wl.run(rec, args.seconds)
        timed_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        checks = wl.check()
        check_s = time.perf_counter() - t0

        lat, kinds, latency = fixed_sequence(rec.requests, wl.READ_KIND, wl.HEAVY_KIND)
        failed = sum(1 for r in rec.requests if not r["ok"] or wl.wrong(r))
        attempted = len(rec.requests)
        raw = {"read_mean_s": latency["read_mean_s"], "heavy_mean_s": latency["heavy_mean_s"],
               "wall_s": wall, "setup_s": statistics.median(setups) + warm_s}
        probes = {"setup": setup_probes, "warm": pre.probes, "timed": rec.probes}
        end, speed, setup_speed = at_reference_speed(raw, probes)
        tail, tail_pct = latency["request_tail_s"]
        extra = wl.end_metrics(rec) if hasattr(wl, "end_metrics") else {}
        # End-to-end metrics without a bound: printed and recorded, but
        # not in BENCHMARK.json (see NOTES.md, "Metrics").
        unbounded = {"request_p50_s": (latency["request_p50_s"] * speed, "s"),
                     "request_tail_s": (tail * speed, "s"),
                     "failed_ratio": (failed / attempted, "ratio"),
                     "peak_rss_mb": (_peak_rss_mb(), "MB"), **extra,
                     "host_speed": (speed, "ratio"), "setup_host_speed": (setup_speed, "ratio"),
                     **{f"raw_{k}": (v, "s") for k, v in raw.items()}}
        if args.trace:
            layer = dict.fromkeys(PER_LAYER, 0.0)
            layer.update(spark_layer(rec))
            layer.update(wl.per_layer(rec))
            layer.update({f"retention.{k}": v for k, (v, _) in extra.items()})
            layer["trace.request_p50_s"] = latency["request_p50_s"] * speed
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": end[k], "unit": u} for k, u in END_TO_END.items()}

        end_host = _host()
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke,
            "host": {"start": host, "end": end_host,
                     "steal_share": _steal_share(host, end_host)},
            "metrics": metrics,
            "end_to_end": end, "unbounded": unbounded,
            "request_tail_percentile": tail_pct,
            "requests": attempted, "fixed_requests": len(lat), "timed_phase_s": timed_s,
            "check_s": check_s, "run_wall_s": time.perf_counter() - START,
            "setup_samples": setups, "warm_s": warm_s, "probes_s": probes,
            "latencies_s": lat,
            "after_fixed_latencies_s": [r["seconds"] for r in rec.requests
                                        if not r.get("fixed")],
            "per_kind_p50_s": {k: statistics.median(v) for k, v in kinds.items()},
            "per_kind_n": {k: len(v) for k, v in kinds.items()},
            "warm_requests_s": {r["id"]: r["seconds"] for r in pre.requests},
            "checks": checks,
        }
        if args.trace:
            untraced = _latest_untraced(results, args.workload, args.smoke)
            detail["trace_overhead_p50_s"] = (
                latency["request_p50_s"] - untraced if untraced is not None else None)
        stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-"
                            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
        with open(stem + ".json", "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        if args.trace:
            rec.dump(stem + ".spans.json", {"workload": args.workload, "seed": args.seed})
    finally:
        t0 = time.perf_counter()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        print(f"stopped in {time.perf_counter() - t0:.2f} s; "
              f"process {time.perf_counter() - START:.2f} s", file=sys.stderr)

    for name, m in metrics.items():
        print(f"{name:<36} {m['value']:>16.6g} {m['unit']}")
    for name, (value, unit) in unbounded.items():
        print(f"{name:<36} {value:>16.6g} {unit} (no bound)")
    if args.trace:
        overhead = detail["trace_overhead_p50_s"]
        print("tracing overhead (traced - untraced request_p50_s): "
              + (f"{overhead:.6g} s" if overhead is not None else "no untraced result yet"))
    print(f"requests {attempted} ({len(lat)} in the fixed sequence)  failed {failed}  "
          f"request_tail_s = p{tail_pct} of n={len(lat)}  "
          f"cpu steal {detail['host']['steal_share']:.3f}  "
          f"checks {json.dumps(checks, default=str)}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def _latest_untraced(results: str, workload: str, smoke: bool):
    best = None
    for f in glob.glob(os.path.join(results, f"{workload}-s*-t0-*.json")):
        with open(f) as fh:
            try:
                rec = json.load(fh)
            except ValueError:
                continue
        if rec.get("smoke") == smoke and (best is None or f > best[0]):
            best = (f, rec["unbounded"]["request_p50_s"][0])
    return best[1] if best else None


def selftest() -> int:
    """Same seed → byte-identical inputs; another seed → different."""
    import hashlib
    import tempfile

    import gen
    from targets import COST_CLASSES, RENDER_TARGETS
    from workloads import Dashboard

    def digest(seed):
        h = hashlib.sha256()
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            for p in gen.write_spool(gen.carbon_plan(seed, 3), os.path.join(d, "spool")):
                h.update(open(p, "rb").read())
            gen.write_tables(seed, 0.01, os.path.join(d, "sf"))
            for name in gen.TABLES:
                h.update(open(os.path.join(d, "sf", f"{name}.parquet"), "rb").read())
        h.update(repr(gen.dashboard_plan(
            seed, [[RENDER_TARGETS[n] for n in c] for c in COST_CLASSES], 3,
            [RENDER_TARGETS[n] for n in Dashboard.PANELS])).encode())
        h.update(repr(gen.fetch_plan(seed, 3)).encode())
        return h.hexdigest()

    a, b, c = digest(1), digest(1), digest(2)
    ok = a == b and a != c
    print(json.dumps({"same_seed_identical": a == b, "other_seed_differs": a != c}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["dashboard", "ingest_fetch"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if args.diff:
        import diff
        diff.print_rows(diff.diff(*args.diff, os.path.join(ROOT, "BENCHMARK.json")))
        diff.print_pooled_tails(*args.diff)
        diff.print_trace_overhead(*args.diff)
        return 0
    if args.selftest:
        return selftest()
    if not args.workload:
        ap.error("--workload is required")
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
