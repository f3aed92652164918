"""The benchmark's own tests: input generators, trace arithmetic, the
offline diff, and a smoke run of each workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import diff  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from targets import COST_CLASSES, RENDER_TARGETS  # noqa: E402
from tracing import percentile_with_tail, union_seconds  # noqa: E402
from workloads import Dashboard, _parse_carbon, judge_fetch  # noqa: E402

BASE = sorted(RENDER_TARGETS.values())


def test_selftest_same_seed_identical_other_seed_differs():
    assert run.selftest() == 0


def test_variants_keep_calls_balanced_and_change_something():
    import random

    rng = random.Random(0)
    changed = 0
    for t in BASE * 3:
        v = gen.vary_target(t, rng)
        assert v.count("(") == v.count(")") and v.count("'") % 2 == 0
        changed += v != t
    assert changed > len(BASE)


def test_dashboard_blocks_have_a_fixed_mix_and_fresh_adhoc_targets():
    classes = [[RENDER_TARGETS[n] for n in c] for c in COST_CLASSES]
    assert sorted(sum(classes, [])) == BASE
    panels, blocks = gen.dashboard_plan(5, classes, 16, [RENDER_TARGETS[p] for p in Dashboard.PANELS])
    seen = set(panels)
    for b, block in enumerate(blocks):
        kinds = [k for k, _ in block]
        assert kinds.count("adhoc") == 3 and kinds.count("refresh") == 7
        refreshed = [t for k, t in block if k == "refresh"]
        assert sorted(map(refreshed.count, panels)) == [3, 4]
        reports = [q for k, q in block if k == "report"]
        assert reports == [gen.ANALYTICS_QUERIES[b % len(gen.ANALYTICS_QUERIES)]]
        for kind, what in block:
            if kind == "adhoc":
                assert what not in seen
                seen.add(what)
            elif kind == "refresh":
                assert what in panels
    assert len(seen) < 256  # below the render memo bound


def test_dashboard_seeds_render_the_same_compositions_per_block():
    classes = [[RENDER_TARGETS[n] for n in c] for c in COST_CLASSES]
    panels = [RENDER_TARGETS[p] for p in Dashboard.PANELS]
    skeleton = lambda t: re.sub(r"-?\d+|'\[[a-z]{2}\]\*'", "#", t)  # noqa: E731
    plans = [gen.dashboard_plan(seed, classes, 3, panels)[1] for seed in (1, 2)]
    for a, b in zip(*plans):
        assert a != b
        assert sorted(skeleton(t) for _, t in a) == sorted(skeleton(t) for _, t in b)


def test_carbon_plan_rewrites_are_the_only_shared_slots():
    plan = gen.carbon_plan(3, 4)
    first_file = {}
    for f, (now, lines, kinds) in enumerate(plan):
        assert len(lines) == len(kinds)
        for i, (line, kind) in enumerate(zip(lines, kinds)):
            p = _parse_carbon(line)
            if kind in ("malformed",):
                assert p is None
                continue
            assert p is not None
            if kind == "future":
                assert p[1] > now
            elif kind == "expired":
                assert now - p[1] >= gen.MAX_RETENTION
            else:
                slot = (p[0], p[1] - p[1] % 10)
                if kind.startswith("rewrite"):
                    assert slot in first_file
                    assert (first_file[slot][0] == f) == (kind == "rewrite_in_batch")
                    if kind == "rewrite_in_batch":
                        assert i > first_file[slot][1]
                    else:  # no tie under a per-file line sequence
                        assert i != first_file[slot][1]
                else:
                    assert slot not in first_file
                    first_file[slot] = (f, i)


def test_judge_fetch_holds_fetches_to_last_writer_wins():
    import pyarrow as pa

    bounds = (100, 130, 10)
    arrival = {"a": (100, 130, 10, [1.0, 2.0, None]), "b": (100, 130, 10, [5.0, 5.0, 5.0])}
    per_file = {"a": (100, 130, 10, [1.0, 1.0, None]), "b": (100, 130, 10, [5.0, 5.0, 5.0])}

    def table(a_values):
        rows = [("a", 100 + 10 * k, v) for k, v in enumerate(a_values)]
        rows += [("b", 100 + 10 * k, 5.0) for k in range(3)]
        m, iv, v = zip(*rows)
        return pa.table({"metric": list(m), "interval": list(iv), "value": list(v)})

    # Fixed ingest: the arrival-order values pass.
    assert judge_fetch(table([1.0, 2.0, None]), ["a", "b"], bounds, arrival, per_file) == ("ok", 0)
    # Today's ingest: only the per-file order matches, one slot lost.
    assert judge_fetch(table([1.0, 1.0, None]), ["a", "b"], bounds, arrival, per_file) \
        == ("known_defect", 1)
    # Matches neither model, or has other bounds: a failure.
    assert judge_fetch(table([1.0, 3.0, None]), ["a", "b"], bounds, arrival, per_file)[0] == "failed"
    assert judge_fetch(table([1.0, 2.0, None]), ["a", "b"], (100, 140, 10), arrival,
                       per_file)[0] == "failed"


def test_bounded_latencies_ignore_requests_after_the_fixed_sequence():
    fixed = [{"kind": "refresh", "seconds": 0.5, "fixed": True}] * 7 \
        + [{"kind": "adhoc", "seconds": 1.0, "fixed": True}] * 3 \
        + [{"kind": "report", "seconds": 2.0, "fixed": True}]
    extra = [{"kind": "refresh", "seconds": 0.1}] * 20 + [{"kind": "adhoc", "seconds": 0.2}] * 9
    _, _, alone = run.fixed_sequence(fixed, "refresh", "adhoc")
    _, kinds, with_extra = run.fixed_sequence(fixed + extra, "refresh", "adhoc")
    assert alone == with_extra
    assert alone["read_mean_s"] == 0.5 and alone["heavy_mean_s"] == 1.0
    assert sorted(map(len, kinds.values())) == [1, 3, 7]


def test_times_are_scaled_to_the_reference_host_speed():
    from tracing import REFERENCE_PROBE_S as ref

    raw = {"read_mean_s": 1.0, "wall_s": 10.0, "setup_s": 20.0}
    probes = {"setup": [ref, ref], "warm": [ref, ref], "timed": [2 * ref, 2 * ref, 2 * ref]}
    end, speed, setup_speed = run.at_reference_speed(raw, probes)
    # A host running the probe at half the reference speed halves the
    # timed metrics; set-up ran at the reference speed and keeps its time.
    assert (speed, setup_speed) == (0.5, 1.0)
    assert end == {"read_mean_s": 0.5, "wall_s": 5.0, "setup_s": 20.0}


def test_percentile_with_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    assert percentile_with_tail(xs) == (90, 90.0)
    assert percentile_with_tail([3, 1, 2]) == (2, 50.0)


def test_union_seconds_merges_overlaps():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4


def _result(tmp, name, workload, values):
    with open(os.path.join(tmp, name), "w") as fh:
        json.dump({"workload": workload,
                   "metrics": {"wall_s": {"value": values, "unit": "s"}}}, fh)


def test_diff_verdicts(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    for i, (x, y) in enumerate(zip([10, 10.1, 9.9, 10, 10.2], [12, 12.1, 11.9, 12, 12.2])):
        _result(a, f"{i}.json", "w", x)
        _result(b, f"{i}.json", "w", y)
    spec = tmp_path / "BENCHMARK.json"
    spec.write_text(json.dumps({"end_to_end": [
        {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1}]}))
    rows = diff.diff(str(a), str(b), str(spec))
    assert rows[0]["verdict"] == "worse" and rows[0]["a"]["n"] == 5
    assert diff.diff(str(b), str(a), str(spec))[0]["verdict"] == "better"
    assert diff.verdict([1, 2, 3, 4], [1, 2, 3, 4], "lower", 0.1) == "unresolved"


def test_diff_reports_tracing_overhead(tmp_path, capsys):
    for i, (trace, p50) in enumerate([(0, 1.0), (0, 1.2), (1, 1.3)]):
        (tmp_path / f"{i}.json").write_text(json.dumps({
            "workload": "w", "trace": trace, "metrics": {},
            "unbounded": {"request_p50_s": [p50, "s"]}}))
    diff.print_trace_overhead(str(tmp_path), str(tmp_path))
    out = capsys.readouterr().out
    assert "tracing overhead w A: +0.2 s (1 traced, 2 untraced runs)" in out


def test_benchmark_json_names_every_metric_the_run_emits():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"dashboard", "ingest_fetch"}


@pytest.mark.parametrize("workload", ["dashboard", "ingest_fetch"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] > 0 and result["failed"] == 0
    names = run.PER_LAYER if trace else run.END_TO_END
    assert set(result["metrics"]) == set(names)
