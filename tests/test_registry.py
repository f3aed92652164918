"""Registry-rotation rule for ``__spark_entry__``.

Each verification round checks only the first 50 entries of
``queries()``, so ``__spark_entry__`` orders the registry from the committed
``CORRECTNESS_r<N>.json`` records: never checked first, then a red
most-recent check, then the oldest most-recent check, with module
registration order breaking ties.  The rule is pinned on fake records
first, then on the committed ones: oldest evidence first, nothing
re-checked early.
"""

import json

import pytest

import __spark_entry__ as entry

WINDOW = 50
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "err": None}


def _red(**bad) -> dict:
    return {**GREEN, **bad}


def test_rule_never_checked_then_red_then_oldest():
    names = ["old", "new", "red_old", "recent", "red_recent", "older"]
    records = {
        3: {"older": GREEN, "red_recent": GREEN},
        5: {"old": GREEN, "red_old": _red(hash_match=False)},
        7: {"recent": GREEN, "red_recent": _red(err="boom")},
    }
    assert entry.rotation_order(names, records) == [
        "new", "red_old", "red_recent", "older", "old", "recent"]


def test_rule_ties_keep_registration_order():
    names = ["c", "a", "d", "b"]
    records = {1: {"b": GREEN, "a": GREEN}, 2: {"d": GREEN}}
    assert entry.rotation_order(names, records) == ["c", "a", "b", "d"]


@pytest.mark.parametrize("bad", [
    {"rows_match": False}, {"schema_match": False},
    {"hash_match": False}, {"err": "Py4JJavaError"},
])
def test_rule_any_failed_field_counts_red(bad):
    records = {1: {"a": GREEN}, 2: {"b": _red(**bad)}}
    assert entry.rotation_order(["a", "b"], records) == ["b", "a"]


def test_rule_later_green_clears_red():
    # keys out of order: the rule must replay rounds by number
    records = {2: {"a": GREEN}, 1: {"a": _red(hash_match=False), "b": GREEN}}
    assert entry.rotation_order(["a", "b"], records) == ["b", "a"]


def test_records_sort_rounds_numerically(tmp_path):
    # r9 red then r10 green: a lexical sort would replay r9 last
    (tmp_path / "CORRECTNESS_r9.json").write_text(
        json.dumps({"a": _red(rows_match=False)}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"a": GREEN}))
    (tmp_path / "CORRECTNESS_r10_c8.json").write_text(json.dumps({"x": GREEN}))
    records = entry.load_records(str(tmp_path))
    assert sorted(records) == [9, 10]
    assert entry.rotation_order(["a", "b"], records) == ["b", "a"]


def test_no_records_gives_module_order(tmp_path):
    names = ["z", "y", "x"]
    assert entry.load_records(str(tmp_path)) == {}
    assert entry.rotation_order(names, {}) == names


# --- the committed records


@pytest.fixture(scope="module")
def registry():
    return entry._registry()


@pytest.fixture(scope="module")
def records():
    recs = entry.load_records()
    if not recs:
        pytest.skip("no CORRECTNESS records committed")
    return recs


def _last_checks(records) -> dict:
    last = {}
    for rnd in sorted(records):
        for name, check in records[rnd].items():
            last[name] = (rnd, entry._green(check))
    return last


def test_registry_order_no_duplicates_and_total(registry):
    from go_whisper_spark.operators import (
        graphite_funcs, llm_ops, multimodal, relational, streaming_queries,
        whisper_queries)

    registered = set()
    for mod in (whisper_queries, relational, llm_ops, multimodal,
                graphite_funcs, streaming_queries):
        registered |= set(mod.QUERIES)
    queries, oracles = registry
    names = list(queries)
    assert len(names) == len(set(names))
    assert set(names) == registered
    assert set(oracles) <= set(queries)


def test_checked_cohorts_are_registered(registry, records):
    """Every recorded name still resolves to a query (catches renames:
    a renamed query would lose its evidence and jump the queue)."""
    queries, _ = registry
    for rnd, rec in records.items():
        missing = sorted(set(rec) - set(queries))
        assert not missing, f"round {rnd} names not in registry: {missing}"


def test_window_skips_latest_greens(registry, records):
    latest = records[max(records)]
    greens = {n for n, c in latest.items() if entry._green(c)}
    window = list(registry[0])[:WINDOW]
    assert not set(window) & greens


def test_window_holds_oldest_evidence(registry, records):
    last = _last_checks(records)
    names = list(registry[0])

    def age(name):  # never checked counts as oldest
        return last.get(name, (0, True))[0]

    inside = [n for n in names[:WINDOW] if last.get(n, (0, True))[1]]
    outside = names[WINDOW:]
    assert max(map(age, inside)) <= min(map(age, outside))
