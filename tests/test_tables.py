"""``sources.tables.load_table`` reads with a schema memo keyed by the
table's file layout: an unchanged table is read without the footer
inference job, and a rewritten or grown table is inferred again."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from go_whisper_spark.sources.tables import NANOS_CONF, load_table


def test_second_load_of_unchanged_file_starts_no_job(spark, tmp_path, jobs_started):
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
                   str(tmp_path / "region.parquet"))
    first = load_table(spark, str(tmp_path), "region")
    with jobs_started() as jobs:
        again = load_table(spark, str(tmp_path), "region")
    assert jobs == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({"n_nationkey": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    pq.write_table(pa.table({"n_name": ["x", "y", "z"], "n_weight": [0.5, 1.5, 2.5]}), path)
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_name", "n_weight"]
    assert sorted((r.n_name, r.n_weight) for r in df.collect()) == [
        ("x", 0.5), ("y", 1.5), ("z", 2.5)]


def test_directory_table_that_gains_a_file_is_inferred_again(spark, tmp_path, jobs_started):
    table = tmp_path / "orders.parquet"
    os.makedirs(table)
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), str(table / "part-0.parquet"))
    assert load_table(spark, str(tmp_path), "orders").count() == 2
    pq.write_table(pa.table({"o_orderkey": [3]}), str(table / "part-1.parquet"))
    with jobs_started() as jobs:
        df = load_table(spark, str(tmp_path), "orders")
    assert jobs, "a grown directory must be inferred again"
    assert sorted(r.o_orderkey for r in df.collect()) == [1, 2, 3]


def test_nanos_events_branch_is_picked_from_the_memoized_schema(spark, tmp_path, jobs_started):
    """An events table stored as TIMESTAMP(NANOS) is read as long
    nanoseconds and normalized, on the inferring read and on the memo
    hit alike."""
    ts_ns = [1_700_000_000_123_456_789, 1_700_000_060_000_000_001]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "event_type": ["click", "view"],
        "value": [1.5, 2.5],
    }), str(tmp_path / "events.parquet"))
    load_table(spark, str(tmp_path), "events")
    with jobs_started() as jobs:
        df = load_table(spark, str(tmp_path), "events")
    assert jobs == []
    rows = sorted(df.select("ts_ns", "ts_sec").collect())
    assert [(r.ts_ns, r.ts_sec) for r in rows] == [(t, t // 10**9) for t in ts_ns]
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_memo_hit_survives_the_events_conf(spark, tmp_path, jobs_started):
    """Loading events sets ``nanosAsLong`` for the session; a table
    inferred before that is still a memo hit after it."""
    pq.write_table(pa.table({"l_orderkey": [1, 2]}), str(tmp_path / "lineitem.parquet"))
    pq.write_table(pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
    }), str(tmp_path / "events.parquet"))
    prev = spark.conf.get(NANOS_CONF, "false")
    spark.conf.set(NANOS_CONF, "false")  # as in a fresh session
    counts = []
    try:
        for name in ("lineitem", "events", "lineitem"):
            with jobs_started() as jobs:
                load_table(spark, str(tmp_path), name)
            counts.append(len(jobs))
    finally:
        spark.conf.set(NANOS_CONF, prev)
    assert counts == [1, 1, 0]
