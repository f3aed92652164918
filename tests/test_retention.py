"""Storage layout + reaper tests: day-partitioned archives, partition
pruning on fetch, and O(1) partition-drop expiry."""

import os

import pytest
from pyspark.sql import functions as F

from go_whisper_spark.engine import WhisperEngine
from go_whisper_spark.model import SeriesConfig
from go_whisper_spark.retention import (
    MaterializedRollups,
    archive_path,
    reap,
    write_archives,
)

DAY = 86400
NOW = 1_700_000_000 - (1_700_000_000 % DAY)  # midnight-aligned
PTS_SCHEMA = "metric string, ts long, value double, write_seq long"


@pytest.fixture
def store(spark, tmp_path):
    cfg = SeriesConfig.from_defs("1h:2d,6h:10d", "sum", 0.0)
    eng = WhisperEngine(spark, cfg)
    rows = []
    for d in range(9):  # nine days of hourly points
        for h in range(0, 24, 2):
            ts = NOW - d * DAY + h * 3600
            if ts <= NOW:
                rows.append(("m", ts, 1.0, ts))
    eng.update_many(spark.createDataFrame(rows, PTS_SCHEMA), NOW)
    base = str(tmp_path / "store")
    write_archives(eng, base, NOW)
    return base, cfg


def test_layout_day_partitions(store):
    base, cfg = store
    for i in range(2):
        p = archive_path(base, i)
        days = [e for e in os.listdir(p) if e.startswith("day=")]
        assert days, f"archive {i} has no day partitions"
    # archive 0 keeps only 2d of data → at most 3 day dirs
    a0_days = [e for e in os.listdir(archive_path(base, 0)) if e.startswith("day=")]
    assert len(a0_days) <= 3


def test_store_fetch_routes_and_prunes(spark, store):
    base, cfg = store
    mr = MaterializedRollups(spark, base, cfg)
    res = mr.fetch(NOW - DAY, NOW, NOW, metrics=["m"])
    assert res.step == 3600
    vals = [r["value"] for r in res.frame.orderBy("interval").collect()]
    assert len(vals) == 24
    assert sum(v is not None for v in vals) == 12  # every-2h fill
    # partition filters reach the scan
    plan = res.frame._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    res2 = mr.fetch(NOW - 5 * DAY, NOW, NOW, metrics=["m"])
    assert res2.step == 6 * 3600  # routed to coarse archive


def test_reaper_drops_old_partitions(spark, store):
    base, cfg = store
    a0 = archive_path(base, 0)
    before = sorted(e for e in os.listdir(a0) if e.startswith("day="))
    # advance one day: archive 0 (2d retention) loses exactly its oldest day
    later = NOW + DAY
    removed = reap(base, cfg, later)
    assert removed and all("archive=0" in p for p in removed)
    after = sorted(e for e in os.listdir(a0) if e.startswith("day="))
    assert after == before[1:]
    # table still readable after the partition drop
    df = spark.read.parquet(a0)
    assert df.count() > 0
    assert set(str(r["day"]) for r in df.select("day").distinct().collect()) == {
        e[4:] for e in after
    }
    # archive 1 (10d retention) untouched at +1d
    a1_days = [e for e in os.listdir(archive_path(base, 1)) if e.startswith("day=")]
    assert a1_days


def test_bucketed_archives_join_without_exchange(spark, store, tmp_path):
    """Metric-bucketed archive tables join on metric with no shuffle."""
    from pyspark.sql import functions as F

    from go_whisper_spark.engine import WhisperEngine
    from go_whisper_spark.model import SeriesConfig
    from go_whisper_spark.plans.audit import explain_formatted
    from go_whisper_spark.retention import write_archives_bucketed

    cfg = SeriesConfig.from_defs("1h:2d,6h:10d", "sum", 0.0)
    eng = WhisperEngine(spark, cfg)
    rows = [("m%d" % (i % 4), NOW - i * 3600, 1.0, i) for i in range(48)]
    eng.update_many(spark.createDataFrame(rows, PTS_SCHEMA), NOW)
    names = write_archives_bucketed(eng, "t_buck", str(tmp_path / "buck"), NOW)
    try:
        a = spark.table(names[0]).groupBy("metric").agg(F.sum("value").alias("v0"))
        b = spark.table(names[1]).groupBy("metric").agg(F.sum("value").alias("v1"))
        joined = a.join(b, "metric")
        plan = explain_formatted(joined)
        # bucketed-by-metric: aggregates and join need no hash exchange
        assert "Exchange hashpartitioning(metric" not in plan
        assert joined.count() > 0
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def _tree(base):
    return sorted(
        (os.path.relpath(os.path.join(d, f), base), os.path.getmtime(os.path.join(d, f)))
        for d, _, files in os.walk(base)
        for f in files
    )


def test_incremental_rollup_matches_full_recompute(spark, tmp_path, released):
    """Incremental propagate (dynamic partition overwrite of touched
    days) must equal a full recompute over all points, at every level
    of a 3-level xff-gated cascade — where archive 1 is built from the
    persisted archive 0 and archive 2 from the persisted archive 1 —
    and must release everything it persisted."""
    from go_whisper_spark.retention import incremental_rollup

    cfg = SeriesConfig.from_defs("1h:3d,6h:10d,1d:30d", "average", 0.5)
    base = str(tmp_path / "inc")
    d2, d5 = NOW - 2 * DAY, NOW - 5 * DAY
    # Values keep every average exact, so levels compare with ==.
    # m: every 2h → 3 of 6 slots per 6h bucket (exactly at the xff gate);
    # n: every 3h → 2 of 6, gated out until batch2 adds a third slot;
    # d5: older than archive 0's 3d retention, inside archives 1 and 2.
    batch1 = (
        [("m", d2 + h * 3600, float(h), h) for h in range(0, 24, 2)]
        + [("n", d2 + h * 3600, float(h), 50 + h) for h in range(0, 24, 3)]
        + [("m", d5 + h * 3600, 1.0, 80 + h) for h in range(0, 24, 2)]
    )
    batch2 = [
        ("m", d2 + 2 * 3600, 5.0, 100),   # rewrites batch1's h=2 slot (LWW)
        ("n", d2 + 3600, 7.0, 101),       # n's first 6h bucket passes xff now
        ("m", NOW - 3600, 42.0, 102),     # current day
    ]
    df1 = spark.createDataFrame(batch1, PTS_SCHEMA)
    df2 = spark.createDataFrame(batch2, PTS_SCHEMA)

    # Static session mode: only the per-write option keeps batch2's
    # overwrite off the days it did not touch (the d5 asserts below).
    mode = "spark.sql.sources.partitionOverwriteMode"
    assert spark.conf.get(mode).upper() == "STATIC"
    with released():
        t1 = incremental_rollup(spark, base, cfg, df1, NOW)
        t2 = incremental_rollup(spark, base, cfg, df2, NOW)
    assert spark.conf.get(mode).upper() == "STATIC"
    assert sorted(t1) == sorted(t2) == [0, 1, 2]
    # batch2 touched exactly two days, at every level
    assert all(len(days) == 2 for days in t2.values())

    # full recompute reference
    eng = WhisperEngine(spark, cfg)
    eng.update_many(df1.unionByName(df2), NOW)
    ref_base = str(tmp_path / "ref")
    with released():
        write_archives(eng, ref_base, NOW)

    def levels(b):
        return [
            {
                (r["metric"], r["interval"]): r["value"]
                for r in spark.read.parquet(archive_path(b, i)).collect()
            }
            for i in range(3)
        ]

    a0, a1, a2 = levels(base)
    assert [a0, a1, a2] == levels(ref_base)
    # the rewritten slot took the later write; archive 0 kept only 3d
    assert a0[("m", d2 + 2 * 3600)] == 5.0
    assert not any(iv <= NOW - 3 * DAY for _, iv in a0)
    assert a1[("m", d2)] == (0.0 + 5.0 + 4.0) / 3
    assert a1[("n", d2)] == (0.0 + 7.0 + 3.0) / 3
    assert ("n", d2 + 6 * 3600) not in a1  # still 2 of 6 slots
    assert ("m", d5) in a1 and ("m", d5) in a2
    assert a2[("m", d2)] == (3.0 + 8.0 + 14.0 + 20.0) / 4
    assert ("n", d2) not in a2  # n: 1 of 4 6h buckets


def test_incremental_rollup_rejects_bad_step_before_writing(spark, tmp_path):
    """A step that does not divide a day raises before bronze or any
    archive is written, so a retry cannot append the batch twice."""
    from go_whisper_spark.retention import incremental_rollup

    cfg = SeriesConfig.from_defs("7s:1d", "average", 0.0)
    base = str(tmp_path / "bad")
    pts = spark.createDataFrame([("m", NOW - 70, 1.0, 1)], PTS_SCHEMA)
    with pytest.raises(ValueError, match="does not divide a day"):
        incremental_rollup(spark, base, cfg, pts, NOW)
    assert not os.path.exists(os.path.join(base, "points"))
    assert not os.path.exists(archive_path(base, 0))


def test_incremental_rollup_empty_batch_writes_nothing(spark, tmp_path, released):
    """A batch whose every point is bounds-rejected returns {} and
    neither appends to bronze nor overwrites any archive day."""
    from go_whisper_spark.retention import incremental_rollup

    cfg = SeriesConfig.from_defs("1h:3d,6h:10d", "average", 0.0)
    base = str(tmp_path / "empty")
    first = [("m", NOW - h * 3600, 1.0, h) for h in range(1, 30)]
    incremental_rollup(spark, base, cfg, spark.createDataFrame(first, PTS_SCHEMA), NOW)
    before = _tree(base)
    rejected = spark.createDataFrame(
        [("m", NOW + 3600, 5.0, 100), ("m", NOW - 11 * DAY, 5.0, 101)], PTS_SCHEMA
    )
    with released():
        assert incremental_rollup(spark, base, cfg, rejected, NOW) == {}
    assert _tree(base) == before


@pytest.fixture(scope="module")
def fetch_pair(spark, tmp_path_factory):
    """The same points behind the batch engine and a written store,
    plus the Python reference model.  The engine reads its points back
    from parquet, so no frame built on them has a Python RDD in its
    lineage."""
    from tests.whisper_model import PyWhisper

    cfg = SeriesConfig.from_defs("60s:1h,600s:1d", "average", 0.0)
    rows = [("m", NOW - 97 * k, float(k % 5), k) for k in range(1, 800)]
    points = str(tmp_path_factory.mktemp("fetch_pair_points"))
    spark.createDataFrame(rows, PTS_SCHEMA).write.parquet(points, mode="overwrite")
    eng = WhisperEngine(spark, cfg)
    eng.update_many(spark.read.parquet(points), NOW)
    base = str(tmp_path_factory.mktemp("fetch_pair"))
    write_archives(eng, base, NOW)
    model = PyWhisper(cfg)
    model.update_many(rows, NOW)
    return {"engine": eng, "store": MaterializedRollups(spark, base, cfg)}, model


@pytest.mark.parametrize("path", ["engine", "store"])
@pytest.mark.parametrize(
    "from_age,until_age",
    [
        (50, 45),                  # inside one step: zero slots
        (-100, -200),              # wholly in the future: zero slots
        (2 * DAY, 2 * DAY - 3600),  # until past maxRetention: until → now
    ],
    ids=["inside_one_step", "future", "until_past_retention"],
)
def test_fetch_degenerate_ranges_match_model(fetch_pair, path, from_age, until_age):
    """Both fetch paths share one range plan: degenerate ranges give the
    model's bounds and slots instead of a Spark sequence error."""
    fetchers, model = fetch_pair
    res = fetchers[path].fetch(NOW - from_age, NOW - until_age, NOW, ["m"])
    from_iv, until_iv, step, values = model.fetch("m", NOW - from_age, NOW - until_age, NOW)
    assert (res.from_interval, res.until_interval, res.step) == (from_iv, until_iv, step)
    got = res.points("m")
    assert [iv for iv, _ in got] == list(range(from_iv, until_iv, step))
    assert [v for _, v in got] == values


@pytest.mark.parametrize("path", ["engine", "store"])
@pytest.mark.parametrize(
    "metrics,from_age,until_age",
    [
        (["m", "absent"], 3600, 0),  # a metric list: the literal spine
        (None, 3600, 0),             # every metric: a distinct over data
        (["m"], 50, 45),             # inside one step: the zero-slot frame
    ],
    ids=["metric_list", "all_metrics", "zero_slots"],
)
def test_fetch_lineage_runs_no_python(fetch_pair, path, metrics, from_age, until_age):
    """Every fetch frame is built in the JVM: no Python RDD anywhere in
    the lineage of its executed plan, so an action starts no Python
    worker."""
    fetchers, _ = fetch_pair
    frame = fetchers[path].fetch(NOW - from_age, NOW - until_age, NOW, metrics).frame
    lineage = frame._jdf.queryExecution().executedPlan().execute().toDebugString()
    assert "PythonRDD" not in lineage


def test_declared_archive_schema_matches_written(spark, store, tmp_path):
    """Fetches read archives with the declared ``ARCHIVE_SCHEMA``
    instead of inferring it, so every level that ``write_archives`` and
    ``incremental_rollup`` write must carry exactly that schema: drift
    in a writer fails here instead of being misread.  Likewise the
    bronze points that ``incremental_rollup`` and
    ``lakehouse.incremental_rollup_tx`` append must carry exactly
    ``POINTS_SCHEMA``, which their bronze re-reads declare."""
    from pyspark.sql.types import StructType

    from go_whisper_spark.lakehouse import CommitLog, bronze_table, incremental_rollup_tx
    from go_whisper_spark.retention import ARCHIVE_SCHEMA, POINTS_SCHEMA, incremental_rollup

    declared = StructType.fromDDL(ARCHIVE_SCHEMA)
    full, cfg = store
    inc = str(tmp_path / "inc")
    batch = [("m", NOW - h * 3600, float(h), h) for h in range(30)]
    incremental_rollup(spark, inc, cfg, spark.createDataFrame(batch, PTS_SCHEMA), NOW)
    for base in (full, inc):
        for i in range(len(cfg.retentions)):
            assert spark.read.parquet(archive_path(base, i)).schema == declared, (base, i)

    points = StructType.fromDDL(POINTS_SCHEMA)
    assert spark.read.parquet(os.path.join(inc, "points")).schema == points
    tx = str(tmp_path / "tx")
    # an int write_seq: the append casts to the declared schema
    narrow = spark.createDataFrame(
        batch, "metric string, ts long, value double, write_seq int")
    incremental_rollup_tx(spark, tx, cfg, narrow, NOW)
    dirs = set(CommitLog(bronze_table(tx)).state()["partitions"].values())
    assert dirs
    for d in dirs:
        assert spark.read.parquet(d).schema == points, d
