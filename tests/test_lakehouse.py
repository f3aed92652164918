"""Commit-log lakehouse layer: atomic optimistic commits, snapshot
reads, conflict detection, and concurrent rollup writers — the tests
that retire the "single-writer incremental_rollup" known limit."""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from go_whisper_spark.engine import WhisperEngine
from go_whisper_spark.lakehouse import (
    CommitLog,
    ConflictError,
    CoordinationClaimer,
    commit_rollup_days,
    incremental_rollup_tx,
    read_table,
    stage_dir,
    table_path,
    vacuum,
)
from go_whisper_spark.model import SeriesConfig

DAY = 86400
NOW = 1_700_000_000 - (1_700_000_000 % DAY)
PTS_SCHEMA = "metric string, ts long, value double, write_seq long"


# ------------------------------------------------------------ log core
def test_commit_log_replay(tmp_path):
    log = CommitLog(str(tmp_path / "t"))
    assert log.state() == {"version": -1, "partitions": {},
                           "watermark": {}, "schema": [], "bloom": {},
                           "stats": {}}
    v1 = log.commit(-1, {"day=2023-11-01": "/d/a"}, {"max_ts": 10})
    v2 = log.commit(v1, {"day=2023-11-02": "/d/b"}, {"max_ts": 20})
    v3 = log.commit(v2, {"day=2023-11-01": "/d/c"})  # supersedes /d/a
    st = log.state()
    assert (v1, v2, v3) == (0, 1, 2)
    assert st["version"] == 2
    assert st["partitions"] == {"day=2023-11-01": "/d/c", "day=2023-11-02": "/d/b"}
    assert st["watermark"] == {"max_ts": 20}


def _make_log(tmp_path, claimer_kind):
    """One CommitLog per racing writer, SHARING the claimer the way
    real writers share the store primitive / coordination service."""
    if claimer_kind == "posix":
        return lambda: CommitLog(str(tmp_path / "t"))
    shared = CoordinationClaimer()
    return lambda: CommitLog(str(tmp_path / "t"), claimer=shared)


@pytest.mark.parametrize("claimer_kind", ["posix", "coordination"])
def test_commit_version_claim_is_exclusive(tmp_path, claimer_kind):
    mk = _make_log(tmp_path, claimer_kind)
    log, log2 = mk(), mk()
    assert log.try_commit(0, {"replace": {"p": "/x"}})
    assert not log2.try_commit(0, {"replace": {"q": "/y"}})
    # the losing payload must not have clobbered the winner
    assert log.read_commit(0) == {"replace": {"p": "/x"}}


def test_coordination_claimer_covers_preexisting_slot(tmp_path):
    """A coordination service brought up over a log that already has
    committed versions (process restart) must refuse those slots."""
    log = CommitLog(str(tmp_path / "t"))  # posix claim
    assert log.try_commit(0, {"replace": {"p": "/x"}})
    fresh = CommitLog(str(tmp_path / "t"), claimer=CoordinationClaimer())
    assert not fresh.try_commit(0, {"replace": {"q": "/y"}})
    assert fresh.try_commit(1, {"replace": {"q": "/y"}})
    assert log.read_commit(0) == {"replace": {"p": "/x"}}


def test_disjoint_interleave_retries_conflict_raises(tmp_path):
    log = CommitLog(str(tmp_path / "t"))
    base = log.commit(-1, {"day=1": "/d/one"})
    # Writer A snapshots at `base`; writer B lands day=2 meanwhile.
    log.commit(base, {"day=2": "/d/two"})
    # A replaces day=1 only → disjoint from B's commit → lands at v2.
    v = log.commit(base, {"day=1": "/d/one-v2"})
    assert v == 2
    # Writer C snapshots at `base` too, but targets day=2 → stale.
    with pytest.raises(ConflictError):
        log.commit(base, {"day=2": "/d/two-stale"})


@pytest.mark.parametrize("claimer_kind", ["posix", "coordination"])
def test_threaded_disjoint_writers_all_land(tmp_path, claimer_kind):
    """N racing threads on N distinct partitions: every commit lands,
    versions are contiguous, no partition is lost — under BOTH claim
    primitives (POSIX link and the coordination-service shape)."""
    mk = _make_log(tmp_path, claimer_kind)
    log = mk()
    errors = []

    def writer(i):
        try:
            mk().commit(-1, {f"day=d{i}": f"/data/{i}"})
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    st = log.state()
    assert st["version"] == 7
    assert len(st["partitions"]) == 8
    assert log.versions() == list(range(8))


# ------------------------------------------------------- spark tables
def test_commit_rollup_days_snapshot_swap(spark, tmp_path):
    table = str(tmp_path / "lake")
    df1 = spark.createDataFrame([("m", 1, 1.0)], "metric string, interval long, value double")
    v1 = commit_rollup_days(spark, table, {"2023-11-01": df1})
    assert read_table(spark, table).count() == 1

    # Replacing the same day swaps the manifest pointer; the old data
    # dir still exists (never mutated) but is no longer referenced.
    df2 = spark.createDataFrame(
        [("m", 1, 2.0), ("m", 2, 3.0)], "metric string, interval long, value double"
    )
    log = CommitLog(table)
    old_dir = log.state()["partitions"]["day=2023-11-01"]
    commit_rollup_days(spark, table, {"2023-11-01": df2})
    out = read_table(spark, table)
    assert out.count() == 2
    assert out.agg(F.sum("value")).first()[0] == 5.0
    assert os.path.isdir(old_dir)  # immutable history, vacuumable later


def test_incremental_rollup_tx_two_writers(spark, tmp_path):
    """The lost-update scenario that breaks plain incremental_rollup:
    two rollup jobs over the SAME day.  With the commit log, both
    publish, the later one recomputes on top of the earlier one's
    bronze append, and the final table contains BOTH batches' points."""
    cfg = SeriesConfig.from_defs("1h:2d", "sum", 0.0)
    base = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [("m", NOW - 3600 * h, 1.0, h) for h in range(1, 5)], PTS_SCHEMA
    )
    b2 = spark.createDataFrame(
        [("m", NOW - 3600 * h, 10.0, 100 + h) for h in range(5, 9)], PTS_SCHEMA
    )
    incremental_rollup_tx(spark, base, cfg, b1, NOW)
    incremental_rollup_tx(spark, base, cfg, b2, NOW)

    out = read_table(spark, table_path(base, 0))
    # all 8 hourly slots present across both batches
    assert out.count() == 8
    assert out.agg(F.sum("value")).first()[0] == pytest.approx(4 * 1.0 + 4 * 10.0)
    # watermark advanced to the max accepted ts of the later batch
    st = CommitLog(table_path(base, 0)).state()
    assert st["watermark"]["level_0_max_ts"] == NOW - 3600 * 5


def test_same_day_conflict_recomputes_not_lost(spark, tmp_path):
    """Simulate the interleave explicitly at the commit-log level: a
    writer holding a stale snapshot of a day must get ConflictError,
    and the recompute path (what incremental_rollup_tx does on
    ConflictError) then sees the other writer's data."""
    table = str(tmp_path / "lake")
    df_a = spark.createDataFrame([("m", 1, 1.0)], "metric string, interval long, value double")
    df_b = spark.createDataFrame([("m", 2, 2.0)], "metric string, interval long, value double")
    log = CommitLog(table)
    base_version = log.state()["version"]

    # writer B wins the race on day X
    commit_rollup_days(spark, table, {"2023-11-01": df_b})
    # writer A, snapshotted before B, tries to publish the same day
    d = stage_dir(table)
    df_a.write.mode("overwrite").parquet(d)
    with pytest.raises(ConflictError):
        log.commit(base_version, {"day=2023-11-01": d})
    # recompute on the NEW snapshot succeeds and supersedes B
    st = log.state()
    log.commit(st["version"], {"day=2023-11-01": d})
    assert read_table(spark, table).agg(F.sum("value")).first()[0] == 1.0


def test_checkpoint_compacts_replay(tmp_path):
    log = CommitLog(str(tmp_path / "t"))
    for i in range(5):
        log.commit(i - 1, {f"day=d{i}": f"/data/{i}"}, {"w": i})
    cp = log.checkpoint()
    assert cp == 4
    # more commits after the checkpoint replay on top of it
    log.commit(4, {"day=d1": "/data/1b"})
    st = log.state()
    assert st["version"] == 5
    assert st["partitions"]["day=d1"] == "/data/1b"
    assert st["partitions"]["day=d0"] == "/data/0"
    assert st["watermark"] == {"w": 4}
    # idempotent: re-checkpointing at a new version also works
    assert log.checkpoint() == 5
    assert log.state()["partitions"]["day=d1"] == "/data/1b"


def test_time_travel_state_resolution(tmp_path):
    log = CommitLog(str(tmp_path / "t"))
    for i in range(5):
        log.commit(i - 1, {f"day=d{i}": f"/data/{i}", "day=d0": f"/v{i}"},
                   {"w": i})
    # Pinned replay stops at the requested version.
    st2 = log.state(at_version=2)
    assert st2["version"] == 2
    assert st2["partitions"]["day=d0"] == "/v2"
    assert "day=d3" not in st2["partitions"]
    assert st2["watermark"] == {"w": 2}
    # A checkpoint AFTER the pinned version must not leak into it.
    log.checkpoint()
    st2b = log.state(at_version=2)
    assert st2b == st2
    # A checkpoint at-or-before the pin is used as the replay base.
    st4 = log.state(at_version=4)
    assert st4["partitions"]["day=d0"] == "/v4" and st4["version"] == 4
    with pytest.raises(ValueError):
        log.state(at_version=99)


def test_time_travel_read(spark, tmp_path):
    table = str(tmp_path / "lake")
    df1 = spark.createDataFrame(
        [("m", 1, 1.0)], "metric string, interval long, value double"
    )
    v1 = commit_rollup_days(spark, table, {"2023-11-01": df1})
    df2 = spark.createDataFrame(
        [("m", 1, 2.0), ("m", 2, 3.0)], "metric string, interval long, value double"
    )
    v2 = commit_rollup_days(spark, table, {"2023-11-01": df2})
    # Head sees the replacement; the pinned read reproduces v1 exactly
    # (the superseded dir is immutable until vacuum).
    assert read_table(spark, table).count() == 2
    old = read_table(spark, table, version=v1)
    assert old.count() == 1 and old.first()["value"] == 1.0
    assert read_table(spark, table, version=v2).count() == 2


def test_checkpoint_state_equals_full_replay(tmp_path):
    """The compacted read must equal the pure-replay read."""
    a, b = CommitLog(str(tmp_path / "a")), CommitLog(str(tmp_path / "b"))
    seq = [
        ({"day=1": "/x1"}, {"w": 1}),
        ({"day=2": "/x2"}, None),
        ({"day=1": "/x1b", "day=3": "/x3"}, {"w": 3}),
    ]
    for i, (rep, wm) in enumerate(seq):
        a.commit(i - 1, rep, wm)
        b.commit(i - 1, rep, wm)
        a.checkpoint()  # checkpoint after EVERY commit on a
    sa, sb = a.state(), b.state()
    assert sa["partitions"] == sb["partitions"]
    assert sa["watermark"] == sb["watermark"]
    assert sa["version"] == sb["version"]


def test_vacuum_removes_only_old_unreferenced(spark, tmp_path):
    table = str(tmp_path / "lake")
    df = spark.createDataFrame([("m", 1, 1.0)], "metric string, interval long, value double")
    commit_rollup_days(spark, table, {"2023-11-01": df})
    log = CommitLog(table)
    live_dir = log.state()["partitions"]["day=2023-11-01"]

    # orphan: staged but never committed (conflicted/crashed writer)
    orphan = stage_dir(table)
    df.write.mode("overwrite").parquet(orphan)

    # young orphan survives the retention gate
    assert vacuum(table, min_age_seconds=3600) == []
    assert os.path.isdir(orphan)
    # aged orphan is collected; the referenced dir never is
    os.utime(orphan, (1, 1))
    removed = vacuum(table, min_age_seconds=3600)
    assert removed == [orphan]
    assert not os.path.isdir(orphan)
    assert os.path.isdir(live_dir)
    assert read_table(spark, table).count() == 1


def test_vacuum_collects_superseded_partition(spark, tmp_path):
    table = str(tmp_path / "lake")
    df1 = spark.createDataFrame([("m", 1, 1.0)], "metric string, interval long, value double")
    df2 = spark.createDataFrame([("m", 1, 2.0)], "metric string, interval long, value double")
    commit_rollup_days(spark, table, {"2023-11-01": df1})
    old_dir = CommitLog(table).state()["partitions"]["day=2023-11-01"]
    commit_rollup_days(spark, table, {"2023-11-01": df2})
    os.utime(old_dir, (1, 1))
    assert old_dir in vacuum(table, min_age_seconds=3600)
    assert read_table(spark, table).first()["value"] == 2.0


def test_commit_files_are_valid_json(tmp_path):
    log = CommitLog(str(tmp_path / "t"))
    log.commit(-1, {"day=1": "/d"}, {"w": 1})
    p = os.path.join(str(tmp_path / "t"), "_commits", f"{0:011d}.json")
    with open(p) as fh:
        assert json.load(fh) == {"replace": {"day=1": "/d"}, "watermark": {"w": 1}}


def test_fully_rejected_batch_is_a_noop(spark, tmp_path):
    """A batch whose every point is bounds-rejected (future ts or past
    maxRetention) must return {} and leave no commit — whisper's
    out-of-window Update no-op, not a crash on the NULL watermark."""
    cfg = SeriesConfig.from_defs("1h:2d", "sum", 0.0)
    base = str(tmp_path / "store")
    rejected = spark.createDataFrame(
        [("m", NOW + 9999, 1.0, 1), ("m", NOW - 10 * 86400, 2.0, 2)],
        PTS_SCHEMA,
    )
    assert incremental_rollup_tx(spark, base, cfg, rejected, NOW) == {}
    assert CommitLog(table_path(base, 0)).versions() == []


def test_commit_rollup_days_respects_caller_snapshot(spark, tmp_path):
    """commit_rollup_days must base the commit on the CALLER's read
    snapshot when given one: a same-day commit landing after that
    snapshot (even before this call starts) must raise ConflictError
    instead of silently superseding the racer (ADVICE r9, high)."""
    table = str(tmp_path / "lake")
    sch = "metric string, interval long, value double"
    df_a = spark.createDataFrame([("m", 1, 1.0)], sch)
    df_b = spark.createDataFrame([("m", 2, 2.0)], sch)
    log = CommitLog(table)
    base_version = log.state()["version"]  # A's read snapshot (-1)
    commit_rollup_days(spark, table, {"2023-11-01": df_b})  # racer B
    with pytest.raises(ConflictError):
        commit_rollup_days(
            spark, table, {"2023-11-01": df_a}, base_version=base_version
        )
    # B's data survived; A never published its stale frame.
    assert read_table(spark, table).agg(F.sum("value")).first()[0] == 2.0


def test_rollup_tx_lost_update_window_closed(spark, tmp_path):
    """The ADVICE-r9 lost-update interleave, forced deterministically:
    writer A reads bronze and recomputes, then racer B appends bronze
    AND commits the SAME day, then A publishes.  A's base version is
    snapshotted BEFORE its bronze read, so B's commit overlaps A's
    attempt, A gets ConflictError and recomputes from the bronze that
    now includes B's points.  Pre-fix (base resolved inside
    commit_rollup_days, after B landed) A's stale b1-only frame
    published cleanly and silently dropped B's points."""
    import go_whisper_spark.lakehouse as lh

    cfg = SeriesConfig.from_defs("1h:2d", "sum", 0.0)
    base = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [("m", NOW - 3600 * h, 1.0, h) for h in range(1, 5)], PTS_SCHEMA
    )
    # Disjoint hour slots within the SAME day — b2 at the same ts
    # would legitimately supersede b1 via LWW, masking the race.
    b2 = spark.createDataFrame(
        [("m", NOW - 3600 * h, 10.0, 100 + h) for h in range(5, 9)], PTS_SCHEMA
    )

    real_commit = lh.commit_rollup_days
    fired = {"done": False}

    def racing_commit(spark_, table, day_frames, watermark=None,
                      base_version=None):
        if not fired["done"]:
            fired["done"] = True
            # Racer B lands in A's window: after A's bronze read and
            # recompute, before A's publish.  B sees A's bronze append
            # (b1+b2 → 11.0/slot); A's staged frames are still b1-only.
            incremental_rollup_tx(spark_, base, cfg, b2, NOW)
        return real_commit(spark_, table, day_frames,
                           watermark=watermark, base_version=base_version)

    lh.commit_rollup_days = racing_commit
    try:
        incremental_rollup_tx(spark, base, cfg, b1, NOW)
    finally:
        lh.commit_rollup_days = real_commit

    out = read_table(spark, table_path(base, 0))
    # All 8 slots from both batches.  A silent lost update (the
    # pre-fix behavior) publishes A's stale b1-only frame over B's
    # full recompute: 4 slots, sum 4.0.
    assert out.count() == 8
    assert out.agg(F.sum("value")).first()[0] == pytest.approx(
        4 * 1.0 + 4 * 10.0
    )
    # Two commits on level 0: B's, then A's conflict-retried recompute.
    assert CommitLog(table_path(base, 0)).versions() == [0, 1]


# 3-level xff-gated ladder for the one-pass tx tests; values keep every
# average exact, so levels compare with ==.  m fills 3 of 6 hourly slots
# per 6h bucket (exactly at the gate); n fills 2 of 6 until TX_B2 adds
# a third; TX_B2 also rewrites one of m's slots (LWW).
TX_CFG = ("1h:3d,6h:10d,1d:30d", "average", 0.5)
TX_B1 = (
    [("m", NOW - 2 * DAY + h * 3600, float(h), h) for h in range(0, 24, 2)]
    + [("n", NOW - 2 * DAY + h * 3600, float(h), 50 + h) for h in range(0, 24, 3)]
)
TX_B2 = [
    ("m", NOW - 2 * DAY + 2 * 3600, 5.0, 100),
    ("n", NOW - 2 * DAY + 3600, 7.0, 101),
    ("m", NOW - 3600, 42.0, 102),
]


def _tx_levels(spark, base):
    return [
        {(r["metric"], r["interval"]): r["value"]
         for r in read_table(spark, table_path(base, i)).collect()}
        for i in range(3)
    ]


def _recompute_levels(spark, tmp_path, cfg, rows):
    """Every level of a full ``write_archives`` recompute over ``rows``."""
    from go_whisper_spark.retention import archive_path, write_archives

    eng = WhisperEngine(spark, cfg)
    eng.update_many(spark.createDataFrame(rows, PTS_SCHEMA), NOW)
    ref = str(tmp_path / "ref")
    write_archives(eng, ref, NOW)
    return [
        {(r["metric"], r["interval"]): r["value"]
         for r in spark.read.parquet(archive_path(ref, i)).collect()}
        for i in range(3)
    ]


def test_rollup_tx_rejects_bad_step_before_bronze(spark, tmp_path):
    """A step that does not divide a day raises before the bronze
    append, so a retry of the batch cannot append it twice."""
    from go_whisper_spark.lakehouse import bronze_table

    cfg = SeriesConfig.from_defs("7s:1d", "average", 0.0)
    base = str(tmp_path / "store")
    pts = spark.createDataFrame([("m", NOW - 70, 1.0, 1)], PTS_SCHEMA)
    with pytest.raises(ValueError, match="does not divide a day"):
        incremental_rollup_tx(spark, base, cfg, pts, NOW)
    assert CommitLog(bronze_table(base)).versions() == []
    assert CommitLog(table_path(base, 0)).versions() == []


def test_rollup_tx_three_levels_match_full_recompute(
    spark, tmp_path, monkeypatch, released
):
    """Every level of a 3-level xff-gated tx equals a full recompute;
    each tx reads bronze once (one cascade walk, not a re-read per
    level) and leaves nothing persisted in the session."""
    import go_whisper_spark.lakehouse as lh

    cfg = SeriesConfig.from_defs(*TX_CFG)
    base = str(tmp_path / "store")
    reads = []
    real_read = lh.read_bronze
    monkeypatch.setattr(
        lh, "read_bronze", lambda *a: reads.append(1) or real_read(*a)
    )
    for batch in (TX_B1, TX_B2):
        with released():
            committed = incremental_rollup_tx(
                spark, base, cfg, spark.createDataFrame(batch, PTS_SCHEMA), NOW
            )
        assert sorted(committed) == [0, 1, 2]
    assert len(reads) == 2

    got = _tx_levels(spark, base)
    assert got == _recompute_levels(spark, tmp_path, cfg, TX_B1 + TX_B2)
    assert got[1][("m", NOW - 2 * DAY)] == (0.0 + 5.0 + 4.0) / 3
    assert got[1][("n", NOW - 2 * DAY)] == (0.0 + 7.0 + 3.0) / 3
    assert ("n", NOW - 2 * DAY + 6 * 3600) not in got[1]  # 2 of 6 slots


def test_rollup_tx_conflict_resumes_at_conflicted_level(
    spark, tmp_path, monkeypatch, released
):
    """A same-day racer that lands while writer A publishes level 1:
    A's level-1 commit conflicts, A re-snapshots, re-reads bronze and
    resumes at level 1 — its level 0 is committed exactly once — and
    every level ends equal to a full recompute over both batches."""
    import go_whisper_spark.lakehouse as lh

    cfg = SeriesConfig.from_defs(*TX_CFG)
    base = str(tmp_path / "store")
    b1 = spark.createDataFrame(TX_B1, PTS_SCHEMA)
    b2 = spark.createDataFrame(TX_B2, PTS_SCHEMA)
    lv0, lv1, lv2 = (table_path(base, i) for i in range(3))
    real_commit = lh.commit_rollup_days
    calls, racing = [], []  # A's publishes; set while racer B runs

    def racing_commit(spark_, table, day_frames, watermark=None, base_version=None):
        if not racing:
            calls.append(table)
            if calls == [lv0, lv1]:
                # Racer B appends bronze and commits every level, level
                # 1's shared day included, before A's level-1 publish.
                racing.append(True)
                incremental_rollup_tx(spark_, base, cfg, b2, NOW)
                racing.clear()
        return real_commit(spark_, table, day_frames,
                           watermark=watermark, base_version=base_version)

    monkeypatch.setattr(lh, "commit_rollup_days", racing_commit)
    with released():
        committed = incremental_rollup_tx(spark, base, cfg, b1, NOW)

    # A: level 0 once, level 1 twice (conflict, then the resumed
    # publish), level 2 once.
    assert calls == [lv0, lv1, lv1, lv2]
    assert CommitLog(lv0).versions() == [0, 1]  # A's, then B's
    assert committed == {0: 0, 1: 1, 2: 1}
    assert _tx_levels(spark, base) == _recompute_levels(
        spark, tmp_path, cfg, TX_B1 + TX_B2
    )


def test_coordination_claim_released_on_write_failure(tmp_path):
    """A failure between the in-memory claim and the object publish
    must RELEASE the claim — otherwise the slot is claimed-but-
    invisible forever and every racing commit blocks out its
    visibility timeout (ADVICE r9, low)."""
    claimer = CoordinationClaimer()
    missing = str(tmp_path / "nodir" / "00000000000.json")
    with pytest.raises(FileNotFoundError):
        claimer.claim(missing, b"{}")  # tmp write fails: no directory
    os.makedirs(os.path.dirname(missing))
    assert claimer.claim(missing, b'{"replace": {}}')  # slot recovered
    assert not claimer.claim(missing, b"{}")  # and stays exclusive


def test_time_travel_after_vacuum_fails_cleanly(spark, tmp_path):
    """VERDICT r9 item 7: the time-travel x vacuum trade is a TESTED
    contract.  Inside the retention window a pinned read reproduces
    the old snapshot (vacuum's age gate protects the superseded dir);
    after vacuum reclaims it, the pinned read fails UP FRONT with an
    error naming the trade — not a mid-scan parquet path error."""
    table = str(tmp_path / "lake")
    sch = "metric string, interval long, value double"
    df1 = spark.createDataFrame([("m", 1, 1.0)], sch)
    df2 = spark.createDataFrame([("m", 1, 2.0)], sch)
    v1 = commit_rollup_days(spark, table, {"2023-11-01": df1})
    commit_rollup_days(spark, table, {"2023-11-01": df2})  # supersedes v1

    # Inside retention (default 1h min age): vacuum leaves the young
    # superseded dir alone, the pinned read still reproduces v1.
    assert vacuum(table) == []
    assert read_table(spark, table, version=v1).first()["value"] == 1.0

    # Outside retention: vacuum reclaims it; the pinned read raises a
    # clear FileNotFoundError, the head read is untouched.
    removed = vacuum(table, min_age_seconds=0)
    assert len(removed) == 1
    with pytest.raises(FileNotFoundError, match="vacuum"):
        read_table(spark, table, version=v1)
    assert read_table(spark, table).first()["value"] == 2.0


def test_merge_table_upsert_semantics(spark, tmp_path):
    """merge_table is WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED
    INSERT *: matched keys are replaced, unmatched keys inserted,
    untouched keys (and untouched partitions' files) survive."""
    from go_whisper_spark.lakehouse import commit_partitions, merge_table

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(10)], "k long, v long, b long"
    )
    v1 = commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    assert v1 == 1
    before = CommitLog(table).state()["partitions"]

    up = spark.createDataFrame(
        [(2, 999, 0), (100, 5, 0)], "k long, v long, b long"
    )
    v2 = merge_table(spark, table, up, key_cols=["k"], part_col="b")
    assert v2 == 2
    rows = {r.k: r.v for r in read_table(spark, table).collect()}
    assert rows[2] == 999          # matched -> updated
    assert rows[100] == 5          # not matched -> inserted
    assert rows[3] == 30           # untouched key survives
    assert len(rows) == 11
    after = CommitLog(table).state()["partitions"]
    # only the touched partition's directory changed
    assert after["b=1"] == before["b=1"]
    assert after["b=0"] != before["b=0"]


def test_merge_table_conflict_and_disjoint(spark, tmp_path):
    """A racing commit on a touched partition raises ConflictError;
    a racer on a DISJOINT partition coexists (retry lands later)."""
    from go_whisper_spark.lakehouse import commit_partitions, merge_table

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(10)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    snap = CommitLog(table).state()["version"]
    # racer lands on b=0 after our snapshot
    racer = spark.createDataFrame([(0, 111, 0)], "k long, v long, b long")
    merge_table(spark, table, racer, key_cols=["k"], part_col="b")
    # our merge computed from the stale snapshot touches b=0 -> conflict
    ours = spark.createDataFrame([(2, 999, 0)], "k long, v long, b long")
    with pytest.raises(ConflictError):
        merge_table(spark, table, ours, key_cols=["k"], part_col="b",
                    base_version=snap)
    # the racer's write was NOT lost
    assert {r.v for r in read_table(spark, table).where("k = 0").collect()} == {111}
    # a disjoint-partition merge from the same stale snapshot lands
    other = spark.createDataFrame([(1, 222, 1)], "k long, v long, b long")
    v = merge_table(spark, table, other, key_cols=["k"], part_col="b",
                    base_version=snap)
    assert v == CommitLog(table).state()["version"]
    assert {r.v for r in read_table(spark, table).where("k = 1").collect()} == {222}


def test_partevolve_racing_writers(spark, tmp_path):
    """The conflict contract ACROSS partition-spec generations
    (VERDICT r16 item 6, the write side of w_lakehouse_partevolve):
    on a table whose live layout mixes an old-spec generation (rb=)
    with an evolved one (lang=) —
    (1) the partition-addressed merge REFUSES for EITHER spec
        choice (each sees the other generation's keys as alien;
        rewriting only one generation would strand stale matches);
    (2) key-overlap conflicts are spec-blind: a racer replacing an
        rb= directory after our snapshot raises ConflictError even
        though lang= and MoR keys fill the log;
    (3) racing MoR upserts from the SAME stale base both land
        (fresh-uuid keys retry through disjoint interleavers) and
        the resolved read settles a contested key by SEQUENCE —
        the later commit wins, deterministically."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        merge_table,
        read_table_mor,
        upsert_rows_mor,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, ["en", "fr", "de"][i % 3], i * 10) for i in range(40)],
        "doc_id long, lang string, n_chars long",
    )
    g1 = df.where("doc_id < 20")
    g2 = df.where("doc_id >= 20")
    commit_partitions(
        spark, table,
        {f"rb={b}": g1.where(F.expr(f"doc_id div 10 = {b}"))
         for b in (0, 1)},
        base_version=0,
    )
    commit_partitions(
        spark, table,
        {f"lang={lg}": g2.where(F.col("lang") == lg)
         for lg in ("de", "en", "fr")},
        base_version=1,
    )
    snap = CommitLog(table).state()["version"]

    # (1) refusal is spec-order-independent
    upd = spark.createDataFrame(
        [(3, "en", 999), (25, "fr", 999)],
        "doc_id long, lang string, n_chars long",
    ).withColumn("rb", F.expr("doc_id div 10"))
    with pytest.raises(ValueError, match="outside the 'lang='"):
        merge_table(spark, table, upd.drop("rb"), key_cols=["doc_id"],
                    part_col="lang")
    with pytest.raises(ValueError, match="outside the 'rb='"):
        merge_table(spark, table, upd, key_cols=["doc_id"],
                    part_col="rb")

    # (2) key overlap conflicts across specs: a racer lands on rb=0,
    # then our stale-snapshot replace of rb=0 must conflict
    racer = g1.where("doc_id < 10").withColumn(
        "n_chars", F.col("n_chars") + 1)
    commit_partitions(spark, table, {"rb=0": racer},
                      base_version=snap)
    with pytest.raises(ConflictError):
        commit_partitions(spark, table, {"rb=0": racer},
                          base_version=snap)

    # (3) racing MoR upserts from the same base both land; the
    # contested key resolves by sequence (later commit wins)
    base = CommitLog(table).state()["version"]
    a = spark.createDataFrame([(5, "en", 111), (21, "en", 111)],
                              "doc_id long, lang string, n_chars long")
    b = spark.createDataFrame([(5, "en", 222)],
                              "doc_id long, lang string, n_chars long")
    va = upsert_rows_mor(spark, table, a, key_cols=["doc_id"],
                         base_version=base)
    vb = upsert_rows_mor(spark, table, b, key_cols=["doc_id"],
                         base_version=base)
    assert vb == va + 1                      # both committed, ordered
    got = {r.doc_id: r.n_chars
           for r in read_table_mor(spark, table, key_cols=["doc_id"])
           .where(F.col("doc_id").isin(5, 21)).collect()}
    assert got == {5: 222, 21: 111}          # seq settles the contest
    # and neither original generation's directory was rewritten by
    # the MoR traffic (rb=0 changed only via the racer's CoW commit)
    parts = CommitLog(table).state()["partitions"]
    assert {"rb=1", "lang=de", "lang=en", "lang=fr"} <= set(parts)


def test_bloom_lookup_no_false_negatives_and_prunes(spark, tmp_path):
    """Every committed key must be admitted by its directory's filter
    (no false negatives — the correctness law), and a probe admits
    far fewer directories than a full scan (the point of the
    filter).  Directories committed WITHOUT a bloom are always
    scanned (pruning is an optimization, never a gate)."""
    from go_whisper_spark.lakehouse import (
        _bloom_positions_py,
        commit_partitions,
        read_table_lookup,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 8) for i in range(400)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in range(8)},
        base_version=0, bloom_cols=["k"],
    )
    st = CommitLog(table).state()
    # no false negatives: every key's positions are set in its dir
    for p in range(8):
        d = st["partitions"][f"b={p}"]
        pset = set(st["bloom"][d]["k"])
        for k in range(p, 400, 8):
            assert _bloom_positions_py(k) <= pset
    # a point lookup returns exactly the true rows
    got = read_table_lookup(spark, table, "k", [13, 200, 99999]).collect()
    assert sorted((r.k, r.v) for r in got) == [(13, 130), (200, 2000)]
    # and admits few dirs: k=13 lives in b=5 only; with 50 keys in
    # 4096 bits the false-positive rate is ~0, so expect ~1 admitted
    probe = _bloom_positions_py(13)
    admitted = [
        d for d in st["partitions"].values()
        if probe <= set(st["bloom"][d]["k"])
    ]
    assert st["partitions"]["b=5"] in admitted and len(admitted) <= 2
    # an impossible key prunes EVERY directory -> empty frame
    assert read_table_lookup(spark, table, "k", [10 ** 9]).count() == 0


def test_bloom_follows_rewrites_and_checkpoints(spark, tmp_path):
    """Bloom stats are keyed by the immutable data directory: a
    partition rewrite replaces its filter atomically (the old dir's
    stats age out with the dir), a partition committed without a
    filter is conservatively scanned, and a checkpointed state
    replays the filters from the snapshot."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        read_table_lookup,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "k long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0, bloom_cols=["k"],
    )
    old_dir = CommitLog(table).state()["partitions"]["b=0"]
    # rewrite b=0 with shifted keys (100..118 even) and a fresh filter
    up = spark.createDataFrame([(100 + i, 0) for i in range(0, 20, 2)],
                               "k long, b long")
    commit_partitions(spark, table, {"b=0": up}, bloom_cols=["k"])
    st = CommitLog(table).state()
    assert old_dir not in st["bloom"]          # aged out with the dir
    # the old key 0 is gone; the new key 100 is found
    assert read_table_lookup(spark, table, "k", [0]).count() == 0
    assert read_table_lookup(spark, table, "k", [100]).count() == 1
    # a later filterless commit on b=1 is always scanned
    up1 = spark.createDataFrame([(555, 1)], "k long, b long")
    commit_partitions(spark, table, {"b=1": up1})
    assert read_table_lookup(spark, table, "k", [555]).count() == 1
    # checkpoint + replay preserves the filters
    CommitLog(table).checkpoint()
    st2 = CommitLog(table).state()
    d0 = st2["partitions"]["b=0"]
    assert st2["bloom"][d0]["k"] == st["bloom"][st["partitions"]["b=0"]]["k"]
    assert read_table_lookup(spark, table, "k", [102]).count() == 1


def test_stat_type_gates_and_optimize_null_guard(spark, tmp_path):
    """REVIEW r15 regressions: bloom stats reject non-int/string
    columns (Spark's CAST AS STRING and Python's str() render
    booleans/doubles differently — silent false negatives
    otherwise); zone-map stats reject non-JSON-native columns (a
    timestamp min would crash json.dumps after staging); and
    optimize_table refuses NULL / out-of-domain z-values instead of
    silently dropping those rows; read_table_lookup accepts a
    generator (it used to exhaust it and silently return nothing)."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        optimize_table,
        read_table_lookup,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, float(i), i % 2 == 0, i % 2) for i in range(8)],
        "k long, x double, f boolean, b long",
    )
    with pytest.raises(ValueError, match="integer/string"):
        commit_partitions(spark, table + "_a", {"b=0": df},
                          base_version=0, bloom_cols=["f"])
    ts = df.withColumn("t", F.current_timestamp())
    with pytest.raises(ValueError, match="JSON-native"):
        commit_partitions(spark, table + "_b", {"b=0": ts},
                          base_version=0, minmax_cols=["t"])
    commit_partitions(spark, table, {"b=0": df}, base_version=0,
                      bloom_cols=["k"])
    # generator argument returns the true rows (not silently empty)
    got = read_table_lookup(spark, table, "k", (v for v in [3, 5]))
    assert sorted(r.k for r in got.collect()) == [3, 5]
    # NULL z refuses the rewrite (k==0 -> NULL via nullif)
    with pytest.raises(ValueError, match="NULL or out-of-"):
        optimize_table(spark, table, zvalue=F.expr("nullif(k, 0)"),
                       z_domain=8, n_buckets=2)
    # out-of-domain z refuses too
    with pytest.raises(ValueError, match="NULL or out-of-"):
        optimize_table(spark, table, zvalue=F.col("k"), z_domain=4,
                       n_buckets=2)


def test_read_changes_bag_semantics(spark, tmp_path):
    """read_changes is the BAG diff between two snapshots: an update
    is its delete+insert pair, duplicate rows diff by multiplicity,
    an untouched version range yields zero rows, and a moved key
    shows its old-partition delete."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        merge_table,
        read_changes,
    )

    table = str(tmp_path / "silver")
    # k=5 committed TWICE (multiplicity 2) in b=1
    rows = [(i, i * 10, i % 2) for i in range(10)] + [(5, 50, 1)]
    df = spark.createDataFrame(rows, "k long, v long, b long")
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    # update k=2 (same partition), MOVE k=3 to b=0, dedup k=5 to one copy
    up = spark.createDataFrame(
        [(2, 999, 0), (3, 333, 0), (5, 50, 1)], "k long, v long, b long"
    )
    merge_table(spark, table, up, key_cols=["k"], part_col="b")
    ch = read_changes(spark, table, from_version=1, to_version=2).collect()
    got = sorted((r._change_type, r.k, r.v, r.b) for r in ch)
    assert got == [
        ("delete", 2, 20, 0),     # update pre-image
        ("delete", 3, 30, 1),     # moved key's old-partition copy
        ("delete", 5, 50, 1),     # ONE of the two duplicates (bag!)
        ("insert", 2, 999, 0),
        ("insert", 3, 333, 0),
    ]
    # an empty range is an empty feed
    assert read_changes(spark, table, 2, 2).count() == 0


def test_mv_minmax_refresh_classification(spark):
    """The TIE-AWARE safe/endangered/vanished classification behind
    w_lakehouse_mv_minmax / w_mv_minmax_ties / st_mv_minmax, pinned
    on crafted frames — one group per edge case, BOTH extremes
    (round 19: the MIN side with the mirrored coverage rule): (a)
    UNIQUE-MAX DELETE: deletes cover the only max holder, the
    recompute must find the runner-up; (b) TIED-MAX DELETE, PARTIAL:
    one of two 50s dies — the coverage rule (VERDICT r17 item 2)
    proves the survivor and stays on the O(changes) safe path with
    n_at_max folded 2-1=1; (f) TIED-MAX DELETE, FULL: BOTH 50s die —
    coverage fires, the recompute finds the runner-up; (c)
    UNIQUE-MIN DELETE + insert above: the min side fires while the
    max side folds safely — the scan serves both extremes; (d)
    VANISHED: count folds to zero, the group drops; (e) ALL-NEW
    group: absent from the view, safe by construction, extremes =
    the batch-insert extremes; (g) TIED-MIN DELETE, PARTIAL: one of
    two 10s dies — the mirrored coverage rule proves the survivor,
    n_at_min folds 2-1=1, NO scan (the VERDICT r18 item 2 pin); (h)
    TIED-MIN DELETE, FULL: both 10s die — min coverage fires; (i)
    INSERT BELOW the old min: safe fold, min = least(old, inserted),
    n_at_min = inserts tying it."""
    from go_whisper_spark.operators.whisper_queries import (
        _mv_minmax_refresh,
    )

    view = spark.createDataFrame(
        [("a", 2, 50, 1, 30, 1), ("b", 3, 50, 2, 7, 1),
         ("c", 2, 50, 1, 10, 1), ("d", 1, 50, 1, 50, 1),
         ("f", 3, 50, 2, 40, 1), ("g", 3, 80, 1, 10, 2),
         ("h", 3, 80, 1, 10, 2), ("i", 2, 30, 1, 20, 1)],
        "lang string, n_docs long, max_score long, n_at_max long, "
        "min_score long, n_at_min long",
    )
    # snapshot AFTER the changes below
    snapshot = spark.createDataFrame(
        [("a", 30), ("b", 50), ("b", 7),
         ("c", 50), ("c", 60), ("e", 11), ("e", 9), ("f", 40),
         ("g", 10), ("g", 80), ("h", 80),
         ("i", 20), ("i", 30), ("i", 5)],
        "lang string, score long",
    )
    feed = spark.createDataFrame(
        [("delete", "a", 50),                      # (a) unique max dies
         ("delete", "b", 50),                      # (b) one of two 50s
         ("delete", "c", 10), ("insert", "c", 60),  # (c) unique min dies
         ("delete", "d", 50),                      # (d) vanishes
         ("insert", "e", 11), ("insert", "e", 9),   # (e) all-new
         ("delete", "f", 50), ("delete", "f", 50),  # (f) both 50s die
         ("delete", "g", 10),                      # (g) one of two 10s
         ("delete", "h", 10), ("delete", "h", 10),  # (h) both 10s die
         ("insert", "i", 5),                       # (i) below old min
         ],
        "_change_type string, lang string, score long",
    )
    got = {r.lang: (r.n_docs, r.max_score, r.n_at_max,
                    r.min_score, r.n_at_min,
                    r.recomputed_max, r.recomputed_min)
           for r in _mv_minmax_refresh(view, feed, snapshot).collect()}
    assert got == {
        # recomputed -> runner-up, not the dead 50; min from the scan
        "a": (1, 30, 1, 30, 1, 1, 0),
        # SAFE: the other 50 survives, 2-1 holders; min untouched
        "b": (2, 50, 1, 7, 1, 0, 0),
        # min coverage fires (the only 10 died); max folds safely but
        # the group's scan serves both: max = greatest(50, 60)
        "c": (2, 60, 1, 50, 1, 0, 1),
        # new group: batch-insert extremes
        "e": (2, 11, 1, 9, 1, 0, 0),
        # max coverage fires: both holders died; min safe via scan
        "f": (1, 40, 1, 40, 1, 1, 0),
        # TIED-MIN PARTIAL: survivor proves the min, n_at_min 2-1=1,
        # no scan — the r19 pin
        "g": (2, 80, 1, 10, 1, 0, 0),
        # TIED-MIN FULL: both 10s died, min recomputed to 80
        "h": (1, 80, 1, 80, 1, 0, 1),
        # insert below the old min: least(20, 5), the insert holds it
        "i": (3, 30, 1, 5, 1, 0, 0),
    }
    assert "d" not in got  # vanished


def test_read_changes_mor_broadcast_bound(spark, tmp_path, monkeypatch):
    """The changed-key set is force-broadcast into both endpoint
    scans — correct while the feed is O(changes), an executor OOM if
    a 'change set' approaches table scale (VERDICT r16 watch item).
    Past _MOR_CDF_MAX_KEYS the read must reject LOUDLY toward
    read_changes (the rewrite-commit contract), never broadcast."""
    import go_whisper_spark.lakehouse as lh

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(8)], "k long, v long, b long"
    )
    lh.commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    lh.upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(2, 999, 0), (4, 444, 0), (6, 666, 0)],
                              "k long, v long, b long"),
        key_cols=["k"],
    )
    # under the real bound the feed reads fine
    assert lh.read_changes_mor(spark, table, ["k"], 1, 2).count() == 6
    # shrink the bound below the 3-key change set: loud rejection
    monkeypatch.setattr(lh, "_MOR_CDF_MAX_KEYS", 2)
    with pytest.raises(ValueError, match="rewrite-scale"):
        lh.read_changes_mor(spark, table, ["k"], 1, 2)


def test_read_changes_mor_fast_path_semantics(spark, tmp_path):
    """The O(changes) CDF fast path: range interactions are absorbed
    by the endpoint diff — delete-then-re-add nets to the value
    diff, a value-IDENTICAL re-upsert nets to NOTHING (bag
    cancellation), and REWRITE commits in the range raise toward
    read_changes (positional commits are covered since VERDICT r15
    item 2 — see test_read_changes_mor_covers_positional)."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        commit_partitions_pos,
        delete_rows_mor,
        delete_rows_pos,
        read_changes_mor,
        read_table_pos,
        upsert_rows_mor,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(8)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    # v2: delete k=2 and k=4; v3: re-add k=2 with a NEW value and k=4
    # with its IDENTICAL old value
    delete_rows_mor(spark, table,
                    spark.createDataFrame([(2,), (4,)], "k long"))
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(2, 999, 0), (4, 40, 0)],
                              "k long, v long, b long"),
        key_cols=["k"],
    )
    ch = read_changes_mor(spark, table, ["k"], from_version=1,
                          to_version=3).collect()
    got = sorted((r._change_type, r.k, r.v) for r in ch)
    # k=4 cancelled entirely; k=2 is the clean value diff
    assert got == [("delete", 2, 20), ("insert", 2, 999)]
    # empty range -> empty feed
    assert read_changes_mor(spark, table, ["k"], 3, 3).count() == 0
    # a rewrite commit in the range rejects the fast path
    up = spark.createDataFrame([(99, 1, 1)], "k long, v long, b long")
    commit_partitions(spark, table, {"b=1": up.where("k < 0")})
    with pytest.raises(ValueError, match="read_changes"):
        read_changes_mor(spark, table, ["k"], 1, 4)
    # a positional-delete commit is now COVERED by the fast path:
    # the pdv's (dir, pos) pairs resolve to keys by scanning only
    # the addressed directory
    table2 = str(tmp_path / "silver_pos")
    commit_partitions_pos(spark, table2, {"b=0": df.where("b = 0")},
                          base_version=0)
    addr = (read_table_pos(spark, table2).where("k = 0")
            .select("_dir", "_pos"))
    delete_rows_pos(spark, table2, addr)
    ch2 = read_changes_mor(spark, table2, ["k"], 1, 2).collect()
    assert sorted((r._change_type, r.k, r.v) for r in ch2) == [
        ("delete", 0, 0)]


def test_read_changes_mor_covers_positional(spark, tmp_path):
    """VERDICT r15 item 2: the O(changes) fast path over a range
    mixing equality-MoR and POSITIONAL commits must equal the
    general compute-from-data formulation on the same range verbatim
    — the unrestricted bag diff of the two endpoint MoR snapshots
    (what `read_changes` computes, spelled inline because its eager
    reader refuses live MoR keys by contract).  The pdv here names
    one of two content-IDENTICAL duplicate rows (the predicate no
    equality vector can express), plus a row that was upserted
    earlier in the range (netting across commit kinds)."""
    from go_whisper_spark.lakehouse import (
        commit_partitions_pos,
        delete_rows_pos,
        read_changes_mor,
        read_table_mor,
        read_table_pos,
        upsert_rows_mor,
    )

    table = str(tmp_path / "silver")
    # k=5 committed TWICE (content-identical duplicates) in b=1
    rows = [(i, i * 10, i % 2) for i in range(8)] + [(5, 50, 1)]
    df = spark.createDataFrame(rows, "k long, v long, b long")
    commit_partitions_pos(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    # v2: equality upsert k=2 -> 999
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(2, 999, 0)], "k long, v long, b long"),
        key_cols=["k"],
    )
    # v3: positional delete of ONE k=5 duplicate and of the k=6 row
    addr = read_table_pos(spark, table)
    one_dup = (addr.where("k = 5").orderBy("_pos").limit(1)
               .select("_dir", "_pos"))
    k6 = addr.where("k = 6").select("_dir", "_pos")
    delete_rows_pos(spark, table, one_dup.unionByName(k6))
    fast = read_changes_mor(spark, table, ["k"], from_version=1,
                            to_version=3)
    old = read_table_mor(spark, table, ["k"], version=1).drop("_pos")
    new = read_table_mor(spark, table, ["k"], version=3).drop("_pos")
    general = [("delete", r.k, r.v, r.b)
               for r in old.exceptAll(new).collect()]
    general += [("insert", r.k, r.v, r.b)
                for r in new.exceptAll(old).collect()]
    got = sorted((r._change_type, r.k, r.v, r.b) for r in fast.collect())
    want = sorted(general)
    assert got == want
    assert got == [
        ("delete", 2, 20, 0),     # upsert pre-image
        ("delete", 5, 50, 1),     # ONE duplicate (bag semantics)
        ("delete", 6, 60, 0),     # positionally named row
        ("insert", 2, 999, 0),
    ]


def test_optimize_table_content_stats_and_conflicts(spark, tmp_path):
    """optimize_table rewrites the whole table into value-range
    z-buckets in ONE atomic commit: content is preserved exactly,
    zone-map stats tighten (range probes prune to the overlapping
    buckets), empty buckets are never registered, and the conflict
    footprint is the whole table (any racing commit on the base
    snapshot conflicts; live MoR keys are rejected up front)."""
    from go_whisper_spark.lakehouse import (
        _range_pruned,
        commit_partitions,
        delete_rows_mor,
        optimize_table,
        read_table,
        read_table_range,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i % 32, (i * 7) % 32) for i in range(256)],
        "k long, x long, y long",
    )
    commit_partitions(
        spark, table,
        {f"d={p}": df.where(F.col("k") % 4 == p) for p in range(4)},
        base_version=0, minmax_cols=["x"],
    )
    before = sorted((r.k, r.x, r.y) for r in read_table(spark, table).collect())
    st0 = CommitLog(table).state()
    # ingest layout: every dir spans the full x range -> nothing prunes
    assert all(not _range_pruned(st0["stats"][d], {"x": (0, 7)})
               for d in st0["partitions"].values())
    snap = st0["version"]
    optimize_table(spark, table, zvalue=F.col("x"), z_domain=32,
                   n_buckets=4, minmax_cols=["x"])
    # content preserved exactly
    after = sorted((r.k, r.x, r.y) for r in read_table(spark, table).collect())
    assert after == before
    st1 = CommitLog(table).state()
    assert set(st1["partitions"]) == {f"zbucket={i}" for i in range(4)}
    # stats tightened: the x<=7 probe now admits exactly ONE bucket
    admitted = [d for d in st1["partitions"].values()
                if not _range_pruned(st1["stats"][d], {"x": (0, 7)})]
    assert len(admitted) == 1
    got = read_table_range(spark, table, {"x": (0, 7)}).collect()
    assert sorted((r.k, r.x, r.y) for r in got) == [
        t for t in before if t[1] <= 7]
    # a racing commit against the pre-optimize snapshot conflicts
    up = spark.createDataFrame([(999, 1, 1)], "k long, x long, y long")
    with pytest.raises(ConflictError):
        commit_partitions(spark, table, {"d=1": up}, base_version=snap)
    # a live MoR key rejects the rewrite up front
    delete_rows_mor(spark, table, up.select("k"))
    with pytest.raises(ValueError, match="merge-on-read"):
        optimize_table(spark, table, zvalue=F.col("x"), z_domain=32,
                       n_buckets=4)


def test_optimize_table_skips_empty_buckets(spark, tmp_path):
    """A bucket whose value range holds no rows is not registered at
    all (an empty parquet dir cannot be schema-inferred — the
    compact_mor emptied-partition lesson applied up front)."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        optimize_table,
        read_table,
    )

    table = str(tmp_path / "silver")
    # x only in [0, 8): buckets 1..3 of 4 over domain 32 stay empty
    df = spark.createDataFrame([(i, i % 8) for i in range(64)],
                               "k long, x long")
    commit_partitions(spark, table, {"d=0": df}, base_version=0)
    optimize_table(spark, table, zvalue=F.col("x"), z_domain=32,
                   n_buckets=4)
    st = CommitLog(table).state()
    assert set(st["partitions"]) == {"zbucket=0"}
    assert read_table(spark, table).count() == 64


def test_merge_table_moving_keys(spark, tmp_path):
    """A matched key whose partition value changes is a delete+insert
    in ONE commit: exactly one copy survives, at the NEW partition;
    the source partition rewrites (stale copy gone), a partition
    holding no updated key keeps its directory byte-for-byte."""
    from go_whisper_spark.lakehouse import commit_partitions, merge_table

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 3) for i in range(12)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1, 2)},
        base_version=0,
    )
    before = CommitLog(table).state()["partitions"]
    # k=3 lives in b=0 and MOVES to b=1; k=100 is a fresh insert to b=1
    up = spark.createDataFrame(
        [(3, 999, 1), (100, 5, 1)], "k long, v long, b long"
    )
    merge_table(spark, table, up, key_cols=["k"], part_col="b")
    got = read_table(spark, table).where("k = 3").collect()
    assert [(r.v, r.b) for r in got] == [(999, 1)]  # ONE copy, new b
    rows = read_table(spark, table).collect()
    assert len(rows) == 13
    after = CommitLog(table).state()["partitions"]
    assert after["b=0"] != before["b=0"]   # source partition rewrote
    assert after["b=1"] != before["b=1"]   # target partition rewrote
    assert after["b=2"] == before["b=2"]   # no updated key -> untouched


def test_merge_move_race_on_source_partition(spark, tmp_path):
    """The move probe puts the SOURCE partition in the conflict set: a
    racer landing on the old partition after our snapshot makes the
    move-merge raise instead of silently resurrecting/losing rows —
    the race the allow_moves=False fast path cannot see."""
    from go_whisper_spark.lakehouse import commit_partitions, merge_table

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(10)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    snap = CommitLog(table).state()["version"]
    racer = spark.createDataFrame([(0, 111, 0)], "k long, v long, b long")
    merge_table(spark, table, racer, key_cols=["k"], part_col="b")
    # our batch's TARGET partitions are only b=1, but k=2's source is
    # b=0 — the racer's b=0 commit must conflict us
    ours = spark.createDataFrame([(2, 999, 1)], "k long, v long, b long")
    with pytest.raises(ConflictError):
        merge_table(spark, table, ours, key_cols=["k"], part_col="b",
                    base_version=snap)
    assert {r.v for r in read_table(spark, table).where("k = 0").collect()} == {111}


def test_merge_allow_moves_false_leaves_stale_copy(spark, tmp_path):
    """The documented fast-path contract: allow_moves=False skips the
    snapshot probe, so a key that moves partitions leaves its old
    copy behind — correct only when keys are partition-stable."""
    from go_whisper_spark.lakehouse import commit_partitions, merge_table

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(4)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    up = spark.createDataFrame([(2, 999, 1)], "k long, v long, b long")
    merge_table(spark, table, up, key_cols=["k"], part_col="b",
                allow_moves=False)
    got = sorted((r.v, r.b) for r in
                 read_table(spark, table).where("k = 2").collect())
    assert got == [(20, 0), (999, 1)]  # stale copy + new copy


# --------------------------------------------------------- merge-on-read
def _mor_table(spark, tmp_path):
    from go_whisper_spark.lakehouse import commit_partitions

    table = str(tmp_path / "mor")
    df = spark.createDataFrame(
        [(k, k * 10, k % 2) for k in range(10)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    return table


def test_mor_delete_is_metadata_only(spark, tmp_path):
    """A MoR DELETE rewrites ZERO base files: the data-partition
    manifest entries (and the staged dirs' contents) are IDENTICAL
    before and after, the tombstone is applied at scan time, and a
    pinned read at the pre-delete version still sees every row."""
    from go_whisper_spark.lakehouse import delete_rows_mor, read_table_mor

    table = _mor_table(spark, tmp_path)
    log = CommitLog(table)
    v1 = log.state()["version"]
    dirs_before = {
        k: d for k, d in log.state()["partitions"].items()
        if not k.startswith(("dv/", "delta/"))
    }
    mtimes = {d: sorted(os.listdir(d)) for d in dirs_before.values()}
    delete_rows_mor(
        spark, table,
        spark.createDataFrame([(0,), (4,), (8,)], "k long"),
    )
    st = CommitLog(table).state()
    dirs_after = {
        k: d for k, d in st["partitions"].items()
        if not k.startswith(("dv/", "delta/"))
    }
    assert dirs_after == dirs_before, "a data partition was rewritten"
    for d, names in mtimes.items():
        assert sorted(os.listdir(d)) == names
    out = read_table_mor(spark, table, key_cols=["k"])
    assert {r.k for r in out.collect()} == set(range(10)) - {0, 4, 8}
    # time travel to the pre-delete snapshot: all rows visible
    pinned = read_table_mor(spark, table, key_cols=["k"], version=v1)
    assert pinned.count() == 10


def test_mor_sequencing_and_upsert(spark, tmp_path):
    """The Iceberg sequencing rule: a tombstone shadows only strictly
    OLDER directories, so a key deleted at v2 then upserted at v3
    reappears with the delta's values, and the upsert's own tombstone
    does not touch the delta it ships with."""
    from go_whisper_spark.lakehouse import (
        delete_rows_mor,
        read_table_mor,
        upsert_rows_mor,
    )

    table = _mor_table(spark, tmp_path)
    delete_rows_mor(spark, table, spark.createDataFrame([(2,), (3,)], "k long"))
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(3, 999, 1), (5, 555, 1)], "k long, v long, b long"),
        key_cols=["k"],
    )
    got = {r.k: r.v for r in read_table_mor(spark, table, key_cols=["k"]).collect()}
    assert 2 not in got                      # deleted, never re-added
    assert got[3] == 999                     # deleted then re-added by delta
    assert got[5] == 555                     # replaced (old row shadowed)
    assert got[4] == 40                      # untouched
    assert len(got) == 9


def test_mor_compact_materializes_and_drops_tombstones(spark, tmp_path):
    """compact_mor rewrites the MoR view eagerly in ONE commit: reads
    agree row-for-row, every dv/delta key is gone from the manifest,
    and a copy-on-write rewrite (new sequence) sheds older tombstones
    by construction."""
    from go_whisper_spark.lakehouse import (
        compact_mor,
        delete_rows_mor,
        read_table_mor,
        upsert_rows_mor,
    )

    table = _mor_table(spark, tmp_path)
    delete_rows_mor(spark, table, spark.createDataFrame([(1,), (7,)], "k long"))
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(7, 777, 1)], "k long, v long, b long"),
        key_cols=["k"],
    )
    before = sorted(
        (r.k, r.v) for r in read_table_mor(spark, table, key_cols=["k"]).collect()
    )
    compact_mor(spark, table, key_cols=["k"], part_col="b")
    st = CommitLog(table).state()
    assert not [k for k in st["partitions"] if k.startswith(("dv/", "delta/"))]
    after = sorted(
        (r.k, r.v) for r in read_table_mor(spark, table, key_cols=["k"]).collect()
    )
    assert after == before
    # the eager read_table agrees too (the MoR scan's oracle)
    eager = sorted((r.k, r.v) for r in read_table(spark, table).collect())
    assert eager == before


def test_mor_compact_removes_emptied_partition(spark, tmp_path):
    """The resurrection bug (round-14 review finding): a tombstone
    that empties an ENTIRE partition must remove that partition from
    the manifest on compaction — a view-driven rewrite set would
    leave the stale base dir live and bring every deleted row back."""
    from go_whisper_spark.lakehouse import (
        compact_mor,
        delete_rows_mor,
        read_table_mor,
    )

    table = _mor_table(spark, tmp_path)
    # delete every key of partition b=1 (odd keys)
    delete_rows_mor(
        spark, table,
        spark.createDataFrame([(k,) for k in range(1, 10, 2)], "k long"),
    )
    before = sorted(r.k for r in read_table_mor(spark, table, key_cols=["k"]).collect())
    assert before == [0, 2, 4, 6, 8]
    compact_mor(spark, table, key_cols=["k"], part_col="b")
    after = sorted(r.k for r in read_table_mor(spark, table, key_cols=["k"]).collect())
    assert after == before, "compaction resurrected deleted rows"
    st = CommitLog(table).state()
    assert "b=1" not in st["partitions"], "emptied partition still live"
    eager = sorted(r.k for r in read_table(spark, table).collect())
    assert eager == before


def test_mor_write_conflicts_with_partition_rewrite(spark, tmp_path):
    """The lost-delete race (round-14 review finding): a deletion
    vector or delta append that lands between a rewrite's snapshot
    and its commit must raise ConflictError — the rewrite's
    newer-sequence directories would silently shed it otherwise
    (public Iceberg's rewrite validation)."""
    from go_whisper_spark.lakehouse import (
        compact_mor,
        delete_rows_mor,
        merge_table,
        read_table_mor,
        upsert_rows_mor,
    )

    table = _mor_table(spark, tmp_path)
    snap = CommitLog(table).state()["version"]
    delete_rows_mor(spark, table, spark.createDataFrame([(2,)], "k long"))
    with pytest.raises(ConflictError):
        compact_mor(spark, table, key_cols=["k"], part_col="b",
                    base_version=snap)
    # the delete survived the refused compaction
    assert 2 not in {r.k for r in read_table_mor(spark, table, key_cols=["k"]).collect()}
    # the eager reader refuses a table with live MoR keys outright
    # (it would silently ignore the tombstones)
    with pytest.raises(ValueError, match="merge-on-read"):
        read_table(spark, table)

    # merge racing an upsert: fresh table (merge's snapshot read must
    # predate ANY MoR key — the eager-reader guard above otherwise
    # refuses it, which is its own correct behavior)
    table2 = _mor_table(spark, tmp_path / "t2")
    snap2 = CommitLog(table2).state()["version"]
    upsert_rows_mor(
        spark, table2,
        spark.createDataFrame([(3, 333, 1)], "k long, v long, b long"),
        key_cols=["k"],
    )
    ours = spark.createDataFrame([(4, 444, 0)], "k long, v long, b long")
    with pytest.raises(ConflictError):
        merge_table(spark, table2, ours, key_cols=["k"], part_col="b",
                    base_version=snap2)
    got = {r.k: r.v for r in read_table_mor(spark, table2, key_cols=["k"]).collect()}
    assert got[3] == 333, "the interleaved upsert was lost"


def test_mor_reserved_columns_fail_fast(spark, tmp_path):
    """read_table_mor injects reserved working columns (_seq,
    _dv_<key>, _dv_seq) into the scanned frames; a user schema that
    already carries one must raise instead of silently corrupting
    the anti-join / final drop (ADVICE r14)."""
    from go_whisper_spark.lakehouse import commit_partitions, read_table_mor

    # key column colliding with the reserved set
    table = _mor_table(spark, tmp_path)
    with pytest.raises(ValueError, match="reserved"):
        read_table_mor(spark, table, key_cols=["_seq"])

    # data column colliding with the reserved set
    table2 = str(tmp_path / "bad")
    df = spark.createDataFrame(
        [(1, 7, 0)], "k long, _seq long, b long"
    )
    commit_partitions(spark, table2, {"b=0": df}, base_version=0)
    with pytest.raises(ValueError, match="reserved"):
        read_table_mor(spark, table2, key_cols=["k"])

    # a key named so a _dv_<key> collides with a data column
    table3 = str(tmp_path / "bad2")
    df3 = spark.createDataFrame(
        [(1, 7, 0)], "k long, _dv_k long, b long"
    )
    commit_partitions(spark, table3, {"b=0": df3}, base_version=0)
    with pytest.raises(ValueError, match="reserved"):
        read_table_mor(spark, table3, key_cols=["k"])


def _pos_table(spark, tmp_path, dup=False):
    from go_whisper_spark.lakehouse import commit_partitions_pos

    table = str(tmp_path / "pos")
    df = spark.createDataFrame(
        [(k, k * 10, k % 2) for k in range(10)], "k long, v long, b long"
    )
    if dup:
        df = df.unionByName(df)
    commit_partitions_pos(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    return table


def test_pos_delete_is_metadata_only_and_positional(spark, tmp_path):
    """A positional DELETE (1) rewrites ZERO base files, and (2) can
    do what no equality vector can: remove exactly ONE of two
    content-identical duplicate rows.  Time travel to the pre-delete
    snapshot still sees both copies."""
    from go_whisper_spark.lakehouse import (
        POS_COL,
        delete_rows_pos,
        read_table_mor,
        read_table_pos,
    )

    table = _pos_table(spark, tmp_path, dup=True)
    log = CommitLog(table)
    v1 = log.state()["version"]
    dirs_before = dict(log.state()["partitions"])
    files = {d: sorted(os.listdir(d)) for d in dirs_before.values()}

    addr = (
        read_table_pos(spark, table)
        .where(F.col("k") % 3 == 0)
        .groupBy("k", "_dir")
        .agg(F.min(POS_COL).alias(POS_COL))
        .select("_dir", POS_COL)
    )
    delete_rows_pos(spark, table, addr)

    st = CommitLog(table).state()
    kept = {k: d for k, d in st["partitions"].items()
            if not k.startswith("pdv/")}
    assert kept == dirs_before, "a data partition was rewritten"
    for d, names in files.items():
        assert sorted(os.listdir(d)) == names

    out = read_table_mor(spark, table, key_cols=["k"])
    got = {}
    for r in out.collect():
        got[r.k] = got.get(r.k, 0) + 1
    assert got == {k: (1 if k % 3 == 0 else 2) for k in range(10)}, got
    # pinned pre-delete read: both copies of everything
    pinned = read_table_mor(spark, table, key_cols=["k"], version=v1)
    assert pinned.count() == 20


def test_pos_delete_sequencing_spares_newer_delta(spark, tmp_path):
    """Positional deletes apply to directories with sequence <= their
    own (Iceberg v2's rule — note the asymmetry with equality's
    STRICTLY-older): a delta appended AFTER the vector is untouched
    even when its rows reuse the same _pos ordinals."""
    from go_whisper_spark.lakehouse import (
        POS_COL,
        delete_rows_pos,
        read_table_mor,
        read_table_pos,
        upsert_rows_mor,
    )

    table = _pos_table(spark, tmp_path)
    addr = (
        read_table_pos(spark, table)
        .where(F.col("k") == 4)
        .select("_dir", POS_COL)
    )
    delete_rows_pos(spark, table, addr)
    # later delta re-adds k=4 (fresh _pos minted automatically by the
    # pos-probe in upsert_rows_mor); the older pdv must not touch it
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(4, 444, 0)], "k long, v long, b long"),
        key_cols=["k"],
    )
    got = {r.k: r.v for r in
           read_table_mor(spark, table, key_cols=["k"]).collect()}
    assert got[4] == 444, "pdv leaked onto a strictly newer delta"
    assert len(got) == 10


def test_pos_delete_conflicts_with_rewrites(spark, tmp_path):
    """The compact/merge race guard covers pdv keys: a positional
    delete landing after a rewrite's snapshot raises ConflictError
    for the rewrite instead of being silently shed; the eager reader
    refuses tables with live pdv keys."""
    from go_whisper_spark.lakehouse import (
        POS_COL,
        compact_mor,
        delete_rows_pos,
        read_table,
        read_table_mor,
        read_table_pos,
    )

    table = _pos_table(spark, tmp_path)
    snap = CommitLog(table).state()["version"]
    addr = (read_table_pos(spark, table).where(F.col("k") == 2)
            .select("_dir", POS_COL))
    delete_rows_pos(spark, table, addr)
    with pytest.raises(ConflictError):
        compact_mor(spark, table, key_cols=["k"], part_col="b",
                    base_version=snap)
    with pytest.raises(ValueError, match="merge-on-read"):
        read_table(spark, table)
    assert 2 not in {r.k for r in
                     read_table_mor(spark, table, key_cols=["k"]).collect()}


def test_pos_compact_folds_pdv_and_remints_positions(spark, tmp_path):
    """compact_mor materializes positional tombstones, REMOVES the pdv
    keys, and re-mints _pos on the rewritten dirs (fold of several
    source dirs would otherwise leave duplicate addresses) — so a
    FRESH positional delete against the compacted table still works."""
    from go_whisper_spark.lakehouse import (
        POS_COL,
        compact_mor,
        delete_rows_pos,
        read_table_mor,
        read_table_pos,
    )

    table = _pos_table(spark, tmp_path, dup=True)
    addr = (
        read_table_pos(spark, table)
        .where(F.col("k") % 3 == 0)
        .groupBy("k", "_dir")
        .agg(F.min(POS_COL).alias(POS_COL))
        .select("_dir", POS_COL)
    )
    delete_rows_pos(spark, table, addr)
    before = read_table_mor(spark, table, key_cols=["k"])
    n_before = before.count()
    compact_mor(spark, table, key_cols=["k"], part_col="b")
    st = CommitLog(table).state()
    assert not [k for k in st["partitions"] if k.startswith("pdv/")]
    after = read_table_mor(spark, table, key_cols=["k"])
    assert after.count() == n_before
    # positions unique per dir after the fold
    pos = read_table_pos(spark, table)
    dup = (pos.groupBy("_dir", POS_COL).count().where("count > 1").count())
    assert dup == 0, "compaction left duplicate positional addresses"
    # a fresh positional delete on the compacted table still lands
    addr2 = (read_table_pos(spark, table).where(F.col("k") == 1)
             .limit(1).select("_dir", POS_COL))
    delete_rows_pos(spark, table, addr2)
    n_final = read_table_mor(spark, table, key_cols=["k"]).count()
    assert n_final == n_before - 1


def test_mor_schema_evolution_widen_and_conflict(spark, tmp_path):
    """An upsert batch with a NEW column widens the table: the commit
    payload registers the merged schema, pre-evolution rows read the
    column as NULL, and a later batch retyping an existing column
    raises instead of silently rewriting."""
    from go_whisper_spark.lakehouse import read_table_mor, upsert_rows_mor

    table = _mor_table(spark, tmp_path)
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(3, 333, 1, 9)],
                              "k long, v long, b long, stars long"),
        key_cols=["k"],
    )
    st = CommitLog(table).state()
    assert ["stars", "bigint"] in st["schema"], st["schema"]
    out = {r.k: r.stars for r in
           read_table_mor(spark, table, key_cols=["k"]).collect()}
    assert out[3] == 9
    assert all(out[k] is None for k in out if k != 3)
    # retyping an existing column is refused at write time
    with pytest.raises(ValueError, match="widening never retypes"):
        upsert_rows_mor(
            spark, table,
            spark.createDataFrame([(4, "oops", 0)],
                                  "k long, v string, b long"),
            key_cols=["k"],
        )


def test_merge_schema_evolution(spark, tmp_path):
    """Copy-on-write MERGE with a new column: touched partitions
    rewrite widened (kept rows NULL-filled), untouched partitions
    keep their old schema on disk, and the mergeSchema eager read
    shows the union."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        merge_table,
        read_table,
    )

    table = str(tmp_path / "m")
    df = spark.createDataFrame(
        [(k, k * 10, k % 2) for k in range(10)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    merge_table(
        spark, table,
        spark.createDataFrame([(2, 222, 0, 7)],
                              "k long, v long, b long, stars long"),
        key_cols=["k"], part_col="b",
    )
    got = {r.k: (r.v, r.stars) for r in read_table(spark, table).collect()}
    assert got[2] == (222, 7)
    assert got[3] == (30, None)   # untouched partition, NULL-filled
    assert got[4][1] is None      # rewritten partition, kept row


def test_schema_evolution_under_race(spark, tmp_path):
    """Two upserts adding DIFFERENT new columns race from the same
    snapshot: both land (their uuid keys are disjoint, so the loser
    retries on top), and the replay MERGES the schema registrations —
    last-wins would silently drop one column's entry."""
    from go_whisper_spark.lakehouse import read_table_mor, upsert_rows_mor

    table = _mor_table(spark, tmp_path)
    snap = CommitLog(table).state()["version"]
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(1, 111, 1, 5)],
                              "k long, v long, b long, stars long"),
        key_cols=["k"], base_version=snap,
    )
    # second writer from the SAME snapshot, different new column
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(2, 222, 0, "en")],
                              "k long, v long, b long, lang string"),
        key_cols=["k"], base_version=snap,
    )
    names = {n for n, _ in CommitLog(table).state()["schema"]}
    assert {"stars", "lang"} <= names, names
    row = {r.k: r for r in
           read_table_mor(spark, table, key_cols=["k"]).collect()}
    assert row[1].stars == 5 and row[1].lang is None
    assert row[2].lang == "en" and row[2].stars is None
    assert row[5].stars is None and row[5].lang is None


def test_bloom_probe_type_normalization(spark, tmp_path):
    """ADVICE r15: the lookup coerces probes to the probed column's
    dtype BEFORE hashing.  A float 13.0 or string '13' probe of a
    bigint column must hit (previously both hashed to different text
    than the build side's CAST AS STRING — a silent false negative
    that pruned every directory); type-unrepresentable probes (bool,
    non-integral float, non-numeric string) fail loud, mirroring the
    build-side gate."""
    import pytest as _pytest

    from go_whisper_spark.lakehouse import (
        commit_partitions,
        read_table_lookup,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 4) for i in range(100)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in range(4)},
        base_version=0, bloom_cols=["k"],
    )
    # integral float and int-parsable string probes hit the true row
    for probe in (13.0, "13", 13):
        got = read_table_lookup(spark, table, "k", [probe]).collect()
        assert [(r.k, r.v) for r in got] == [(13, 130)], probe
    # unrepresentable probes fail loud, not silently-empty
    for bad in (True, 1.5, "x13", None):
        with _pytest.raises(ValueError, match="bloom column"):
            read_table_lookup(spark, table, "k", [bad])
    # REVIEW r16: a NON-bloom-typed column (double here — can never
    # carry a filter) must keep its historical scan-all + isin path;
    # normalizing its probes would wrongly reject a float lookup
    tabled = str(tmp_path / "silver_d")
    dfd = spark.createDataFrame(
        [(i, i + 0.5) for i in range(10)], "k long, score double"
    )
    commit_partitions(spark, tabled, {"b=0": dfd}, base_version=0)
    got = read_table_lookup(spark, tabled, "score", [3.5]).collect()
    assert [(r.k, r.score) for r in got] == [(3, 3.5)]


def test_read_changes_evolution_boundary_fails_loud(spark, tmp_path):
    """ADVICE r15: a CDF range that crosses a schema-evolution
    boundary raises a NAMED error listing the evolved column(s)
    instead of exceptAll's raw AnalysisException; sub-ranges that
    stop at the boundary still work."""
    import pytest as _pytest

    from go_whisper_spark.lakehouse import (
        commit_partitions,
        merge_table,
        read_changes,
    )

    table = str(tmp_path / "m")
    df = spark.createDataFrame(
        [(k, k * 10, k % 2) for k in range(10)], "k long, v long, b long"
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    # v2 widens with `stars`
    merge_table(
        spark, table,
        spark.createDataFrame([(2, 222, 0, 7)],
                              "k long, v long, b long, stars long"),
        key_cols=["k"], part_col="b",
    )
    # v3 plain-value update (no further evolution)
    merge_table(
        spark, table,
        spark.createDataFrame([(3, 333, 1, None)],
                              "k long, v long, b long, stars long"),
        key_cols=["k"], part_col="b",
    )
    with _pytest.raises(ValueError, match=r"stars"):
        read_changes(spark, table, from_version=1, to_version=2)
    # the post-boundary sub-range diffs fine
    ch = read_changes(spark, table, from_version=2, to_version=3)
    got = sorted((r._change_type, r.k, r.v) for r in ch.collect())
    assert got == [("delete", 3, 30), ("insert", 3, 333)]


def test_pos_cdf_commit_boundary_invariance(spark, tmp_path):
    """VERDICT r15 item 2, streamed-producer half: the CDF over a
    positional-delete range is invariant to COMMIT boundaries — the
    same (dir, pos) tombstone set sliced into one pdv commit or
    three (a streamed producer's micro-batches land one commit per
    batch) yields the identical feed, because the endpoint snapshots
    are fixed by the SET of applied tombstones, not their grouping."""
    from go_whisper_spark.lakehouse import (
        commit_partitions_pos,
        delete_rows_pos,
        read_changes_mor,
        read_table_pos,
    )

    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(12)], "k long, v long, b long"
    )

    def build(table, n_slices):
        commit_partitions_pos(
            spark, table,
            {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
            base_version=0,
        )
        addr = (read_table_pos(spark, table)
                .where("k % 3 = 0").select("_dir", "_pos", "k"))
        for s in range(n_slices):
            part = addr.where(F.col("k") % n_slices == s)
            if part.count():
                delete_rows_pos(spark, table,
                                part.select("_dir", "_pos"))
        feed = read_changes_mor(spark, table, ["k"], from_version=1)
        return sorted((r._change_type, r.k, r.v)
                      for r in feed.collect())

    one = build(str(tmp_path / "one"), 1)
    three = build(str(tmp_path / "three"), 3)
    assert one == three
    assert one == [("delete", k, k * 10) for k in (0, 3, 6, 9)]


def test_read_changes_mor_empty_pdv_range(spark, tmp_path):
    """REVIEW r16: a range whose only commit is a pdv with an EMPTY
    tombstone set yields an empty feed in the table's schema (the
    pre-guard code NPE'd on ck.distinct() of None)."""
    from go_whisper_spark.lakehouse import (
        commit_partitions_pos,
        delete_rows_pos,
        read_changes_mor,
        read_table_pos,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(6)], "k long, v long, b long"
    )
    commit_partitions_pos(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    empty = (read_table_pos(spark, table).where("k < 0")
             .select("_dir", "_pos"))
    delete_rows_pos(spark, table, empty)
    feed = read_changes_mor(spark, table, ["k"], from_version=1,
                            to_version=2)
    assert feed.count() == 0
    assert "_change_type" in feed.columns


def test_mv_range_deltas_telescope(spark, tmp_path):
    """st_lakehouse_mv's telescoping law, stated directly: refreshing
    a count/sum view from the feeds of consecutive commit ranges
    (v1,v2] then (v2,v3] yields the same view as one refresh from
    the endpoint range (v1,v3] — including a key whose v2 delete is
    later re-upserted with its IDENTICAL value (absent from the
    endpoint feed entirely; its two signed contributions in the
    per-range path must cancel)."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        delete_rows_mor,
        read_changes_mor,
        read_table,
        upsert_rows_mor,
    )

    table = str(tmp_path / "silver")
    df = spark.createDataFrame(
        [(i, f"l{i % 2}", i * 10, i % 2) for i in range(10)],
        "k long, lang string, score long, b long",
    )
    commit_partitions(
        spark, table,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0,
    )
    mv0 = (read_table(spark, table, version=1).groupBy("lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum("score").alias("sum_score")).collect())
    # v2: delete k=4 and k=7; v3: re-add k=4 IDENTICALLY, update k=3
    delete_rows_mor(spark, table,
                    spark.createDataFrame([(4,), (7,)], "k long"))
    upsert_rows_mor(
        spark, table,
        spark.createDataFrame([(4, "l0", 40, 0), (3, "l1", 999, 1)],
                              "k long, lang string, score long, b long"),
        key_cols=["k"],
    )

    def refresh(view_rows, frm, to):
        feed = read_changes_mor(spark, table, ["k"], frm, to)
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        delta = {r.lang: (r.dn, r.ds) for r in
                 feed.groupBy("lang")
                 .agg(F.sum(sign).alias("dn"),
                      F.sum(sign * F.col("score")).alias("ds"))
                 .collect()}
        out = {}
        langs = {r.lang for r in view_rows} | set(delta)
        base = {r.lang: (r.n_docs, r.sum_score) for r in view_rows}
        for lg in langs:
            n0, s0 = base.get(lg, (0, 0))
            dn, ds = delta.get(lg, (0, 0))
            if n0 + dn > 0:
                out[lg] = (n0 + dn, s0 + ds)
        return out

    class Row2:
        def __init__(self, lang, n, s):
            self.lang, self.n_docs, self.sum_score = lang, n, s

    step = refresh(mv0, 1, 2)
    step_rows = [Row2(lg, n, s) for lg, (n, s) in step.items()]
    two_step = refresh(step_rows, 2, 3)
    one_step = refresh(mv0, 1, 3)
    assert two_step == one_step
    # and both equal the recompute from the final snapshot
    from go_whisper_spark.lakehouse import read_table_mor

    want = {r.lang: (r.n_docs, r.sum_score) for r in
            read_table_mor(spark, table, ["k"], version=3)
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("score").alias("sum_score")).collect()}
    assert two_step == want


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """clone_table (round 16): the clone is metadata-only (its v1
    manifest references the SOURCE's directories byte-for-byte),
    reads identically including stat-pruned paths, diverges
    copy-on-write (a merge into either side leaves the other
    unchanged, untouched partitions keep sharing dirs), refuses an
    existing target, and carries public Delta's vacuum trade: a
    source rewrite + source vacuum reclaims a dir the clone still
    references, and the clone's read fails LOUD with the standard
    vacuum-window error."""
    import os

    from go_whisper_spark.lakehouse import (
        CommitLog,
        clone_table,
        commit_partitions,
        merge_table,
        read_table,
        read_table_range,
        vacuum,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(k, k * 10, k % 3) for k in range(12)], "k long, v long, b long"
    )
    commit_partitions(
        spark, src,
        {f"b={p}": df.where(F.col("b") == p) for p in range(3)},
        base_version=0, minmax_cols=["k"],
    )
    clone_table(src, dst)
    # zero copy: every dst dir IS a src dir; reads identical
    src_dirs = set(CommitLog(src).state()["partitions"].values())
    dst_dirs = set(CommitLog(dst).state()["partitions"].values())
    assert dst_dirs == src_dirs
    assert sorted((r.k, r.v) for r in read_table(spark, dst).collect()) \
        == sorted((r.k, r.v) for r in read_table(spark, src).collect())
    # stats came through: a pruned range read works on the clone
    got = read_table_range(spark, dst, {"k": (0, 3)}).collect()
    assert sorted(r.k for r in got) == [0, 1, 2, 3]
    # divergence: merge into dst touches b=1 only; src unchanged
    merge_table(
        spark, dst,
        spark.createDataFrame([(1, 999, 1)], "k long, v long, b long"),
        key_cols=["k"], part_col="b",
    )
    assert {r.k: r.v for r in read_table(spark, dst).collect()}[1] == 999
    assert {r.k: r.v for r in read_table(spark, src).collect()}[1] == 10
    # untouched partitions still share bytes
    dst_dirs2 = set(CommitLog(dst).state()["partitions"].values())
    assert len(dst_dirs2 & src_dirs) == 2
    # clone refuses an existing target
    with pytest.raises(ValueError, match="already has commits"):
        clone_table(src, dst)
    # the vacuum trade: src rewrites b=0, src vacuum reclaims the old
    # dir the CLONE still references -> loud vacuum-window error
    merge_table(
        spark, src,
        spark.createDataFrame([(0, 111, 0)], "k long, v long, b long"),
        key_cols=["k"], part_col="b",
    )
    removed = vacuum(src, min_age_seconds=0)
    assert removed, "source vacuum reclaimed nothing"
    with pytest.raises(Exception, match="vacuum|reclaim|exist"):
        read_table(spark, dst).collect()


def test_shallow_clone_preserves_mor_sequences(spark, tmp_path):
    """REVIEW r16 (second pass): the clone must REPLAY the source's
    commit log, not flatten it — a flattened clone collapses every
    MoR sequence to 1, so equality deletion vectors stop shadowing
    and deleted rows resurrect.  Pins: a clone of a table with LIVE
    dv/delta keys reads identically via read_table_mor, time travel
    works on the clone at the source's version numbers, and the
    watermark payload survives."""
    from go_whisper_spark.lakehouse import (
        CommitLog,
        clone_table,
        commit_partitions,
        delete_rows_mor,
        read_table_mor,
        upsert_rows_mor,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(k, k * 10, k % 2) for k in range(8)], "k long, v long, b long"
    )
    commit_partitions(
        spark, src,
        {f"b={p}": df.where(F.col("b") == p) for p in (0, 1)},
        base_version=0, watermark={"ingest_max": 111},
    )
    delete_rows_mor(spark, src,
                    spark.createDataFrame([(2,), (5,)], "k long"))
    upsert_rows_mor(
        spark, src,
        spark.createDataFrame([(3, 999, 1)], "k long, v long, b long"),
        key_cols=["k"],
    )
    clone_table(src, dst)

    def rows(table, version=None):
        return sorted(
            (r.k, r.v)
            for r in read_table_mor(spark, table, ["k"],
                                    version=version).collect())

    assert rows(dst) == rows(src)
    assert (2, 20) not in rows(dst), "deleted row resurrected in clone"
    assert rows(dst).count((3, 999)) == 1
    assert rows(dst, version=1) == rows(src, version=1)  # time travel
    assert CommitLog(dst).state()["watermark"] == {"ingest_max": 111}
    # truncated clone: only the base commit
    dst2 = str(tmp_path / "dst2")
    clone_table(src, dst2, version=1)
    assert rows(dst2) == rows(src, version=1)
