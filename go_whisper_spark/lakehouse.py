"""Minimal commit-log table layer: concurrent-writer-safe archive
maintenance (the round-7 ROADMAP "ACID incremental maintenance" seed).

``retention.incremental_rollup`` overwrites day partitions in place
(dynamic partition overwrite on plain parquet) — correct for ONE
writer, lost-update-prone for several.  This module adds the smallest
protocol that fixes it, the snapshot/manifest design every public
lakehouse format (Delta, Iceberg, Hudi) builds on:

- **Commit log**: a table is its ``_commits/`` directory — an ordered
  sequence of JSON files ``00000000001.json``…  The table STATE
  (which data directory serves each partition, plus the rollup
  watermark) is the left-to-right replay of the log.  Data files are
  never mutated or overwritten — a commit swaps which uniquely-named
  staged directory a partition points to.
- **Atomic publish**: a commit claims version N through a pluggable
  ``CommitClaimer`` — exactly one of two racing writers wins the
  claim; the loser re-reads and retries.  ``PosixLinkClaimer``
  (default) is write-then-hard-link, the create-if-absent primitive
  delta-on-HDFS uses (rename-without-overwrite);
  ``CoordinationClaimer`` is the S3-class shape, where the slot claim
  is a coordination-service conditional insert and the object write
  happens only after the claim is won (the public Delta-on-S3 /
  DynamoDB LogStore pattern).  Everything above the claimer is
  store-agnostic.
- **Optimistic concurrency**: writers never lock.  A writer snapshots
  the state at version N, stages new data, then tries to commit.  If
  versions landed meanwhile, it replays them and checks for overlap
  with its own replaced partitions: DISJOINT partitions → safe to
  retry the commit on top (the rollup for day X is a pure function of
  the points of day X, so commit order between different days is
  immaterial); OVERLAPPING partitions → ``ConflictError`` — the
  caller must recompute from the new snapshot (its staged output is
  stale), exactly Delta's ``ConcurrentWriteException`` contract.
- **Watermark**: commits may carry a ``watermark`` (max ingested
  write_seq / ts per level), making incremental maintenance
  restartable: a crashed rollup reruns from the last committed
  watermark and re-stages — data dirs it staged but never committed
  are invisible garbage, never corruption.

Reads are snapshot-isolated for free: a reader resolves the manifest
once and scans only directories that log version references; a
concurrent commit changes the log, not any file the reader holds.

[ref: SURVEY.md §4 — the reference has no concurrent-writer story at
all (carbon serializes per file); this layer is what replaces that
serialization at 100 TB.]
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from go_whisper_spark.session import materialize

COMMIT_DIR = "_commits"
STAGE_DIR = "_staged"


class ConflictError(RuntimeError):
    """Another writer committed an overlapping partition first; the
    caller's staged output is stale — recompute from the new snapshot."""


class CommitClaimer:
    """Atomic claim of one commit-log slot (a path): exactly one of N
    racing claimers returns True, and the committed name only ever
    becomes visible with COMPLETE content.  This is the single
    store-dependent primitive in the whole layer — everything above it
    (optimistic retry, conflict detection, checkpoints, time travel)
    is store-agnostic."""

    def claim(self, path: str, data: bytes) -> bool:  # pragma: no cover
        raise NotImplementedError


class PosixLinkClaimer(CommitClaimer):
    """POSIX / HDFS-class stores: write-then-hard-link.  The payload is
    fully written (and fsynced) to a private temp file, then the slot
    is claimed by ``os.link`` — atomic create-if-absent, like O_EXCL,
    the same primitive Delta-on-HDFS uses (rename-without-overwrite).
    A racing reader can never observe a half-written commit file."""

    def claim(self, path: str, data: bytes) -> bool:
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class CoordinationClaimer(CommitClaimer):
    """S3-class object stores have no atomic create-if-absent, so the
    slot claim moves to an external coordination service (the public
    Delta-on-S3 pattern: a DynamoDB/ZooKeeper conditional-insert
    serializes writers; the object PUT itself happens only AFTER the
    claim is won, so readers listing the log still never see a name
    whose content could change).

    This in-process implementation is the coordination-service
    CONTRACT — a mutex'd conditional-insert keyed by path — suitable
    for tests and single-process use; a production deployment
    implements the same two-method shape against the real service.
    Share ONE instance across the writers that must be serialized
    (exactly as they would share the external service).  Two separate
    instances — or one mixed with a ``PosixLinkClaimer`` — do NOT
    serialize against each other for slots neither has published yet:
    both can win the same in-flight slot and the second object write
    clobbers the first.  The only safe mix is sequential (process
    restart over an already-published log — ``os.path.exists`` covers
    that, and test_coordination_claimer_covers_preexisting_slot pins
    it); see ``CommitLog``."""

    def __init__(self):
        self._lock = threading.Lock()
        self._claimed: set = set()

    def claim(self, path: str, data: bytes) -> bool:
        with self._lock:
            # Conditional insert: fails if the slot was ever claimed —
            # including by a previous process that already published
            # the object (os.path.exists covers restart).
            if path in self._claimed or os.path.exists(path):
                return False
            self._claimed.add(path)
        # Non-atomic store write AFTER the won claim (the S3 PUT).
        # A failure here must RELEASE the claim — otherwise the slot
        # is claimed-but-invisible forever and every racing commit()
        # blocks out its visibility timeout and dies on
        # FileNotFoundError with no recovery (a crashed-writer claim
        # in the real service expires the same way, via its TTL).
        try:
            tmp = path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "wb") as fh:
                fh.write(data)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, path)
        except BaseException:
            with self._lock:
                self._claimed.discard(path)
            raise
        return True


def _commit_path(table: str, version: int) -> str:
    return os.path.join(table, COMMIT_DIR, f"{version:011d}.json")


class CommitLog:
    """The ordered-JSON-files commit log of one table directory.

    ``claimer`` selects the store's atomic-publish primitive
    (default: ``PosixLinkClaimer``); see ``CommitClaimer``.

    Claimer-identity contract: all CONCURRENT writers of one table
    must share the same primitive — either PosixLinkClaimer (any
    instances; the filesystem is the shared state) or ONE shared
    CoordinationClaimer instance (its conditional-insert set is the
    shared state).  Mixing a CoordinationClaimer with any other
    claimer concurrently lets two writers win the same in-flight slot
    (the coordination instance cannot see the other writer's claim
    until the object is published).  This cannot be asserted here
    without breaking the legitimate sequential mix — a restart
    bringing a coordination service up over an existing log — so it
    is a documented deployment contract, same as public Delta's
    "all S3 writers must share the LogStore" rule."""

    def __init__(self, table: str, claimer: Optional[CommitClaimer] = None):
        self.table = table
        self.claimer = claimer or PosixLinkClaimer()
        os.makedirs(os.path.join(table, COMMIT_DIR), exist_ok=True)

    def versions(self) -> List[int]:
        d = os.path.join(self.table, COMMIT_DIR)
        return sorted(
            int(f[:-5])
            for f in os.listdir(d)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def read_commit(self, version: int) -> dict:
        with open(_commit_path(self.table, version)) as fh:
            return json.load(fh)

    def _checkpoints(self) -> List[int]:
        d = os.path.join(self.table, COMMIT_DIR)
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(d)
            if f.endswith(".checkpoint.json")
        )

    def state(self, at_version: Optional[int] = None) -> dict:
        """Resolve the table state: {"version": int, "partitions":
        {key: datadir}, "watermark": dict}.  version = -1 for an empty
        table.  Starts from the newest checkpoint (if any) and replays
        only the commits after it — O(tail), not O(log), the same
        compaction contract as public Delta checkpoints.

        ``at_version`` pins TIME TRAVEL: replay stops at that commit,
        yielding the exact snapshot a reader at that version saw
        (commits are immutable, so the replay is reproducible until
        ``vacuum`` reclaims a superseded data directory — the same
        retention-window caveat public Delta time travel carries).
        Raises if the version never existed."""
        parts: Dict[str, str] = {}
        watermark: dict = {}
        schema: Dict[str, str] = {}
        bloom: Dict[str, dict] = {}
        stats: Dict[str, dict] = {}
        start = 0
        if at_version is not None and at_version not in self.versions():
            raise ValueError(
                f"version {at_version} does not exist in {self.table}"
            )
        cps = self._checkpoints()
        if at_version is not None:
            cps = [v for v in cps if v <= at_version]
        if cps:
            cp_version = cps[-1]
            with open(
                os.path.join(
                    self.table, COMMIT_DIR, f"{cp_version:011d}.checkpoint.json"
                )
            ) as fh:
                snap = json.load(fh)
            parts.update(snap["partitions"])
            watermark.update(snap["watermark"])
            for n, t in snap.get("schema", []):
                schema[n] = t
            bloom.update(snap.get("bloom", {}))
            stats.update(snap.get("stats", {}))
            start = cp_version + 1
        versions = [v for v in self.versions() if v >= start]
        if at_version is not None:
            versions = [v for v in versions if v <= at_version]
        for v in versions:
            c = self.read_commit(v)
            # Removes apply before replaces: a compaction commit drops
            # the N input keys and adds its one consolidated key in
            # the same atomic version (keys are disjoint by protocol).
            for key in c.get("remove", []):
                parts.pop(key, None)
            for key, datadir in c.get("replace", {}).items():
                parts[key] = datadir
            if "watermark" in c:
                watermark.update(c["watermark"])
            # schema entries MERGE by column name (racing widenings
            # each record only base + their own column; last-wins
            # would silently drop one).  A type conflict between two
            # registrations is loud at read time.
            for n, t in c.get("schema", []):
                if n in schema and schema[n] != t:
                    raise ValueError(
                        f"schema registry conflict in {self.table}: "
                        f"column {n!r} registered as both "
                        f"{schema[n]!r} and {t!r}"
                    )
                schema[n] = t
            # bloom/min-max stats are keyed by the immutable DATA
            # DIRECTORY (a replaced partition's old dir simply stops
            # being referenced, so its stats age out with it)
            bloom.update(c.get("bloom", {}))
            stats.update(c.get("stats", {}))
        last = versions[-1] if versions else (start - 1 if cps else -1)
        live = set(parts.values())
        return {"version": last, "partitions": parts,
                "watermark": watermark,
                "schema": [[n, t] for n, t in schema.items()],
                "bloom": {d: b for d, b in bloom.items() if d in live},
                "stats": {d: s for d, s in stats.items() if d in live}}

    def checkpoint(self) -> int:
        """Write a consolidated state snapshot at the current version so
        later readers replay only the tail.  Safe under concurrency: the
        snapshot is immutable once linked, a racing checkpoint at the
        same version writes identical content, and commits that land
        after it are replayed on top as usual.  Returns the
        checkpointed version."""
        st = self.state()
        if st["version"] < 0:
            raise RuntimeError("nothing to checkpoint in an empty table")
        path = os.path.join(
            self.table, COMMIT_DIR, f"{st['version']:011d}.checkpoint.json"
        )
        data = json.dumps(
            {"partitions": st["partitions"], "watermark": st["watermark"],
             "schema": st.get("schema", []),
             "bloom": st.get("bloom", {}),
             "stats": st.get("stats", {})}
        ).encode()
        # A lost claim means a racing checkpoint wrote the same snapshot.
        self.claimer.claim(path, data)
        return st["version"]

    def try_commit(self, version: int, payload: dict) -> bool:
        """Claim exactly version ``version``; False if already taken.
        The atomicity contract lives in the pluggable ``claimer``
        (POSIX write-then-link by default; coordination-service
        conditional insert for S3-class stores)."""
        path = _commit_path(self.table, version)
        return self.claimer.claim(path, json.dumps(payload).encode())

    def _read_commit_when_visible(self, version: int, timeout: float = 10.0) -> dict:
        """Read a commit whose slot is claimed but whose object write
        may still be in flight (the claim-then-write visibility gap)."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                return self.read_commit(version)
            except (FileNotFoundError, json.JSONDecodeError):
                if time.monotonic() > deadline:
                    raise
                time.sleep(0.005)

    def commit(
        self,
        base_version: int,
        replace: Dict[str, str],
        watermark: Optional[dict] = None,
        max_retries: int = 20,
        remove: Optional[List[str]] = None,
        conflict_key_prefixes: tuple = (),
        schema: Optional[List[List[str]]] = None,
        bloom: Optional[dict] = None,
        stats: Optional[dict] = None,
    ) -> int:
        """Optimistically publish ``replace`` (and optional key
        ``remove``s — the compaction form) on top of ``base_version``.

        Retries through interleaved commits that touch DISJOINT keys;
        raises ConflictError when an interleaved commit touched one of
        OUR keys — replaced a partition we replace, or removed/added a
        key we remove (staged output is stale).  Returns the committed
        version.

        ``conflict_key_prefixes``: ALSO conflict when an interleaved
        commit ADDED any key with one of these prefixes.  This is how
        partition-REWRITE commits (merge_table / compact_mor) stay
        correct against merge-on-read writers: a deletion vector or
        delta append that lands after our snapshot applies only to
        directories with a strictly OLDER sequence, so our rewrite —
        built from the pre-change snapshot but committed with a NEWER
        sequence — would silently undo the delete / duplicate the
        upsert (the anomaly public Iceberg's validation phase rejects
        for exactly the same reason).  Key-overlap alone cannot catch
        it because dv/delta keys are fresh uuids.
        """
        payload = {"replace": replace}
        if remove:
            payload["remove"] = sorted(remove)
        if watermark:
            payload["watermark"] = watermark
        if schema:
            payload["schema"] = schema
        if bloom:
            payload["bloom"] = bloom
        if stats:
            payload["stats"] = stats
        ours = set(replace) | set(remove or ())
        attempt = base_version + 1
        for _ in range(max_retries):
            if self.try_commit(attempt, payload):
                return attempt
            # Lost the race for this slot: inspect the interloper.
            # Under a claim-then-write store (CoordinationClaimer /
            # S3), the winner's object may not be VISIBLE yet even
            # though its claim is — wait it out (bounded), the claim
            # guarantees the content is coming.
            other = self._read_commit_when_visible(attempt)
            theirs = set(other.get("replace", {})) | set(other.get("remove", []))
            overlap = theirs & ours
            if overlap:
                raise ConflictError(
                    f"keys {sorted(overlap)} were touched by commit "
                    f"{attempt} after our snapshot at {base_version}"
                )
            if conflict_key_prefixes:
                hits = sorted(
                    k for k in other.get("replace", {})
                    if k.startswith(conflict_key_prefixes)
                )
                if hits:
                    raise ConflictError(
                        f"merge-on-read keys {hits} were added by commit "
                        f"{attempt} after our snapshot at {base_version} — "
                        "a partition rewrite would silently shed them"
                    )
            attempt += 1
            # tiny backoff so N racing writers fan out over slots
            time.sleep(0.001)
        raise RuntimeError(f"gave up after {max_retries} commit attempts")


def stage_dir(table: str) -> str:
    """A unique, never-reused directory for one writer's one partition."""
    return os.path.join(table, STAGE_DIR, uuid.uuid4().hex)


def table_path(base: str, archive_index: int) -> str:
    return os.path.join(base, f"lake_archive={archive_index}")


def commit_rollup_days(
    spark: SparkSession,
    table: str,
    day_frames: Dict[str, DataFrame],
    watermark: Optional[dict] = None,
    base_version: Optional[int] = None,
) -> int:
    """Stage + commit one rollup batch: {day -> recomputed frame}.

    Stages every day to its own fresh directory (pure additions — no
    existing file is touched), then publishes the swap as ONE commit:
    readers see all days flip together or none (the snapshot
    semantics ``incremental_rollup`` could not give).  On
    ConflictError the staged dirs are simply abandoned (invisible
    garbage, collectable by any later vacuum) and the error
    propagates for the caller to recompute.

    ``base_version`` is the caller's READ snapshot of this table —
    pass the version observed BEFORE reading the inputs the frames
    were computed from, so any same-day commit that lands after that
    read raises ConflictError instead of being silently overwritten
    (``incremental_rollup_tx`` snapshots it before its bronze read).
    When omitted, the commit bases itself on the current version —
    only safe when the frames do not depend on other writers' data
    (single-writer use, or frames computed from external inputs).
    """
    return commit_partitions(
        spark,
        table,
        {f"day={day}": frame for day, frame in day_frames.items()},
        watermark=watermark,
        base_version=base_version,
    )


def commit_partitions(
    spark: SparkSession,
    table: str,
    frames: Dict[str, DataFrame],
    watermark: Optional[dict] = None,
    base_version: Optional[int] = None,
    conflict_key_prefixes: tuple = (),
    bloom_cols: Optional[List[str]] = None,
    minmax_cols: Optional[List[str]] = None,
) -> int:
    """The general form of ``commit_rollup_days``: stage + publish one
    batch of {full partition key ("col=value") -> frame} swaps as ONE
    commit.  Same staging (pure additions to fresh dirs, abandoned
    invisibly on conflict) and the same base_version conflict
    contract.  ``conflict_key_prefixes`` passes through to
    ``CommitLog.commit`` (the rewrite-vs-merge-on-read guard).

    ``bloom_cols`` (round 15): compute a per-directory Bloom filter
    over each named column and carry it IN the commit payload — the
    Delta bloom-index / Iceberg metadata-skipping shape.  The filter
    is the set of occupied bit positions (k=_BLOOM_K md5-derived
    hashes into _BLOOM_BITS bits), computed from the parquet files
    AS WRITTEN (never from the logical frame — the stats must
    describe the bytes a reader will scan).  ``read_table_lookup``
    prunes directories with it; no false negatives by construction.

    ``minmax_cols``: likewise carry per-directory zone-map stats
    {col: [min, max]} — the Iceberg manifest / parquet-footer shape
    lifted to the partition grain; ``read_table_range`` prunes with
    them.  Both stat kinds are computed from the files AS WRITTEN."""
    log = CommitLog(table)
    if base_version is None:
        base_version = log.state()["version"]
    replace = {}
    schema = None
    bloom: Dict[str, dict] = {}
    stats: Dict[str, dict] = {}
    for key, frame in frames.items():
        d = stage_dir(table)
        frame.write.mode("overwrite").parquet(d)
        replace[key] = d
        if schema is None:
            # register the batch schema (first registration for a new
            # table; widening no-op thereafter — state() merges)
            schema = _schema_pairs(frame)
        if bloom_cols:
            bloom[d] = _bloom_stats(spark, d, bloom_cols)
        if minmax_cols:
            stats[d] = _minmax_stats(spark, d, minmax_cols)
    return log.commit(
        base_version, replace, watermark,
        conflict_key_prefixes=conflict_key_prefixes,
        schema=schema,
        bloom=bloom or None,
        stats=stats or None,
    )


# ------------------------------------------------- bloom file skipping
# Per-directory Bloom filters in the commit payload: the point-lookup
# complement of min/max skipping (the w_zorder_skipping family) — a
# reader probing a key consults O(partitions) metadata and scans only
# the directories whose filter admits the key.  The hash is the
# repo-standard md5 spelling (deterministic, identical in Spark /
# DuckDB / Python), so the pruning decision itself is oracle-checkable.

_BLOOM_BITS = 4096   # bits per (directory, column) filter
_BLOOM_K = 4         # hash functions per value


def _bloom_position_cols(col: str):
    """The k Spark bit-position expressions for one value: position_i
    = first-8-hex of md5("<i>:<value>") mod _BLOOM_BITS.  Spelled
    identically in Python (`_bloom_positions_py`) and in oracle SQL
    (CAST('0x' || substring(md5(i || ':' || v), 1, 8) AS BIGINT))."""
    from pyspark.sql import functions as F

    return [
        F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    ":", F.lit(str(i)), F.col(col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % _BLOOM_BITS
        for i in range(_BLOOM_K)
    ]


def _bloom_positions_py(value) -> set:
    """Python twin of `_bloom_position_cols` for the metadata probe."""
    import hashlib

    return {
        int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:8], 16)
        % _BLOOM_BITS
        for i in range(_BLOOM_K)
    }


_BLOOM_TYPES = ("tinyint", "smallint", "int", "bigint", "string")

_BLOOM_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _normalize_probe(value, dtype: str):
    """Coerce one lookup probe to the probed column's dtype before
    hashing (ADVICE r15): the filter stored hashes of Spark's
    CAST(col AS STRING), so a probe must render the SAME text.
    Probing a bigint column with 13.0 or '13' would hash '0:13.0' /
    '0:13' — the raw str() of the float prunes every directory even
    though the final isin() would match via Spark's implicit cast, a
    silent false negative.  Integer columns therefore accept int,
    integral float, and int-parsable str (all coerced to int);
    string columns accept str and int (str(int) renders
    identically); anything else — bool (str→'True' vs Spark 'true'),
    non-integral float, None — fails loud, mirroring the build-side
    type gate in `_bloom_stats`."""
    if dtype in _BLOOM_INT_TYPES:
        if isinstance(value, bool) or value is None:
            raise ValueError(
                f"cannot probe {dtype} bloom column with {value!r}")
        if isinstance(value, int):
            return value
        if isinstance(value, float) and value.is_integer():
            return int(value)
        if isinstance(value, str):
            try:
                return int(value)
            except ValueError:
                raise ValueError(
                    f"cannot probe {dtype} bloom column with "
                    f"non-integer string {value!r}") from None
        raise ValueError(
            f"cannot probe {dtype} bloom column with "
            f"{type(value).__name__} {value!r}")
    # string column
    if isinstance(value, str):
        return value
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    raise ValueError(
        f"cannot probe string bloom column with "
        f"{type(value).__name__} {value!r}")


def _bloom_stats(spark: SparkSession, datadir: str, cols) -> dict:
    """{col: sorted occupied bit positions} for one written directory.
    One distinct-aggregate per column over the files as written; the
    result is ≤ _BLOOM_BITS ints per column — commit-payload-sized at
    any row count (the point of a Bloom filter).

    Column types are gated to integers and strings (REVIEW r15): the
    filter hashes Spark's CAST(col AS STRING) while the probe hashes
    Python's str(value), and only int/string render identically in
    both — a boolean ('true' vs 'True') or double ('1.0E8' vs
    '100000000.0') would produce FALSE NEGATIVES, silently violating
    the lookup's core law.  Fail loud at build time instead."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(datadir)
    types = dict(df.dtypes)
    out = {}
    for c in cols:
        if types.get(c) not in _BLOOM_TYPES:
            raise ValueError(
                f"bloom_cols column {c!r} has type {types.get(c)!r}: "
                "bloom filters support only integer/string columns "
                "(the Spark-side CAST AS STRING and the Python-side "
                "str(value) probe must render identically)"
            )
        rows = (
            df.select(F.explode(F.array(*_bloom_position_cols(c)))
                      .alias("pos"))
            .distinct()
            .collect()
        )
        out[c] = sorted(r.pos for r in rows)
    return out


_MINMAX_TYPES = ("tinyint", "smallint", "int", "bigint",
                 "float", "double", "string", "boolean")


def _minmax_stats(spark: SparkSession, datadir: str, cols) -> dict:
    """{col: [min, max]} zone-map stats for one written directory —
    ONE aggregate over the files as written; an all-NULL column
    records [None, None] (range pruning then conservatively keeps
    the directory).

    Column types are gated to the JSON-native kinds (REVIEW r15): a
    timestamp/date/decimal min would crash json.dumps inside
    CommitLog.try_commit — AFTER every partition was already staged —
    with an opaque serialization error; fail loud here instead (cast
    such columns to epoch longs / strings before committing)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(datadir)
    types = dict(df.dtypes)
    bad = [c for c in cols if types.get(c) not in _MINMAX_TYPES]
    if bad:
        raise ValueError(
            f"minmax_cols columns {bad} have non-JSON-native types "
            f"({[types.get(c) for c in bad]}): zone-map stats support "
            "int/float/string/boolean — cast timestamps/dates/decimals "
            "before committing"
        )
    row = df.agg(*(
        [F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)]
        + [F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)]
    )).first()
    return {c: [row[f"mn_{i}"], row[f"mx_{i}"]] for i, c in enumerate(cols)}


def read_table_range(
    spark: SparkSession,
    table: str,
    predicates: Dict[str, tuple],
    version: Optional[int] = None,
) -> DataFrame:
    """Range scan with zone-map pruning: ``predicates`` maps column →
    (lo, hi) inclusive bounds; a directory is pruned when ANY
    predicate's range is disjoint from its recorded [min, max].
    Directories without stats for a predicated column are always
    scanned (pruning is an optimization, never a correctness gate);
    an all-NULL recorded range likewise keeps the directory.  The
    returned frame is already filtered to every predicate, so the
    result is identical with or without the pruning — only the scan
    size changes."""
    from pyspark.sql import functions as F

    state, dirs = _resolve_eager(table, version)
    stats = state.get("stats", {})
    keep = [d for d in dirs
            if not _range_pruned(stats.get(d, {}), predicates)]
    cond = None
    for c, (lo, hi) in predicates.items():
        p = F.col(c).between(lo, hi)
        cond = p if cond is None else (cond & p)
    if not keep:
        return (
            spark.read.option("mergeSchema", "true").parquet(*dirs)
            .where(F.lit(False))
        )
    out = spark.read.option("mergeSchema", "true").parquet(*keep)
    return out.where(cond) if cond is not None else out


def _range_pruned(dir_stats: dict, predicates: Dict[str, tuple]) -> bool:
    """True when ANY predicate's range is provably disjoint from the
    directory's recorded [min, max] for that column."""
    for c, (lo, hi) in predicates.items():
        rng = dir_stats.get(c)
        if not rng or rng[0] is None or rng[1] is None:
            continue                       # no/NULL stats -> must scan
        if rng[1] < lo or rng[0] > hi:
            return True
    return False


def optimize_table(
    spark: SparkSession,
    table: str,
    zvalue,
    z_domain: int,
    n_buckets: int,
    minmax_cols: Optional[List[str]] = None,
    bloom_cols: Optional[List[str]] = None,
    base_version: Optional[int] = None,
) -> int:
    """OPTIMIZE: rewrite the whole table clustered by ``zvalue`` (a
    Column expression — typically the Morton interleave of quantized
    dimensions, which the caller spells so the clustering key stays
    oracle-replayable) into ``n_buckets`` value-range buckets, as ONE
    atomic commit that removes every old partition key and adds the
    ``zbucket=<i>`` keys — the Delta ``OPTIMIZE ZORDER BY`` shape on
    this commit log.

    Bucketing is BY VALUE — bucket = (z · n_buckets) div (z_domain)
    for z in [0, z_domain) — so the assignment is a pure map
    (deterministic, no global sort, no sampled range boundaries; the
    trade is data-dependent bucket sizes, bounded by the quantized
    grid's uniformity).  Each bucket is additionally sorted by z
    within its directory so parquet row-group stats tighten too.
    Fresh zone-map/bloom stats are recorded for the new directories;
    after the rewrite, range probes that previously touched every
    partition prune to the buckets whose z-range overlaps — the
    measurable win ``w_lakehouse_optimize`` oracles.

    Concurrency: the commit removes ALL old keys, so any interleaved
    commit touching any partition raises ConflictError (an OPTIMIZE
    is a whole-table rewrite — the coarsest possible conflict
    footprint, same as public Delta's OPTIMIZE vs concurrent writes
    to the same files), and the MoR prefix guard rejects interleaved
    deletion vectors / delta appends the rewrite would shed."""
    from pyspark.sql import functions as F

    log = CommitLog(table)
    if base_version is None:
        base_version = log.state()["version"]
    cur = read_table(spark, table, version=base_version)
    old_keys = sorted(CommitLog(table).state(at_version=base_version)
                      ["partitions"])
    z = zvalue.cast("long")
    bucketed = cur.withColumn("_opt_z", z)
    # REVIEW r15: a NULL z (NULL dimension) or a z outside
    # [0, z_domain) would match NO bucket frame while the commit still
    # removes every old key — the row would silently vanish from a
    # verb whose whole contract is content preservation.  Fail loud.
    n_bad = bucketed.where(
        F.col("_opt_z").isNull()
        | (F.col("_opt_z") < 0)
        | (F.col("_opt_z") >= z_domain)
    ).count()
    if n_bad:
        raise ValueError(
            f"optimize_table: {n_bad} rows have a NULL or out-of-"
            f"[0, {z_domain}) z-value — they would be dropped by the "
            "remove-all/add-buckets commit; fix the zvalue expression "
            "(coalesce NULL dimensions, widen z_domain)"
        )
    # integer div, not double `/` (REVIEW r15): past 2^53 the IEEE
    # quotient rounds across bucket boundaries and diverges from the
    # oracle's exact `//`
    bucketed = bucketed.withColumn(
        "_opt_bucket",
        F.expr(f"(_opt_z * {int(n_buckets)}) div {int(z_domain)}"),
    )
    frames = {}
    for i in range(n_buckets):
        f = (
            bucketed.where(F.col("_opt_bucket") == i)
            .sortWithinPartitions("_opt_z")
            .drop("_opt_z", "_opt_bucket")
        )
        frames[f"zbucket={i}"] = f
    # stage + stat exactly like commit_partitions, but with removes;
    # an EMPTY bucket is not registered at all — its stats would be
    # [None, None], which range pruning must treat as "always scan"
    # (the conservative contract), silently un-pruning every probe
    replace, bloom, stats = {}, {}, {}
    schema = None
    for key, frame in frames.items():
        d = stage_dir(table)
        frame.write.mode("overwrite").parquet(d)
        if spark.read.parquet(d).limit(1).count() == 0:
            continue
        replace[key] = d
        if schema is None:
            schema = _schema_pairs(frame)
        if bloom_cols:
            bloom[d] = _bloom_stats(spark, d, bloom_cols)
        if minmax_cols:
            stats[d] = _minmax_stats(spark, d, minmax_cols)
    return log.commit(
        base_version, replace,
        remove=old_keys,
        conflict_key_prefixes=MOR_PREFIXES,
        schema=schema,
        bloom=bloom or None,
        stats=stats or None,
    )


def read_table_lookup(
    spark: SparkSession,
    table: str,
    col: str,
    values,
    version: Optional[int] = None,
) -> DataFrame:
    """Point-lookup scan: resolve the manifest, consult each live
    directory's Bloom filter for ``col``, and scan ONLY the
    directories whose filter admits at least one probed value —
    O(partitions) metadata work, then a scan sized by the true hit
    set plus the filter's false positives.  Directories committed
    WITHOUT a bloom for ``col`` are always scanned (conservative:
    pruning is an optimization, never a correctness gate).  No false
    negatives by construction: a value written to a directory set
    every one of its bit positions in that directory's filter.

    The returned frame is already filtered to ``col IN values``."""
    from pyspark.sql import functions as F

    state, dirs = _resolve_eager(table, version)
    bloom = state.get("bloom", {})
    values = list(values)   # REVIEW r15: a generator would be
    #                         exhausted by the probe pass below, then
    #                         isin([]) would silently return nothing
    # ADVICE r15: coerce probes to the column's registered dtype
    # BEFORE hashing — a float/str probe of an int column renders
    # different hash text than the build side's CAST AS STRING, which
    # would prune directories the final isin() matches (a silent
    # false negative).  Dtype comes from the committed schema, else
    # from the parquet footers (metadata-only read).
    dtype = dict(state.get("schema") or [])
    if col not in dtype:
        dtype = dict(spark.read.option("mergeSchema", "true")
                     .parquet(*dirs).dtypes)
    if col not in dtype:
        raise ValueError(f"lake table {table} has no column {col!r}")
    # Only bloom-typed columns are normalized (REVIEW r16): a column
    # outside _BLOOM_TYPES can never HAVE a filter (the build gate),
    # so its probes go straight to the scan-all + isin path unchanged
    # — normalizing them would reject e.g. a double-column lookup
    # that has always worked.
    if dtype[col] in _BLOOM_TYPES:
        values = [_normalize_probe(v, dtype[col]) for v in values]
    probes = [_bloom_positions_py(v) for v in values]
    keep = []
    for d in dirs:
        positions = bloom.get(d, {}).get(col)
        if positions is None:
            keep.append(d)          # no filter -> must scan
            continue
        pset = set(positions)
        if any(p <= pset for p in probes):
            keep.append(d)
    if not keep:
        # every directory pruned: correct (no false negatives) —
        # return the empty frame in the table's schema
        return (
            spark.read.option("mergeSchema", "true").parquet(*dirs)
            .where(F.lit(False))
        )
    return (
        spark.read.option("mergeSchema", "true").parquet(*keep)
        .where(F.col(col).isin(list(values)))
    )


def merge_table(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols,
    part_col: str,
    base_version: Optional[int] = None,
    allow_moves: bool = True,
) -> int:
    """Delta-style MERGE as copy-on-write upsert: WHEN MATCHED on
    ``key_cols`` THEN UPDATE SET *, WHEN NOT MATCHED THEN INSERT *.

    Only the partitions the merge touches are rewritten — each
    becomes (existing rows whose key is NOT in the batch) ∪ (the
    batch's rows for that partition); untouched partitions keep their
    files byte-for-byte.  The swap publishes as ONE commit on top of
    ``base_version`` (default: the current version, which is also the
    snapshot the existing rows are read at), so a racing commit that
    touches one of our partitions raises ConflictError instead of
    being silently overwritten — the caller re-reads and retries, the
    ``incremental_rollup_tx`` discipline.

    PARTITION-MOVING KEYS (the gap ROADMAP carried since round 11,
    closed round 15): with ``allow_moves=True`` (the default) a
    matched key whose partition value CHANGES across the merge is
    handled as the delete+insert it semantically is — the snapshot is
    probed (one key-semi-join) for every partition that currently
    holds an updated key, those SOURCE partitions join the rewrite
    set, and the per-partition keep-side anti-joins against the
    batch's FULL key set so the stale copy is removed from the old
    partition in the same atomic commit that inserts the new one.
    ``allow_moves=False`` is the fast path that skips the probe: the
    touched set is exactly the batch's partition values and the
    keep-side anti-join is per-partition — correct ONLY under the
    old contract that matched keys never move (the same assumption
    Delta/Iceberg make when partition-pruning the match); a key that
    does move leaves its stale copy behind.

    Scale shape: the touched-partition list is a driver-side
    ``collect`` over distinct partition values — O(touched
    partitions), control-plane only (the lakehouse file-pruning
    step).  The move probe is the one full-snapshot pass (a key
    semi-join that AQE broadcasts by the batch's key set — the cost
    Delta's MERGE pays in its find-touched-files join); ``allow_moves
    =False`` exists precisely so callers who KNOW keys are
    partition-stable can skip it.  The per-partition anti-join +
    union and every write are distributed, and the anti-join's right
    side is the batch's key set (small — AQE broadcasts it).
    """
    from pyspark.sql import functions as F

    log = CommitLog(table)
    # one log replay serves the version default, the scheme guard,
    # and the schema-registry lookup (REVIEW r15: was three)
    st = log.state(at_version=base_version)
    if base_version is None:
        base_version = st["version"]
    # Partition-scheme guard (found by the round-15 MODEL TEST, not a
    # reviewer): merge addresses partitions BY KEY ("<part_col>=<v>"),
    # so on a table whose live keys follow a different scheme — e.g.
    # the zbucket= layout an optimize_table rewrite leaves behind —
    # the rewrite would ADD overlapping keys next to the existing
    # ones and duplicate every matched row.  Row-level changes on a
    # re-keyed table go through the layout-agnostic MoR verbs.
    alien = sorted(
        k for k in st["partitions"]
        if not k.startswith((f"{part_col}=",) + MOR_PREFIXES)
    )
    if alien:
        raise ValueError(
            f"lake table {table} has live partition keys {alien[:3]} "
            f"outside the '{part_col}=' scheme (an OPTIMIZE rewrite "
            "re-keys the table): a partition-addressed merge would "
            "duplicate rows — use the key-addressed MoR verbs "
            "(upsert_rows_mor/delete_rows_mor) instead"
        )
    parts = [
        r[0] for r in updates.select(part_col).distinct().collect()
    ]
    cur = read_table(spark, table, version=base_version)
    keys = list(key_cols)
    # schema evolution: an update batch with NEW columns widens (kept
    # rows read the new column as NULL; the widened frames register
    # their schema through commit_partitions); a type conflict
    # against the registry raises here, before any rewrite
    _widened_schema(st["schema"] or _schema_pairs(cur), updates)
    all_keys = updates.select(*keys).distinct()
    if allow_moves:
        # every partition currently holding an updated key must also
        # rewrite, or a key that moved partitions leaves a stale copy
        src_parts = [
            r[0] for r in cur.join(all_keys, keys, "left_semi")
            .select(part_col).distinct().collect()
        ]
        known = set(parts)
        parts = parts + [p for p in src_parts if p not in known]
    frames = {}
    for p in parts:
        old = cur.where(F.col(part_col) == p)
        new = updates.where(F.col(part_col) == p)
        # under allow_moves the keep side sheds EVERY updated key
        # (a moved key's old copy included); the fast path only
        # needs this partition's batch keys
        drop = all_keys if allow_moves else new.select(*keys).distinct()
        keep = old.join(drop, keys, "left_anti")
        frames[f"{part_col}={p}"] = keep.unionByName(
            new, allowMissingColumns=True)
    # rewrites conflict with ANY interleaved merge-on-read key (see
    # CommitLog.commit): a dv/delta landing after our snapshot would
    # be silently shed by our newer-sequence rewrite otherwise.
    return commit_partitions(
        spark, table, frames, base_version=base_version,
        conflict_key_prefixes=MOR_PREFIXES,
    )


def read_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: Optional[int] = None,
) -> DataFrame:
    """Change-data-feed read: the row-level difference between two
    committed versions, as the table's columns plus ``_change_type``
    ('insert' | 'delete') — the PRODUCING half of the CDC story
    (``st_lakehouse_merge`` / ``st_lakehouse_mor`` are the consuming
    half).  An UPDATE surfaces as its delete+insert pair (bag-diff
    semantics — without stored pre/post-image change files there is
    nothing that ties the two rows together; public Delta makes the
    same reduction when CDF was not enabled at write time).

    Semantics are BAG-exact: deletes = old ⊖ new and inserts = new ⊖
    old under ``exceptAll`` (multiset difference), so duplicate rows
    diff by multiplicity, not presence.  Both snapshots are the
    eager reads — a version range with live merge-on-read keys
    raises (``read_table``'s contract); compact first.

    Scale shape: this is the compute-from-data path — two snapshot
    scans + one bag anti-diff each (Spark plans exceptAll as a
    hash-based left-anti over counted rows); correct at any size but
    priced by the table, not the change set.  The O(changes) path is
    ``read_changes_mor`` — reading dv/delta/pdv metadata keys
    directly when every commit in the range is merge-on-read; at
    100 TB you enable it exactly like Delta enables CDF, by paying a
    little at write time to avoid the diff at read time."""
    from pyspark.sql import functions as F

    if to_version is None:
        to_version = CommitLog(table).state()["version"]
    old = read_table(spark, table, version=from_version)
    new = read_table(spark, table, version=to_version)
    # REVIEW r15: a pos-stamped table carries the internal _pos
    # ordinal in its files — an ADDRESS, not data.  Left in the bag
    # diff it would surface value-identical rewrites as changes and
    # leak into the feed schema.
    old, new = old.drop(POS_COL), new.drop(POS_COL)
    return _bag_diff_feed(
        old, new, f"read_changes({table!r}, v{from_version}->v{to_version})")


def _bag_diff_feed(old: DataFrame, new: DataFrame, label: str) -> DataFrame:
    """The shared CDF tail (REVIEW r16 — was duplicated verbatim in
    read_changes and read_changes_mor): the evolution-boundary guard
    + the sorted-column bag diff with ``_change_type``.

    The guard (ADVICE r15): a schema-evolution boundary inside the
    range means the endpoints have different column sets, and
    exceptAll would die with a raw AnalysisException deep in the
    plan.  Fail loud and NAMED instead — CDF across an evolution
    boundary has no single answer (is every old row "changed"
    because a new column appeared as NULL?), so the caller picks a
    side by reading sub-ranges that stop at the boundary, or by
    diffing explicit projections of the common columns."""
    from pyspark.sql import functions as F

    if set(old.columns) != set(new.columns):
        evolved = sorted(set(old.columns) ^ set(new.columns))
        raise ValueError(
            f"{label} crosses a schema-evolution boundary: column(s) "
            f"{evolved} exist in only one endpoint snapshot. Read "
            "sub-ranges that stop at the evolving commit, or diff "
            "projections of the common columns explicitly."
        )
    old, new = old.select(sorted(old.columns)), new.select(sorted(new.columns))
    deletes = old.exceptAll(new).withColumn("_change_type",
                                            F.lit("delete"))
    inserts = new.exceptAll(old).withColumn("_change_type",
                                            F.lit("insert"))
    return deletes.unionByName(inserts)


def read_changes_mor(
    spark: SparkSession,
    table: str,
    key_cols,
    from_version: int,
    to_version: Optional[int] = None,
) -> DataFrame:
    """The O(changes) change-data-feed fast path: when every commit in
    (from_version, to_version] is equality merge-on-read (dv/delta
    keys only), the CHANGED KEY SET is exactly the union of the
    range's deletion-vector keys and delta rows' keys — read from the
    METADATA dirs, never from the table.  The feed is then the bag
    diff of the two endpoint snapshots RESTRICTED to those keys (a
    key untouched by every commit in the range is identical at both
    endpoints by construction), so the exceptAll runs over O(changed
    rows) and the endpoint scans carry a key semi-join the source can
    prune on (bloom/zone-map skipping compose here).  This is the
    read side of Delta's enable-CDF trade: the write already paid
    for the metadata; the read never diffs the table.

    Interactions inside the range need no special cases — the diff
    of ENDPOINT snapshots absorbs them: upsert-then-delete nets to
    the pre-image delete, delete-then-re-add nets to the value diff,
    and a value-identical re-upsert nets to NOTHING (bag
    cancellation; all pytest-pinned).

    Positional-delete commits (pdv) are covered too (VERDICT r15
    item 2): a pdv names (directory, position) pairs, so its changed
    KEYS are resolved by scanning ONLY the addressed directories —
    a broadcast position semi-join per directory, O(addressed dirs)
    not O(table) — and folded into the same changed-key set.  Still
    raises when the range contains a REWRITE commit (a rewrite
    touches unnamed rows — use ``read_changes``)."""
    from pyspark.sql import functions as F

    log = CommitLog(table)
    if to_version is None:
        to_version = log.state()["version"]
    keys = list(key_cols)
    change_dirs, pdv_dirs = [], []
    for v in log.versions():
        if not (from_version < v <= to_version):
            continue
        c = log.read_commit(v)
        bad = [k for k in list(c.get("replace", {})) + list(c.get("remove", []))
               if not k.startswith(MOR_PREFIXES)]
        if bad or c.get("remove"):
            raise ValueError(
                f"commit {v} of {table} touches non-MoR keys "
                f"{sorted(bad) or c.get('remove')}: the O(changes) fast "
                "path only covers dv/delta/pdv ranges — use read_changes"
            )
        for k, d in c["replace"].items():
            (pdv_dirs if k.startswith(PDV_PREFIX) else change_dirs).append(d)
    ck = None
    for d in change_dirs:
        f = spark.read.parquet(d).select(*keys)
        ck = f if ck is None else ck.unionByName(f)
    if pdv_dirs:
        # Resolve (dir, pos) tombstones to KEYS by scanning only the
        # addressed data directories.  The distinct-dir collect is
        # control-plane (bounded by the table's directory count); the
        # per-directory probe is a broadcast position semi-join, so
        # the scan cost is the addressed directories, never the
        # table.  Joining per-directory (not on a global _pos) keeps
        # positions from different directories from cross-matching —
        # _pos is only unique WITHIN a directory.
        pdv = None
        for d in pdv_dirs:
            f = spark.read.parquet(d)   # columns: _dir, _pos
            pdv = f if pdv is None else pdv.unionByName(f)
        addressed = sorted(
            r._dir for r in pdv.select("_dir").distinct().collect()
        )
        for ad in addressed:
            pos = pdv.where(F.col("_dir") == ad).select(POS_COL).distinct()
            f = (
                spark.read.parquet(ad)
                .join(F.broadcast(pos), POS_COL, "left_semi")
                .select(*keys)
            )
            ck = f if ck is None else ck.unionByName(f)
    if ck is None:
        # No changed keys: the range is empty, OR its only commits
        # are pdvs with EMPTY tombstone sets (delete_rows_pos of a
        # zero-row frame) — either way the feed is empty in the
        # table's schema (REVIEW r16: this guard subsumes what used
        # to be a separate empty-range early return).
        base = read_table_mor(spark, table, keys,
                              version=to_version).drop(POS_COL)
        return (
            base.select(sorted(base.columns))
            .withColumn("_change_type", F.lit("insert"))
            .where(F.lit(False))
        )
    ck = materialize(ck.distinct(), "read_changes_mor:changed keys")
    # The changed-key set is FORCE-broadcast into both endpoint scans
    # — correct for the CDF contract (O(changes) by definition), but
    # a pathological range whose change set approaches table size
    # would OOM the executors through this hint (VERDICT r16 watch
    # item).  The guard makes the trade explicit: past the bound, the
    # caller is in rewrite-scale territory and the honest path is the
    # full-diff `read_changes` (the same loud-rejection contract as
    # the rewrite-commit check above).  The count is control-plane
    # (the set is checkpointed and reused by both semi-joins below).
    n_ck = ck.count()
    if n_ck > _MOR_CDF_MAX_KEYS:
        raise ValueError(
            f"read_changes_mor({table!r}, v{from_version}->"
            f"v{to_version}): {n_ck} changed keys exceeds the "
            f"broadcast bound ({_MOR_CDF_MAX_KEYS}) — a change set "
            "this large is rewrite-scale; use read_changes (full "
            "snapshot diff) instead"
        )
    old = read_table_mor(spark, table, keys, version=from_version)
    new = read_table_mor(spark, table, keys, version=to_version)
    old = old.join(F.broadcast(ck), keys, "left_semi")
    new = new.join(F.broadcast(ck), keys, "left_semi")
    # the internal _pos ordinal is an address, not data (see
    # read_changes) — upsert_rows_mor re-stamps it, so leaving it in
    # would break the value-identical-re-upsert cancellation
    old, new = old.drop(POS_COL), new.drop(POS_COL)
    # a delta-append commit can widen the schema mid-range — the
    # shared tail fails loud on the boundary (ADVICE r15)
    return _bag_diff_feed(
        old, new,
        f"read_changes_mor({table!r}, v{from_version}->v{to_version})")


def vacuum(table: str, min_age_seconds: int = 3600) -> List[str]:
    """Remove staged data directories no commit references, the garbage
    left by conflicted/crashed writers and by superseded partitions.

    Age-gated exactly like public Delta's VACUUM retention window: a
    directory is only removed when its mtime is older than
    ``min_age_seconds``, so a LIVE writer that has staged but not yet
    committed cannot lose its output (its dirs are younger than any
    sane retention).  Never touches the commit log or any referenced
    dir.  Returns the removed directories.
    """
    import shutil

    stage_root = os.path.join(table, STAGE_DIR)
    if not os.path.isdir(stage_root):
        return []
    live = set(CommitLog(table).state()["partitions"].values())
    cutoff = time.time() - min_age_seconds
    removed = []
    for name in sorted(os.listdir(stage_root)):
        d = os.path.join(stage_root, name)
        if d in live:
            continue
        if os.path.getmtime(d) > cutoff:
            continue
        shutil.rmtree(d, ignore_errors=True)
        removed.append(d)
    return removed


def clone_table(src: str, dst: str, version: Optional[int] = None) -> int:
    """SHALLOW CLONE (public Delta's ``CREATE TABLE ... SHALLOW
    CLONE``): mint ``dst`` by REPLAYING ``src``'s commit log —
    metadata only, ZERO data copied; every commit references the
    source's data directories.  ``version`` truncates the replay to a
    time-travel snapshot.

    Replaying commits (REVIEW r16, found by the second review pass)
    rather than flattening the resolved state into one v1 manifest is
    load-bearing for merge-on-read fidelity: ``read_table_mor``
    derives each key's SHADOWING SEQUENCE from its commit version, so
    a flattened clone would collapse every sequence to 1 — equality
    deletion vectors would stop shadowing anything and the clone
    would silently resurrect deleted rows and duplicate upserted keys
    (and the watermark payload restart-safe writers rely on would be
    dropped).  The replay preserves version numbers exactly, so the
    clone's MoR reads, watermarks AND time travel behave like the
    source's, at O(versions) metadata cost — still no data moved.

    Divergence is copy-on-write per side: subsequent writes stage
    fresh directories under their own table root; untouched
    partitions keep sharing bytes forever.  The shallow-clone trade
    is public Delta's verbatim: ``vacuum`` on the SOURCE considers
    only the source's own manifest, so a source rewrite followed by
    source vacuum can reclaim a directory the clone still references
    — the clone's read then fails with the standard vacuum-window
    error (loud, pytest-pinned).  Production policy is the same as
    Delta documents: don't vacuum sources of live shallow clones
    inside their retention window."""
    src_log = CommitLog(src)
    versions = src_log.versions()
    if version is not None:
        if version not in versions:
            raise ValueError(
                f"version {version} does not exist in {src}")
        versions = [v for v in versions if v <= version]
    if not versions:
        raise FileNotFoundError(f"lake table {src} has no committed data")
    log = CommitLog(dst)
    if log.versions():
        raise ValueError(
            f"clone target {dst} already has commits — clone only "
            "mints NEW tables (divergence happens via normal writes)"
        )
    head = 0
    for v in versions:
        c = src_log.read_commit(v)
        head = log.commit(
            v - 1,
            c.get("replace", {}),
            watermark=c.get("watermark"),
            remove=c.get("remove"),
            schema=c.get("schema"),
            bloom=c.get("bloom"),
            stats=c.get("stats"),
        )
    return head


def read_table(
    spark: SparkSession, table: str, version: Optional[int] = None
) -> DataFrame:
    """Snapshot read: resolve the manifest once, scan only live dirs.

    ``version`` pins a time-travel read — the scan covers exactly the
    data directories the commit log referenced at that version
    (reproducible until ``vacuum``'s retention window reclaims a
    superseded directory, the standard lakehouse trade).  A pinned
    read whose directories were already reclaimed fails UP FRONT with
    a clear error naming the trade, not a mid-scan path error from
    the parquet reader (tested by
    test_time_travel_after_vacuum_fails_cleanly)."""
    _, dirs = _resolve_eager(table, version)
    return spark.read.option("mergeSchema", "true").parquet(*dirs)


def _resolve_eager(table: str, version: Optional[int]):
    """The shared eager-read preamble (read_table / read_table_lookup
    / read_table_range — REVIEW r15: was triplicated, and the two
    stat readers had dropped the vacuum-reclaimed up-front check):
    resolve the snapshot, refuse live merge-on-read keys, refuse an
    empty table, and fail a pinned read cleanly when vacuum already
    reclaimed a referenced directory.  Returns (state, sorted live
    dirs)."""
    state = CommitLog(table).state(at_version=version)
    mor = [k for k in state["partitions"]
           if k.startswith(MOR_PREFIXES)]
    if mor:
        raise ValueError(
            f"lake table {table} has {len(mor)} live merge-on-read "
            "key(s) (deletion vectors / delta appends): the eager "
            "reader would silently ignore them — read via "
            "read_table_mor, or materialize with compact_mor first"
        )
    dirs = sorted(set(state["partitions"].values()))
    if not dirs:
        raise FileNotFoundError(f"lake table {table} has no committed data")
    if version is not None:
        gone = [d for d in dirs if not os.path.isdir(d)]
        if gone:
            raise FileNotFoundError(
                f"time travel to version {version} of {table} is no longer "
                f"reproducible: {len(gone)} referenced data directories "
                f"(e.g. {gone[0]}) were reclaimed by vacuum — pinned reads "
                "are only guaranteed inside the vacuum retention window"
            )
    return state, dirs


# -------------------------------------------------------- merge-on-read
# The READ-side complement of merge_table's copy-on-write: DELETEs and
# UPSERTs publish as metadata-only commits (an equality-deletion-vector
# key set + a delta-append dir), and the scan applies them — no base
# file is rewritten until an explicit compact_mor.  This is public
# Iceberg's equality-delete / Delta's deletion-vector shape, with the
# standard sequencing rule: a delete applies ONLY to rows from
# directories whose commit sequence is STRICTLY OLDER than the
# delete's, so rows re-added by a later append are untouched, and a
# partition rewritten by copy-on-write MERGE (new dir ⇒ new sequence)
# sheds every older tombstone automatically.

DV_PREFIX = "dv/"
DELTA_PREFIX = "delta/"
PDV_PREFIX = "pdv/"
# every merge-on-read manifest-key family: equality deletion vectors,
# delta appends, positional deletion vectors
MOR_PREFIXES = (DV_PREFIX, DELTA_PREFIX, PDV_PREFIX)

# read_changes_mor's broadcast bound: past this many changed keys a
# "change data feed" is rewrite-scale and the forced key broadcast
# would OOM executors — the read rejects loudly toward read_changes.
# Sized to a few hundred MB of broadcast keys on a production
# executor; trivially above anything the test SFs produce.
_MOR_CDF_MAX_KEYS = 10_000_000


def _mor_key_versions(
    log: CommitLog, at_version: Optional[int] = None
) -> Dict[str, tuple]:
    """{key: (version-last-added, datadir)} by full-log replay —
    read_table_mor needs each key's commit SEQUENCE, which ``state()``
    (checkpoint-accelerated) does not carry.  Commits are immutable
    and never deleted, so the full replay is always available;
    control-plane O(log) only."""
    out: Dict[str, tuple] = {}
    versions = log.versions()
    if at_version is not None:
        if at_version not in versions:
            raise ValueError(
                f"version {at_version} does not exist in {log.table}"
            )
        versions = [v for v in versions if v <= at_version]
    for v in versions:
        c = log.read_commit(v)
        for key in c.get("remove", []):
            out.pop(key, None)
        for key, datadir in c.get("replace", {}).items():
            out[key] = (v, datadir)
    return out


def delete_rows_mor(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    base_version: Optional[int] = None,
) -> int:
    """MoR DELETE: stage the key set as an equality deletion vector
    and publish it as ONE metadata commit — ZERO data partitions are
    touched or rewritten (the entire point; contrast merge_table's
    per-partition rewrite).  The tombstone applies at scan time to
    every row from a strictly older directory.  Returns the committed
    version."""
    log = CommitLog(table)
    if base_version is None:
        base_version = log.state()["version"]
    d = stage_dir(table)
    keys.write.mode("overwrite").parquet(d)
    return log.commit(base_version, {f"{DV_PREFIX}{uuid.uuid4().hex}": d})


def upsert_rows_mor(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols,
    base_version: Optional[int] = None,
) -> int:
    """MoR UPSERT: ONE commit adding a delta-append directory (the new
    row versions) plus the deletion vector shadowing the replaced
    keys in all older directories.  Both land at the SAME sequence,
    so the tombstone cannot touch the delta it ships with (strict
    inequality).  No base file is rewritten.  Returns the committed
    version.

    Pos-stamped tables (written via commit_partitions_pos): the delta
    rows are stamped with fresh ``_pos`` ordinals automatically, so
    the merged scan's union stays schema-aligned and the delta stays
    positionally addressable."""
    from pyspark.sql import functions as F

    log = CommitLog(table)
    if base_version is None:
        base_version = log.state()["version"]
    kv = _mor_key_versions(log, at_version=base_version)
    data_dirs = [d for k, (_, d) in sorted(kv.items())
                 if not k.startswith(MOR_PREFIXES)]
    if data_dirs and POS_COL not in updates.columns:
        # control-plane schema probe of ONE live data dir
        if POS_COL in spark.read.parquet(data_dirs[0]).columns:
            updates = updates.withColumn(
                POS_COL, F.monotonically_increasing_id())
    d_rows = stage_dir(table)
    d_keys = stage_dir(table)
    updates.write.mode("overwrite").parquet(d_rows)
    updates.select(*key_cols).distinct().write.mode("overwrite").parquet(d_keys)
    # schema evolution: a batch with NEW columns widens the registry
    # (the commit payload carries the merged schema; the scan unions
    # with allowMissingColumns, so pre-evolution rows read as NULL).
    # A type conflict against the registry raises in _widened_schema.
    widened = _widened_schema(
        log.state()["schema"] or _base_schema_pairs(spark, log), updates)
    return log.commit(base_version, {
        f"{DELTA_PREFIX}{uuid.uuid4().hex}": d_rows,
        f"{DV_PREFIX}{uuid.uuid4().hex}": d_keys,
    }, schema=widened)


def _base_schema_pairs(spark: SparkSession, log: CommitLog) -> List[List[str]]:
    """Registry fallback for tables committed before schema
    registration existed: probe ONE live data directory's parquet
    schema (control-plane)."""
    st = log.state()
    for key, d in sorted(st["partitions"].items()):
        if not key.startswith(MOR_PREFIXES):
            return _schema_pairs(spark.read.parquet(d))
    return []


def _schema_pairs(df: DataFrame) -> List[List[str]]:
    """[[name, simple-DDL-type], ...] — the commit-payload registry
    entry for a frame's schema."""
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _widened_schema(registered: List[List[str]],
                    updates: DataFrame) -> Optional[List[List[str]]]:
    """The registered schema merged with the update batch's — None
    when the batch adds nothing new.  A type CONFLICT (same name,
    different type) raises: evolution is append-only widening, never
    a silent rewrite of an existing column's type."""
    reg = {n: t for n, t in registered}
    new = []
    for n, t in _schema_pairs(updates):
        if n in reg:
            if reg[n] != t:
                raise ValueError(
                    f"schema evolution conflict: column {n!r} is "
                    f"registered as {reg[n]!r} but the update batch "
                    f"carries {t!r} — widening never retypes"
                )
        else:
            new.append([n, t])
    return (registered + new) if new else None


# Column name of the stable per-directory row ordinal positional
# deletes address.  It is a REAL persisted column minted at write
# time (never re-derived at read time — that is what makes positions
# stable), public Iceberg v2's `pos` made explicit.
POS_COL = "_pos"


def commit_partitions_pos(
    spark: SparkSession,
    table: str,
    partitions: Dict[str, DataFrame],
    base_version: int = 0,
) -> int:
    """commit_partitions with positional addressing: every row is
    stamped with a stable ``_pos`` ordinal BEFORE the parquet write,
    so positional deletion vectors can name physical rows later.

    ``_pos`` is ``monotonically_increasing_id()`` — unique within the
    directory, minted shuffle-free at write time and PERSISTED, which
    is the whole stability contract (a position is an address, not a
    rank; it never needs to be dense, only unique and immutable).  At
    production scale this is the per-file ordinal the writer mints
    (Iceberg v2 data_file.pos); per-directory here because the
    directory is this layer's file granularity."""
    from pyspark.sql import functions as F

    stamped = {}
    for key, df in partitions.items():
        if POS_COL in df.columns:
            raise ValueError(
                f"partition {key!r} already carries {POS_COL!r} — "
                "commit_partitions_pos mints positions itself"
            )
        stamped[key] = df.withColumn(
            POS_COL, F.monotonically_increasing_id())
    return commit_partitions(
        spark, table, stamped, base_version=base_version)


def read_table_pos(
    spark: SparkSession,
    table: str,
    version: Optional[int] = None,
) -> DataFrame:
    """The ADDRESSING scan: data ∪ delta rows with their directory
    path exposed as ``_dir`` (next to the persisted ``_pos``), which
    is exactly what a caller needs to build a positional delete set —
    filter rows by content, keep (_dir, _pos).  Applies NO deletion
    vectors (it names physical rows, including ones already
    shadowed); use read_table_mor for the merged view."""
    from pyspark.sql import functions as F

    kv = _mor_key_versions(CommitLog(table), at_version=version)
    frames = []
    for key, (_, d) in sorted(kv.items()):
        if not key.startswith((DV_PREFIX, PDV_PREFIX)):
            df = spark.read.parquet(d)
            if POS_COL not in df.columns:
                raise ValueError(
                    f"lake table {table} dir {key!r} carries no "
                    f"{POS_COL!r} column — write via "
                    "commit_partitions_pos for positional addressing"
                )
            frames.append(df.withColumn("_dir", F.lit(d)))
    if not frames:
        raise FileNotFoundError(f"lake table {table} has no committed data")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def delete_rows_pos(
    spark: SparkSession,
    table: str,
    positions: DataFrame,
    base_version: Optional[int] = None,
) -> int:
    """Positional MoR DELETE: stage the (_dir, _pos) set as a
    positional deletion vector and publish it as ONE metadata commit
    — ZERO data partitions are touched (same contract as
    delete_rows_mor, for predicates that are not key-shaped: "this
    physical row", e.g. one of several content-identical duplicates,
    which no equality vector can express).  Applies to rows of
    directories with sequence <= the vector's own (see
    read_table_mor's sequencing note).  Returns the committed
    version."""
    missing = {"_dir", POS_COL} - set(positions.columns)
    if missing:
        raise ValueError(
            f"positional delete set must carry columns "
            f"['_dir', {POS_COL!r}]; missing {sorted(missing)}"
        )
    log = CommitLog(table)
    if base_version is None:
        base_version = log.state()["version"]
    d = stage_dir(table)
    positions.select("_dir", POS_COL).write.mode("overwrite").parquet(d)
    return log.commit(base_version, {f"{PDV_PREFIX}{uuid.uuid4().hex}": d})


def read_table_mor(
    spark: SparkSession,
    table: str,
    key_cols,
    version: Optional[int] = None,
) -> DataFrame:
    """Merge-on-read snapshot scan: (data ∪ delta directories), each
    row carrying its directory's commit sequence, minus every key an
    equality deletion vector with a STRICTLY NEWER sequence covers,
    minus every (directory, position) a positional deletion vector
    with a SAME-OR-NEWER sequence names — each applied as ONE
    broadcast LEFT ANTI join at scan time.

    Sequencing asymmetry (public Iceberg v2's): an equality delete
    shadows strictly OLDER directories only (a key re-added later
    survives), while a positional delete applies to directories with
    sequence <= its own (you can positional-delete rows of a file
    shipped in the same commit, and a named physical row can never be
    "re-added" — a rewritten directory is a NEW path, so stale
    positional tombstones die with the old one naturally).

    Scale shape: the manifest resolution is control-plane (it builds
    the PLAN — one parquet source per live directory with a literal
    sequence column, unioned); the data scan stays pruned/pushed-down
    exactly like read_table's; deletion vectors are key/position
    sets, orders of magnitude smaller than the data, hence the
    broadcast hints — at pathological tombstone volume run
    compact_mor, which is the same judgement call public lakehouses
    surface as OPTIMIZE.  ``version`` pins time travel with the same
    vacuum-window caveat as read_table."""
    from pyspark.sql import functions as F

    log = CommitLog(table)
    kv = _mor_key_versions(log, at_version=version)
    if not kv:
        raise FileNotFoundError(f"lake table {table} has no committed data")
    keys = list(key_cols)
    pdv_live = any(k.startswith(PDV_PREFIX) for k in kv)
    # ADVICE r14: the merge plan injects reserved working columns
    # (_seq, _dv_<key>, _dv_seq, and _dirpath/_pdv_* when positional
    # deletes are live) into the scanned frames; a user schema
    # already carrying one would silently corrupt the anti-join
    # condition and the final drop — fail fast instead.
    reserved = {"_seq", "_dv_seq"} | {f"_dv_{k}" for k in keys}
    if pdv_live:
        reserved |= {"_dirpath", "_pdv_dir", "_pdv_pos", "_pdv_seq"}
    clash = reserved & set(keys)
    if clash:
        raise ValueError(
            f"key columns {sorted(clash)} collide with read_table_mor's "
            "reserved working columns (_seq/_dv_seq/_dv_<key>)"
        )

    def _load(key_filter, with_dirpath: bool = False) -> List[DataFrame]:
        frames = []
        for key, (seq, d) in sorted(kv.items()):
            if key_filter(key):
                df = spark.read.parquet(d)
                bad = reserved & set(df.columns)
                if bad:
                    raise ValueError(
                        f"lake table {table} dir {key!r} carries "
                        f"columns {sorted(bad)} that collide with "
                        "read_table_mor's reserved working columns"
                    )
                df = df.withColumn("_seq", F.lit(seq))
                if with_dirpath:
                    df = df.withColumn("_dirpath", F.lit(d))
                frames.append(df)
        return frames

    data = _load(lambda k: not k.startswith(MOR_PREFIXES),
                 with_dirpath=pdv_live)
    data += _load(lambda k: k.startswith(DELTA_PREFIX),
                  with_dirpath=pdv_live)
    if not data:
        raise FileNotFoundError(f"lake table {table} has no committed data")
    rows = data[0]
    for f in data[1:]:
        # allowMissingColumns = schema evolution on read: a
        # pre-widening directory reads its missing columns as NULL
        rows = rows.unionByName(f, allowMissingColumns=True)
    dvs = _load(lambda k: k.startswith(DV_PREFIX))
    if dvs:
        tomb = dvs[0]
        for f in dvs[1:]:
            tomb = tomb.unionByName(f)
        tomb = tomb.select(
            *[F.col(k).alias(f"_dv_{k}") for k in keys],
            F.col("_seq").alias("_dv_seq"),
        )
        cond = F.col("_dv_seq") > F.col("_seq")
        for k in keys:
            cond = cond & (F.col(k) == F.col(f"_dv_{k}"))
        rows = rows.join(F.broadcast(tomb), cond, "left_anti")
    if pdv_live:
        if POS_COL not in rows.columns:
            raise ValueError(
                f"lake table {table} has live positional deletion "
                f"vectors but its data rows carry no {POS_COL!r} "
                "column — positional deletes require a table written "
                "via commit_partitions_pos (or a pos-stamping writer)"
            )
        pdvs = _load(lambda k: k.startswith(PDV_PREFIX))
        ptomb = pdvs[0]
        for f in pdvs[1:]:
            ptomb = ptomb.unionByName(f)
        ptomb = ptomb.select(
            F.col("_dir").alias("_pdv_dir"),
            F.col(POS_COL).alias("_pdv_pos"),
            F.col("_seq").alias("_pdv_seq"),
        )
        pcond = (
            (F.col("_pdv_dir") == F.col("_dirpath"))
            & (F.col("_pdv_pos") == F.col(POS_COL))
            & (F.col("_pdv_seq") >= F.col("_seq"))
        )
        rows = rows.join(F.broadcast(ptomb), pcond, "left_anti")
    return rows.drop("_seq", "_dirpath")


def compact_mor(
    spark: SparkSession,
    table: str,
    key_cols,
    part_col: str,
    base_version: Optional[int] = None,
) -> int:
    """Materialize the MoR view back to copy-on-write (public
    OPTIMIZE): rewrite every data partition with tombstones applied
    and delta rows folded in, and REMOVE every dv/delta key, in ONE
    atomic commit — readers flip from merge-on-read to the eager
    layout or see neither.  Returns the committed version.

    Partition accounting is manifest-driven, not view-driven: a
    partition the tombstones EMPTIED entirely is REMOVED from the
    manifest (a view-driven rewrite set would silently leave its
    stale base directory live and resurrect every deleted row), and
    a partition value the delta appends INTRODUCED gets a fresh key.
    Contract (same as merge_table): ``part_col`` is non-NULL.
    Commits with the dv/delta prefix-conflict guard, so a
    merge-on-read write that lands after our snapshot raises
    ConflictError instead of being silently shed."""
    from pyspark.sql import functions as F

    log = CommitLog(table)
    if base_version is None:
        base_version = log.state()["version"]
    kv = _mor_key_versions(log, at_version=base_version)
    mor_keys = [k for k in kv if k.startswith(MOR_PREFIXES)]
    data_keys = [
        k for k in kv if not k.startswith(MOR_PREFIXES)
    ]
    cur = read_table_mor(spark, table, key_cols, version=base_version)
    # pos-stamped tables: rewrite re-MINTS positions.  Folding several
    # source directories into one rewritten dir would otherwise leave
    # duplicate _pos values (positions are only unique per directory),
    # breaking every FUTURE positional delete; the applied positional
    # tombstones are removed by this commit anyway, so old addresses
    # die with their directories.
    if POS_COL in cur.columns:
        cur = cur.drop(POS_COL).withColumn(
            POS_COL, F.monotonically_increasing_id())
    # control-plane: the post-merge partition values (covers values
    # the delta introduced; a value with zero surviving rows is
    # absent).  The row filter uses RAW equality — a cast-to-string
    # comparison would diverge from Python's str() for booleans /
    # scientific-notation doubles and silently rewrite partitions
    # empty; strings are only for the manifest-key bookkeeping, where
    # the f-string format matches how commit_partitions/merge_table
    # callers mint keys in the first place.
    live_vals = sorted(
        r[0] for r in cur.select(part_col).distinct().collect()
    )
    replace = {}
    for v in live_vals:
        d = stage_dir(table)
        cur.where(F.col(part_col) == v).write.mode("overwrite").parquet(d)
        replace[f"{part_col}={v}"] = d
    emptied = [k for k in data_keys if k not in replace]
    return log.commit(
        base_version, replace, remove=mor_keys + emptied,
        conflict_key_prefixes=MOR_PREFIXES,
    )


def bronze_table(base: str) -> str:
    return os.path.join(base, "bronze")


def _append_bronze(points: DataFrame, base: str) -> int:
    """Concurrent-writer-safe bronze append: bronze is its OWN
    commit-log table — each append stages a uniquely-named
    day-partitioned directory and publishes it under a fresh
    ``ingest-<uuid>`` manifest key (add-only, so racing appends can
    never conflict).

    Plain parquet append to one shared path is NOT concurrent-safe —
    racing jobs both stage under ``path/_temporary/0`` and clobber
    each other's task files at job commit (observed as a
    FileNotFoundException in the streaming-race test;
    ``retention.write_points`` keeps that layout for the documented
    single-writer path).  Manifest-tracking is the standard lakehouse
    layering and is also what makes ``compact_bronze`` possible: small
    ingest files can be swapped for one consolidated directory in a
    single atomic remove+add commit."""
    from go_whisper_spark.retention import as_bronze

    table = bronze_table(base)
    log = CommitLog(table)
    d = stage_dir(table)
    (
        as_bronze(points)
        .repartition("day")
        .write.mode("errorifexists")
        .partitionBy("day")
        .parquet(d)
    )
    return log.commit(log.state()["version"], {f"ingest-{uuid.uuid4().hex}": d})


def read_bronze(spark: SparkSession, base: str) -> DataFrame:
    """Snapshot read of the bronze point set: resolve the manifest,
    union the referenced directories (each read singly so its
    ``day=…`` partition column is discovered — multi-root reads
    disable discovery).  Directory count is bounded by compaction."""
    st = CommitLog(bronze_table(base)).state()
    dirs = sorted(set(st["partitions"].values()))
    if not dirs:
        raise FileNotFoundError(f"bronze table of {base} has no committed data")
    return _union_bronze(spark, dirs)


def _union_bronze(spark: SparkSession, dirs: List[str]) -> DataFrame:
    """The bronze directories ``dirs``, each read singly with the
    declared ``retention.POINTS_SCHEMA``, unioned by name."""
    from go_whisper_spark.retention import POINTS_SCHEMA

    out = spark.read.schema(POINTS_SCHEMA).parquet(dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(spark.read.schema(POINTS_SCHEMA).parquet(d))
    return out


def compact_bronze(spark: SparkSession, base: str) -> Optional[int]:
    """Swap the current bronze ingest directories for ONE consolidated
    day-partitioned directory, atomically: a single commit removes the
    input keys and adds the new one.

    Concurrency by construction: a racing APPEND adds a fresh key —
    disjoint from our removes, so both land (the appended data was
    not part of our consolidation input and stays referenced); a
    racing COMPACTION removes the same keys — key overlap →
    ConflictError, exactly one consolidation wins.  The superseded
    directories become unreferenced and age out through ``vacuum``.
    Returns the committed version, or None if bronze has ≤1 directory.
    """
    table = bronze_table(base)
    log = CommitLog(table)
    st = log.state()
    if len(st["partitions"]) <= 1:
        return None
    df = _union_bronze(spark, sorted(set(st["partitions"].values())))
    out = stage_dir(table)
    df.repartition("day").write.partitionBy("day").parquet(out)
    return log.commit(
        st["version"],
        {f"ingest-{uuid.uuid4().hex}": out},
        remove=sorted(st["partitions"]),
    )


_MAX_RECOMPUTES = 5  # conflicted attempts per level before giving up


def incremental_rollup_tx(
    spark: SparkSession,
    base: str,
    config,
    new_points: DataFrame,
    now: int,
) -> dict:
    """Concurrent-writer-safe variant of ``retention.incremental_rollup``.

    Same pipeline — the ``retention.accepted_batch`` checks (a bad
    config raises before bronze is touched; a batch with no accepted
    point returns ``{}`` and commits nothing), the bronze append, then
    one ``retention.walk_levels`` pass over the touched days of bronze
    — but each level publishes its day swap through its table's commit
    log, so two rollup jobs racing on DISJOINT days both land, and a
    same-day race makes exactly one writer recompute on top of the
    other (never a silent lost update).  The commit also advances a
    per-level watermark (max accepted ts) for restartability.

    Each attempt snapshots the version of every uncommitted level,
    THEN reads bronze once.  Order matters: a racer that appends
    bronze and commits a shared day between our bronze read and a
    later snapshot would land at a version <= our base, the overlap
    check would never see it, and our commit would publish a day
    frame silently missing the racer's points.  With the snapshot
    first, any same-day commit after it raises ConflictError; the
    next attempt re-snapshots, re-reads the bronze that now holds the
    racer's points and resumes at the first uncommitted level — a
    committed level is never published again.  A level that conflicts
    ``_MAX_RECOMPUTES`` times raises RuntimeError.

    Returns {archive_index: committed version}.
    """
    from pyspark.sql import functions as F

    from go_whisper_spark.engine import WhisperEngine
    from go_whisper_spark.retention import accepted_batch, walk_levels, with_day

    tables = [table_path(base, i) for i in range(len(config.retentions))]
    committed: Dict[int, int] = {}
    conflicts = [0] * len(tables)
    with accepted_batch(config, new_points, now) as batch:
        if batch is None:
            return {}
        _append_bronze(batch.points, base)
        days = [str(d) for d in batch.days]
        while len(committed) < len(tables):
            snapshot = {
                i: CommitLog(tables[i]).state()["version"]
                for i in range(len(committed), len(tables))
            }
            eng = WhisperEngine(spark, config)
            eng.set_points(read_bronze(spark, base).where(F.col("day").isin(days)))

            def publish(i: int, frame: DataFrame) -> None:
                if i in committed:
                    return
                # Persist BEFORE the per-day split: each day frame below
                # is consumed by its own write, and without it every
                # write re-runs the level's lineage — O(days) recomputes
                # (measured ~30× at a month of data).
                frame = with_day(frame, days).cache()
                try:
                    committed[i] = commit_rollup_days(
                        spark,
                        tables[i],
                        {d: frame.where(F.col("day") == F.lit(d)).drop("day") for d in days},
                        watermark={f"level_{i}_max_ts": int(batch.max_ts)},
                        base_version=snapshot[i],
                    )
                finally:
                    frame.unpersist()

            try:
                walk_levels(eng, eng.level0(now), publish, now=now)
            except ConflictError:
                # Someone replaced one of our days after our snapshot.
                i = len(committed)
                conflicts[i] += 1
                if conflicts[i] == _MAX_RECOMPUTES:
                    raise RuntimeError(
                        f"level {i}: exceeded {_MAX_RECOMPUTES} recomputes"
                    )
    return committed
