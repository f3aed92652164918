"""Seeded input generators for the benchmark.

Everything a workload feeds the engine comes from here and depends only
on ``seed`` (and the scale): the star-schema tables, the dashboard
request stream, the carbon spool files and the fetch plan.  No
function in this module imports the engine, so a change to the program
can never change its own inputs.

The tables follow the driver fixtures' schema and value domains
(FIXTURES.md section A): uniform TPC-H-ish keys, an ``events`` stream of
five event types over January 2024, word-salad documents with
near-duplicates marked by a trailing ``dup``, and unit 64-d embeddings.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_US_PER_DAY = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(_dt.datetime(y, m, d, tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(rng, lo_us, hi_us, n):
    days = rng.integers(0, (hi_us - lo_us) // _US_PER_DAY + 1, n)
    return pa.array(lo_us + days * _US_PER_DAY, pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def star_table(seed: int, sf: float, name: str):
    """One fixture table at scale factor ``sf`` as an Arrow table.  Each
    table draws from its own random stream, so it does not depend on
    which other tables are generated."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    keys = np.arange
    if name == "region":
        return pa.table({"r_regionkey": pa.array(keys(5), pa.int32()), "r_name": _REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(keys(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(keys(25) % 5, pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(keys(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(keys(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        })
    if name == "part":
        return pa.table({
            "p_partkey": pa.array(keys(n_part), pa.int64()),
            "p_name": pa.array(np.char.add(np.char.add(
                rng.choice(_PART_ADJ, n_part), " "), rng.choice(_PART_NOUN, n_part))),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys(n_part) % 1000) * 0.1, 2),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(keys(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts_days(rng, _day_us(1995, 1, 1), _day_us(2001, 8, 1), n_ord),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
        })
    if name == "lineitem":
        n = int(6_000_000 * sf)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts_days(rng, _day_us(1995, 1, 2), _day_us(2001, 11, 4), n),
        })
    if name == "events":
        n = int(1_000_000 * sf)
        ts = np.sort(rng.integers(_day_us(2024, 1, 1), _day_us(2024, 1, 31), n))
        return pa.table({
            "event_id": pa.array(keys(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        })
    if name == "documents":
        return _documents(rng, int(50_000 * sf))
    if name == "embeddings":
        n = max(500, int(20_000 * sf))
        vecs = rng.standard_normal((n, 64)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return pa.table({
            "vec_id": pa.array(keys(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        })
    raise ValueError(f"unknown table {name!r}")


def write_tables(seed: int, sf: float, out_dir: str, names=TABLES) -> str:
    """Write the named tables as one-row-group parquet files, like the
    fixtures, and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(star_table(seed, sf, name), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ------------------------------------------------------------ render targets
# Literal integer arguments that may be varied without changing a
# target's validity: {function: (argument index, allowed values)}.
# Negative indices count from the last argument.
_VARIABLE_ARGS = {
    "movingSum": (-1, (2, 3, 4, 5, 6, 8)),
    "movingAverage": (-1, (2, 3, 4, 6, 8)),
    "scale": (-1, (-3, -2, 2, 3, 4, 5)),
    "offset": (-1, (-2, -1, 1, 2, 3)),
    "summarize": (1, (2, 3, 4, 6, 8, 12)),
    "smartSummarize": (1, (2, 3, 4, 6)),
    "highestMax": (-1, (1, 2, 3, 4)),
    "highestAverage": (-1, (1, 2, 3, 4)),
    "highestCurrent": (-1, (1, 2, 3, 4)),
}
# Glob classes that each match at least two of the five series, so a
# swapped class never empties a seed that a combiner needs.
_GLOB_CLASSES = ("'[ce]*'", "'[cv]*'", "'[ve]*'", "'[cp]*'", "'[pv]*'")
_INT = re.compile(r"-?\d+$")


def _call_args(text: str, open_paren: int):
    """(list of (start, end) top-level argument spans, close index)."""
    depth, quote, start, spans = 0, False, open_paren + 1, []
    for i in range(open_paren + 1, len(text)):
        ch = text[i]
        if ch == "'":
            quote = not quote
        elif quote:
            continue
        elif ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                spans.append((start, i))
                return spans, i
            depth -= 1
        elif ch == "," and depth == 0:
            spans.append((start, i))
            start = i + 1
    raise ValueError(f"unbalanced target: {text!r}")


def vary_target(target: str, rng: random.Random) -> str:
    """One seeded variant: re-draw each variable literal argument
    (window, scale factor, summarize width, top-k) and swap each
    two-letter glob class for another."""
    edits = []
    for m in re.finditer(r"([A-Za-z]+)\(", target):
        rule = _VARIABLE_ARGS.get(m.group(1))
        if rule is None:
            continue
        spans, _ = _call_args(target, m.end() - 1)
        idx, choices = rule
        if -len(spans) <= idx < len(spans):
            s, e = spans[idx]
            if _INT.match(target[s:e].strip()):
                edits.append((s, e, " " + str(rng.choice(choices))
                              if idx else str(rng.choice(choices))))
    for m in re.finditer(r"'\[[a-z]{2}\]\*'", target):
        edits.append((m.start(), m.end(), rng.choice(_GLOB_CLASSES)))
    for s, e, new in sorted(edits, reverse=True):
        target = target[:s] + new + target[e:]
    return target


# The analytics report panels, from the ROADMAP's fixed-cost table: the
# curation pipeline (eager materializations while it is built), a
# relational join and a whisper read path, in the order the dashboard
# blocks take them.  Three, because the fixed request sequence is three
# blocks: a query no timed block reaches would only add set-up time.
ANALYTICS_QUERIES = "t_curation_e2e r_q5_nation_rev w_lww_1h".split()
# The tables those queries and their DuckDB oracles read; set-up
# generates only these.
REPORT_TABLES = "region nation customer orders lineitem events documents".split()


def dashboard_plan(seed: int, classes, n_blocks: int, panel_bases):
    """(panels, blocks): a fixed panel set -- seeded variants of
    ``panel_bases`` -- then a seeded request stream in blocks.  Each
    block holds ten render requests -- seven ('refresh', panel), taking
    the panels in turn, and three ('adhoc', a target never requested
    before), one from each of the three cost ``classes`` of registered
    compositions -- and one ('report', query), taking the analytics
    queries in turn, all at seeded positions, so every block has the
    same mix.  The 70/30 refresh/ad-hoc split of the renders is the
    dashboard traffic the benchmark was specified with; one report per
    block is an assumption, with no traffic measurement behind it.

    Each class hands out its compositions in a fixed rotation, every
    time as a seeded variant.  So every seed renders the same
    compositions in a block and only their arguments and the order
    change: the first render of a composition in a process costs
    several times its later renders (code generation), and a seeded
    choice of compositions made the block's cost swing with the seed."""
    rng = random.Random(seed * 1_000_003 + 17)
    panels = [vary_target(t, rng) for t in panel_bases]
    seen = set(panels)
    turns = [0] * len(classes)

    def adhoc(k):
        while True:
            base = classes[k][turns[k] % len(classes[k])]
            turns[k] += 1
            t = vary_target(base, rng)
            if t not in seen:
                seen.add(t)
                return t

    blocks, refreshes = [], 0
    for b in range(n_blocks):
        block = ([("adhoc", k) for k in range(3)] + [("refresh", None)] * 7
                 + [("report", ANALYTICS_QUERIES[b % len(ANALYTICS_QUERIES)])])
        rng.shuffle(block)
        for i, (kind, k) in enumerate(block):
            if kind == "refresh":
                block[i] = ("refresh", panels[refreshes % len(panels)])
                refreshes += 1
            elif kind == "adhoc":
                block[i] = ("adhoc", adhoc(k))
        blocks.append(block)
    return panels, blocks


# ------------------------------------------------------------ carbon spool
CARBON_EPOCH = 1_707_026_160  # 2024-02-04 05:56:00 UTC
# Anomalous lines per spool file, as shares of its regular points.  No
# public Graphite or carbon figure gives such rates; these are
# assumptions, set so that each kind shows up tens of times per file.
# The ``late`` lines come in bursts of three slots.
ANOMALY_RATES = {"nan": 0.005, "malformed": 0.005, "future": 0.0025, "expired": 0.0025,
                 "rewrite_in_batch": 0.01, "rewrite_cross_batch": 0.01, "late": 0.01}
MAX_RETENTION = 5 * 365 * 86400
STEP_S = 120


def carbon_series(n_series: int = 2000):
    return [f"srv.h{h:03d}.m{k}" for h in range(n_series // 10) for k in range(10)]


def carbon_plan(seed: int, n_files: int, n_series: int = 2000):
    """Seeded carbon traffic: a list of (now, lines, kinds) per spool file.

    File 0 is a backfill: the first 200 series, one point per 20 s over
    the 20 minutes before the clock starts, so every archive level of the
    store holds data before the first fetch.  Each later file advances the
    clock by ``STEP_S`` and carries three points per series and minute of
    the step's window (enough known 10 s slots for xFilesFactor 0.5),
    plus the traffic a carbon daemon also sees, at rates that are
    assumptions, not measurements of real carbon traffic (see
    perfbench/NOTES.md).  ``kinds`` labels every line: ok,
    nan, malformed, future, expired (past maxRetention), late (a burst of
    three slots in the previous day's last minute), rewrite_in_batch
    (a slot written earlier in the same file) and rewrite_cross_batch (a
    slot written by an earlier file).  No other two points share a
    (metric, 10 s slot), so every last-writer-wins decision in the
    traffic is a deliberate one.

    The clock starts four minutes before 06:00, so the previous
    day's partition of the 6 h archive, which the late points write at
    the first step, expires at the second step and ``reap`` has work.
    """
    rng = random.Random(seed * 7_919 + 3)
    metrics = carbon_series(n_series)
    now = CARBON_EPOCH
    day_start = now - now % 86400
    written = set()
    position = {}  # (metric, slot) -> line numbers of its writes
    history = []  # accepted (metric, ts) of earlier files
    plan = []

    def value():
        return f"{rng.expovariate(1 / 40.0):.2f}"

    def put(lines, kinds, this_file, m, ts, kind):
        written.add((m, ts - ts % 10))
        nan = kind == "ok" and rng.random() < ANOMALY_RATES["nan"]
        lines.append(f"{m} {'nan' if nan else value()} {ts}")
        kinds.append("nan" if nan else kind)
        this_file.append((m, ts))

    lines, kinds, this_file = [], [], []
    for m in metrics[:200]:
        for ts in range(now - 1200 + rng.randrange(10), now, 20):
            put(lines, kinds, this_file, m, ts, "ok")
    plan.append((now, lines, kinds))
    history.extend(this_file)
    for i, (m, ts) in enumerate(this_file):
        position[(m, ts - ts % 10)] = {i}
    for _ in range(1, n_files):
        now += STEP_S
        lines, kinds, this_file = [], [], []
        for m in metrics:
            for slot in rng.sample(range(STEP_S // 10), STEP_S // 20):
                put(lines, kinds, this_file, m, now - STEP_S + 1 + slot * 10 + rng.randrange(9), "ok")
        extras = []
        count = {k: round(r * len(this_file)) for k, r in ANOMALY_RATES.items()}
        for _ in range(count["malformed"]):
            extras.append(("malformed", rng.choice([
                f"{rng.choice(metrics)} {value()}",
                f"{rng.choice(metrics)} x{value()} {now - 5}",
                f"{rng.choice(metrics)} {value()} t{now - 5}",
                f"{rng.choice(metrics)} {value()} {now - 5} extra",
            ])))
        for _ in range(count["future"]):  # and as many expired lines
            extras.append(("future", f"{rng.choice(metrics)} {value()} "
                                     f"{now + rng.randrange(60, 3600)}"))
            extras.append(("expired", f"{rng.choice(metrics)} {value()} "
                                      f"{now - MAX_RETENTION - rng.randrange(1, 86400)}"))
        for _ in range(count["rewrite_in_batch"]):  # and as many cross-file
            m, ts = rng.choice(this_file)
            extras.append(("rewrite_in_batch", f"{m} {value()} {ts}"))
            m, ts = rng.choice(history)
            extras.append(("rewrite_cross_batch", f"{m} {value()} {ts}"))
        for _ in range(count["late"] // 3):
            m = rng.choice(metrics)
            base = day_start - 60 + rng.randrange(0, 30, 10)
            if all((m, base + 10 * k) not in written for k in range(3)):
                for k in range(3):
                    written.add((m, base + 10 * k))
                    extras.append(("late", f"{m} {value()} {base + 10 * k + rng.randrange(9)}"))
        # Spread the extras through the file at seeded positions; an
        # in-batch rewrite goes after the point it rewrites.
        first = {f"{m} {ts}": i for i, (m, ts) in enumerate(this_file)}
        keyed = [(i, line, "ok" if k == "ok" else k)
                 for i, (line, k) in enumerate(zip(lines, kinds))]
        for kind, line in extras:
            lo = 0.0
            if kind == "rewrite_in_batch":
                m, _, ts = line.split()
                lo = first[f"{m} {ts}"] + 0.5
            keyed.append((rng.uniform(lo, len(lines)), line, kind))
        keyed.sort(key=lambda x: x[0])
        lines = [x[1] for x in keyed]
        kinds = [x[2] for x in keyed]
        # A cross-file rewrite must not sit at the same line number as
        # the write it replaces: that would tie under a per-file line
        # sequence and leave the expected winner undefined.
        for i, (line, kind) in enumerate(zip(lines, kinds)):
            if kind in ("ok", "nan", "late", "rewrite_in_batch"):
                m, _, ts = line.split()
                position.setdefault((m, int(ts) - int(ts) % 10), set()).add(i)
        for i, kind in enumerate(list(kinds)):
            if kind == "rewrite_cross_batch":
                m, _, ts = lines[i].split()
                taken = position.get((m, int(ts) - int(ts) % 10), set())
                if i in taken:
                    lines.append(lines[i])
                    kinds.append(kind)
                    lines[i], kinds[i] = "", "malformed"
        plan.append((now, lines, kinds))
        history.extend(this_file)
    return plan


def write_spool(plan, out_dir: str):
    """Write one carbon file per step; returns the file paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, (_, lines, _) in enumerate(plan):
        p = os.path.join(out_dir, f"carbon-{i:04d}.txt")
        with open(p, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(p)
    return paths


def fetch_plan(seed: int, n_files: int, metrics_per_fetch: int = 20,
               n_series: int = 2000):
    """Per step: the fetches after the ingest, as (age_s, metrics): two
    metric subsets at each of the 1 h, 1 d and 30 d ages."""
    rng = random.Random(seed * 104_729 + 5)
    metrics = carbon_series(n_series)
    return [
        [(age, sorted(rng.sample(metrics, metrics_per_fetch)))
         for age in (3600, 86400, 30 * 86400) for _ in range(2)]
        for _ in range(n_files)
    ]


def traffic_shares(kinds_per_file) -> dict:
    """Share of each line kind over the given files."""
    counts = {}
    for kinds in kinds_per_file:
        for k in kinds:
            counts[k] = counts.get(k, 0) + 1
    total = sum(counts.values()) or 1
    return {k: round(v / total, 4) for k, v in sorted(counts.items())}
