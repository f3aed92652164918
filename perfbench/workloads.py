"""The benchmark workloads.

Each workload drives the engine through its public calls only, as one
closed-loop client (the next request is sent when the previous one has
returned).  A workload has four phases:

- ``prepare(seed, work_dir)``: generate its inputs into ``work_dir``;
- ``warm(spark, rec)``: the warm-up requests, so that the timed phase
  sees warm plans, caches and code;
- ``run(rec, seconds)``: the timed requests;
- ``check()``: output checks, outside every timed window.

``run`` sends requests until its fixed request sequence (the first
``WALL_BLOCKS`` dashboard blocks, the first ``WALL_STEPS`` ingest steps)
is done and ``seconds`` have passed, in whole blocks or steps; it
returns the wall time of the fixed sequence, less the host-speed probes
the recorder ran in it, reported as ``wall_s``.
Requests of the fixed sequence are marked ``fixed``: only they feed the
bounded metrics, so how many requests fit in ``seconds`` never changes
the request mix those metrics see.

Each workload names two request kinds: ``READ_KIND``, its frequent read,
and ``HEAVY_KIND``, the kind that does the most new work per request;
their mean latencies are ``read_mean_s`` and ``heavy_mean_s``.
"""

from __future__ import annotations

import math
import os
import time

import gen
from targets import COST_CLASSES, RENDER_TARGETS
from tracing import jobs_within, median


def _rows(table, cols):
    """Arrow table → list of row tuples in column order ``cols``."""
    data = [table.column(c).to_pylist() for c in cols]
    return list(zip(*data))


def _typed_rows(norm_cell, sort_key, cols, columns_data):
    rows = [tuple(norm_cell(v) for v in r) for r in zip(*(columns_data[c] for c in cols))]
    rows.sort(key=sort_key)
    return rows


def _duckdb_views(data_dir: str, names):
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _oracle_rows(con, sql):
    from tools.check_contract import norm_cell, sort_key

    ddf = con.execute(sql).fetchdf()
    cols = sorted(ddf.columns.tolist())
    return cols, _typed_rows(norm_cell, sort_key, cols,
                             {c: ddf[c].tolist() for c in cols})


def _force_rows(rec, df):
    """Collect ``df`` as Arrow inside a ``spark.action`` span.  The
    collect runs on a new query over ``df``'s plan, so every request
    recomputes from its inputs (as ``bench.py``'s noop write does) rather
    than reusing shuffle output left by an earlier action on the same
    memoized DataFrame."""
    with rec.span("spark.action"):
        return df.select("*").toArrow()


class Dashboard:
    """A dashboard over two kinds of panel.  Render panels: Graphite
    targets over a generated events table at sf0.1, 70% refreshes of a
    fixed panel set (render memo hits) and 30% seeded ad-hoc targets
    never requested before (memo misses).  Report panels: the analytics registry
    queries over generated tables at sf0.01, each forced with a noop write
    as ``bench.py`` does."""

    name = "dashboard"
    READ_KIND, HEAVY_KIND = "refresh", "adhoc"
    SF_EVENTS = 0.1
    SF_TABLES = 0.01
    N_BLOCKS = 16
    WALL_BLOCKS = 3  # the fixed request sequence timed as wall_s
    # Two mid-cost compositions: a six-deep window chain and a grouped
    # two-prefix aggregate.  Fixed, so every seed refreshes alike.
    PANELS = ("DEEP", "NODES")

    def prepare(self, seed, work_dir):
        self.events = gen.write_tables(seed, self.SF_EVENTS, os.path.join(work_dir, "ev"),
                                       names=["events"])
        self.tables = gen.write_tables(seed, self.SF_TABLES, os.path.join(work_dir, "sf"),
                                       names=gen.REPORT_TABLES)
        self.panels, self.blocks = gen.dashboard_plan(
            seed, [[RENDER_TARGETS[n] for n in c] for c in COST_CLASSES], self.N_BLOCKS,
            [RENDER_TARGETS[n] for n in self.PANELS])
        self.results = {}  # target -> Arrow table of its first render
        self.memo = {}  # target -> the DataFrame render() last returned
        self.hits = self.calls = 0
        self.failed_queries = set()

    # -- render panels ------------------------------------------------------
    def _render(self, rec, target):
        from go_whisper_spark.render import render

        with rec.span("render.build") as sp:
            df = render(self.spark, self.events, target)
        hit = self.memo.get(target) is df
        if sp is not None:
            sp["memo_hit"] = hit
        self.calls += 1
        self.hits += hit
        self.memo[target] = df
        table = _force_rows(rec, df)
        self.results.setdefault(target, table)

    # -- report panels ------------------------------------------------------
    def _report(self, rec, name, collect=False):
        with rec.span("operators.build", query=name):
            df = self.qs[name](self.spark, self.tables)
        with rec.span("spark.action"):
            if collect:
                cols = sorted(df.columns)
                return cols, df.select(*cols).collect()
            df.write.format("noop").mode("overwrite").save()
        return None

    def warm(self, spark, rec):
        """Render each panel once, and run each report once, collected and
        compared with its DuckDB oracle (the oracles run on a thread
        meanwhile; DuckDB releases the interpreter lock)."""
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__
        from tools.check_contract import norm_cell, rows_match, sort_key

        self.spark = spark
        self.qs = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()

        def all_oracles():
            con = _duckdb_views(self.tables, gen.REPORT_TABLES)
            con.execute("SET threads = 1")
            try:
                return {n: _oracle_rows(con, oracles[n]) for n in gen.ANALYTICS_QUERIES}
            finally:
                con.close()

        with ThreadPoolExecutor(max_workers=1) as pool:
            want = pool.submit(all_oracles)
            for i, t in enumerate(self.panels):
                with rec.request(f"warm-{i}", "panel") as r:
                    r["target"] = t
                    self._render(rec, t)
            got = {}
            for name in gen.ANALYTICS_QUERIES:
                with rec.request(f"warm-{name}", "report"):
                    cols, rows = self._report(rec, name, collect=True)
                    got[name] = cols, sorted(
                        (tuple(norm_cell(r[c]) for c in cols) for r in rows), key=sort_key)
            # One refresh of each panel after the reports: without it the
            # first timed refreshes ran up to twice as long as the later
            # ones.
            for i, t in enumerate(self.panels):
                with rec.request(f"warm-refresh-{i}", "refresh") as r:
                    r["target"] = t
                    self._render(rec, t)
            want = want.result()
        for name in gen.ANALYTICS_QUERIES:
            if name not in got or got[name][0] != want[name][0] \
                    or not rows_match(got[name][1], want[name][1]):
                self.failed_queries.add(name)

    def run(self, rec, seconds):
        self.hits = self.calls = 0
        t0, p0 = time.perf_counter(), rec.probe_seconds()
        wall, kinds = None, []
        for b, block in enumerate(self.blocks):
            if wall is not None and time.perf_counter() - t0 >= seconds:
                break
            for i, (kind, what) in enumerate(block):
                with rec.request(f"b{b}-{i}", kind) as r:
                    r["fixed"] = b < self.WALL_BLOCKS
                    if kind == "report":
                        r["query"] = what
                        self._report(rec, what)
                    else:
                        r["target"] = what
                        self._render(rec, what)
                kinds.append(kind)
            if b + 1 == self.WALL_BLOCKS:
                wall = time.perf_counter() - t0 - (rec.probe_seconds() - p0)
        self.shares = {k: kinds.count(k) / len(kinds) for k in ("refresh", "adhoc", "report")}
        return wall

    def check(self):
        """Each distinct render target once against DuckDB; the reports
        were checked in the warm-up."""
        from go_whisper_spark.render import render_oracle_sql
        from tools.check_contract import norm_cell, rows_match, sort_key

        con = _duckdb_views(self.events, ["events"])
        bad = []
        for target, table in self.results.items():
            scols = sorted(table.column_names)
            srows = _typed_rows(norm_cell, sort_key, scols,
                                {c: table.column(c).to_pylist() for c in scols})
            dcols, drows = _oracle_rows(con, render_oracle_sql(target))
            if scols != dcols or not rows_match(srows, drows):
                bad.append(target)
        con.close()
        self.failed_targets = set(bad)
        return {"targets_checked": len(self.results), "failed_targets": bad,
                "reports_checked": len(gen.ANALYTICS_QUERIES),
                "failed_reports": sorted(self.failed_queries),
                "memo_hit_ratio": self.hits / max(1, self.calls),
                "traffic_shares": self.shares}

    def wrong(self, r):
        return r.get("target") in self.failed_targets or r.get("query") in self.failed_queries

    def per_layer(self, rec):
        builds = rec.spans_named("operators.build")
        renders = rec.spans_named("render.build")
        return {
            "render.build_s": median(s["end"] - s["start"] for s in renders),
            "render.miss_build_s": median(s["end"] - s["start"] for s in renders
                                          if not s["memo_hit"]),
            "render.memo_hit_ratio": self.hits / max(1, self.calls),
            "operators.build_s": median(s["end"] - s["start"] for s in builds),
            "operators.build_jobs": median(len(jobs_within(rec, s)) for s in builds),
        }


class IngestFetch:
    """A simulated carbon clock: each step ingests one spool file through
    ``read_carbon`` → ``incremental_rollup``, then fetches at 1h, 1d and
    30d ages over seeded metric subsets; ``reap`` runs every few steps."""

    name = "ingest_fetch"
    READ_KIND, HEAVY_KIND = "fetch", "ingest"
    N_FILES = 6  # the warm-up backfill, the timed steps and room for one more
    REAP_EVERY = 2
    WALL_STEPS = 4  # the fixed request sequence timed as wall_s
    RETENTIONS = "10s:6h,1m:7d,10m:5y"

    def prepare(self, seed, work_dir):
        self.plan = gen.carbon_plan(seed, self.N_FILES)
        self.files = gen.write_spool(self.plan, os.path.join(work_dir, "spool"))
        self.fetches = gen.fetch_plan(seed, self.N_FILES)
        self.base = os.path.join(work_dir, "store")
        self.fetched = []  # (step, index, age, metrics, FetchResult bounds, Arrow table)
        self.steps_done = 0

    def _config(self):
        import go_whisper_spark as gws

        return gws.SeriesConfig.from_defs(self.RETENTIONS, "average", 0.5)

    def _ingest(self, rec, f, prefix):
        from go_whisper_spark.retention import incremental_rollup
        from go_whisper_spark.sources.carbon import read_carbon

        spark, now, cfg = self.spark, self.plan[f][0], self._config()
        with rec.request(f"{prefix}{f}-ingest", "ingest") as r:
            r["fixed"] = self._fixed(prefix, f)
            with rec.span("sources.read_carbon"):
                pts = read_carbon(spark, self.files[f])
            before = _list_files(self.base) if rec.traced else None
            with rec.span("retention.rollup", step=f) as sp:
                incremental_rollup(spark, self.base, cfg, pts, now)
            if rec.traced:
                sp["files_written"] = len(_list_files(self.base) - before)

    def _fetch_and_reap(self, rec, f, prefix):
        from go_whisper_spark.retention import MaterializedRollups, reap

        now, cfg = self.plan[f][0], self._config()
        store = MaterializedRollups(self.spark, self.base, cfg)
        for j, (age, metrics) in enumerate(self.fetches[f]):
            with rec.request(f"{prefix}{f}-fetch{j}", "fetch") as r:
                r["fixed"] = self._fixed(prefix, f)
                r["check_id"] = f"{f}-fetch{j}"
                with rec.span("retention.fetch_build"):
                    res = store.fetch(now - age, now, now, metrics)
                table = _force_rows(rec, res.frame)
                self.fetched.append((f, j, age, metrics, (res.from_interval,
                                     res.until_interval, res.step), table))
        if f % self.REAP_EVERY == 0:
            with rec.request(f"{prefix}{f}-reap", "reap") as r:
                r["fixed"] = self._fixed(prefix, f)
                with rec.span("retention.reap") as sp:
                    gone = reap(self.base, cfg, now)
                if sp is not None:
                    sp["partitions_reaped"] = len(gone)

    def _fixed(self, prefix, f):
        return prefix == "s" and f <= self.WALL_STEPS

    def warm(self, spark, rec):
        """Ingest the backfill file and run its fetches."""
        self.spark = spark
        self._ingest(rec, 0, "warm-")
        self._fetch_and_reap(rec, 0, "warm-")
        self.steps_done = 1

    def run(self, rec, seconds):
        t0, p0 = time.perf_counter(), rec.probe_seconds()
        wall = None
        for f in range(self.steps_done, self.N_FILES):
            if wall is not None and time.perf_counter() - t0 >= seconds:
                break
            self._ingest(rec, f, "s")
            self._fetch_and_reap(rec, f, "s")
            self.steps_done = f + 1
            if f == self.WALL_STEPS:
                wall = time.perf_counter() - t0 - (rec.probe_seconds() - p0)
        return wall

    # -- checks ------------------------------------------------------------
    def accepted_points(self):
        """Per file: points a correct ingest accepts (parsed like carbon's
        tolerant parser, then the retention window at the file's now)."""
        out = []
        for now, lines, _ in self.plan[:self.steps_done]:
            pts = []
            for i, line in enumerate(lines):
                p = _parse_carbon(line)
                if p and p[1] <= now and now - p[1] < gen.MAX_RETENTION:
                    pts.append((p[0], p[1], p[2], i))
            out.append(pts)
        return out

    def check(self):
        from tests.whisper_model import PyWhisper

        class Model(PyWhisper):
            # PyWhisper rebuilds the whole cascade per fetch; memoize it
            # per (archive, now) until the next update.
            def update_many(self, points, now):
                self.memo = {}
                super().update_many(points, now)

            def archive(self, idx, now):
                if (idx, now) not in self.memo:
                    self.memo[(idx, now)] = super().archive(idx, now)
                return self.memo[(idx, now)]

        # ``arrival``: write order across files (what last-writer-wins
        # means); ``per_file``: the line position within each file, which
        # is the order read_carbon's write_seq encodes today.
        arrival, per_file = Model(self._config()), Model(self._config())
        self.accepted = accepted = self.accepted_points()
        # Series are independent: feed the models only the fetched ones.
        wanted = {m for item in self.fetched for m in item[3]}
        by_step = {}
        for item in self.fetched:
            by_step.setdefault(item[0], []).append(item)
        failed, defect, slots_lost = [], [], 0
        for f, pts in enumerate(accepted):
            now = self.plan[f][0]
            pts = [p for p in pts if p[0] in wanted]
            arrival.update_many([(m, t, v, f * 1_000_000 + i) for m, t, v, i in pts], now)
            per_file.update_many(pts, now)
            for _, j, age, metrics, bounds, table in by_step.get(f, []):
                verdict, lost = judge_fetch(
                    table, metrics, bounds,
                    {m: arrival.fetch(m, now - age, now, now) for m in metrics},
                    {m: per_file.fetch(m, now - age, now, now) for m in metrics})
                if verdict == "failed":
                    failed.append(f"{f}-fetch{j}")
                elif verdict == "known_defect":
                    defect.append(f"{f}-fetch{j}")
                    slots_lost += lost
        self.failed_ids = set(failed)
        n_points = sum(len(p) for p in accepted)
        return {"checked": len(self.fetched), "failed_fetches": failed,
                "known_defect": {
                    "defect": "read_carbon write_seq restarts in every file, so "
                             "a slot rewritten by a later file can lose "
                             "last-writer-wins",
                    "fetches_affected": len(defect),
                    "slots_lost": slots_lost,
                    "examples": defect[:5]},
                "accepted_points": n_points,
                "traffic_shares": gen.traffic_shares(
                    [k for *_, k in self.plan[1:self.steps_done]])}

    def wrong(self, r):
        return r.get("check_id") in self.failed_ids

    def end_metrics(self, rec) -> dict:
        """Accepted points of the timed steps per second inside their
        ingest calls, and store bytes on disk per accepted point."""
        ingests = [r["seconds"] for r in rec.requests if r["kind"] == "ingest"]
        return {
            "ingest_points_per_s": (sum(map(len, self.accepted[1:])) / sum(ingests), "points/s"),
            "store_bytes_per_point": (_du(self.base) / sum(map(len, self.accepted)), "B"),
        }

    def per_layer(self, rec):
        pts = self.accepted
        rollups = rec.spans_named("retention.rollup")
        per_point = lambda key: median(  # noqa: E731
            sum(j[key] for j in jobs_within(rec, s)) / max(1, len(pts[s["step"]]))
            for s in rollups)
        reaps = rec.spans_named("retention.reap")
        return {
            "retention.rollup_s": median(s["end"] - s["start"] for s in rollups),
            "retention.rollup_jobs": median(len(jobs_within(rec, s)) for s in rollups),
            "retention.rows_read_per_point": per_point("input_records"),
            "retention.bytes_written_per_point": per_point("output_bytes"),
            "retention.files_written": median(s["files_written"] for s in rollups),
            "retention.fetch_build_s": median(
                s["end"] - s["start"] for s in rec.spans_named("retention.fetch_build")),
            "retention.reap_s": median(s["end"] - s["start"] for s in reaps),
            "retention.partitions_reaped": median(s["partitions_reaped"] for s in reaps),
        }


WORKLOADS = {w.name: w for w in (Dashboard, IngestFetch)}


# ------------------------------------------------------------ helpers
def judge_fetch(table, metrics, bounds, arrival, per_file):
    """Judge one fetch against the two ingest models.

    ``table`` is the fetched Arrow table (metric, interval, value);
    ``bounds`` its (from, until, step); ``arrival`` and ``per_file`` map
    each metric to the model's ``(from, until, step, values)``.  Returns
    ``(verdict, slots)``: ``"ok"`` when the fetch matches the
    arrival-order model, which is what last-writer-wins means;
    ``"known_defect"`` when it matches only the per-file model, the order
    read_carbon's ``write_seq`` encodes today (``slots`` then counts the
    slots that differ from the arrival-order model); ``"failed"`` when
    it matches neither."""
    got = {}
    for m, iv, v in _rows(table, ["metric", "interval", "value"]):
        got.setdefault(m, []).append((iv, v))
    fetched = {m: [_num(v) for _, v in sorted(got.get(m, []))] for m in metrics}

    def matches(model):
        return all(tuple(model[m][:3]) == tuple(bounds) and _same(fetched[m], model[m][3])
                   for m in metrics)

    if matches(arrival):
        return "ok", 0
    if matches(per_file):
        return "known_defect", sum(
            not _same([x], [y]) for m in metrics for x, y in zip(fetched[m], arrival[m][3]))
    return "failed", 0


def _parse_carbon(line):
    p = line.split()
    if len(p) != 3:
        return None
    try:
        value = float(p[1])
        ts = int(float(p[2]))
    except ValueError:
        return None
    return p[0], ts, value


def _num(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def _same(xs, ys):
    if len(xs) != len(ys):
        return False
    for x, y in zip(xs, ys):
        x, y = _num(x), _num(y)
        if (x is None) != (y is None):
            return False
        if x is not None and not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
            return False
    return True


def _list_files(root):
    out = set()
    for d, _, files in os.walk(root):
        out.update(os.path.join(d, f) for f in files if not f.startswith((".", "_")))
    return out


def _du(root):
    return sum(os.path.getsize(p) for p in _list_files(root))
