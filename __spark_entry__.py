"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries are contributed by the operator modules in
``go_whisper_spark.operators`` — whisper semantics over ``events``,
relational coverage over the TPC-H-ish tables, and the
LLM-data-pipeline operators (dedup / similarity / text analysis).

Each verification round checks only the first 50 registry entries, so
the registry is ordered by the evidence in the ``CORRECTNESS_r<N>.json``
records next to this module: queries never checked come first, then
those whose most recent check was red, then the rest by the round of
their most recent check, oldest first; module registration order
breaks ties.  A new record rotates the window with no edits here.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the whisper read path.

    events → points (metric=event_type) → 1h/30d + 6h/90d archives,
    Average, xff=0.0 → Fetch(now-3d, now) → dense gap-filled hourly
    series per metric (FIXTURES.md §B3).
    """
    from go_whisper_spark.engine import WhisperEngine
    from go_whisper_spark.model import SeriesConfig
    from go_whisper_spark.sources.tables import events_points

    pts = events_points(spark, "/root/testdata/sf0.001")
    cfg = SeriesConfig.from_defs("1h:30d,6h:90d", "average", 0.0)
    now = pts.agg(F.max("ts")).first()[0]
    engine = WhisperEngine(spark, cfg)
    engine.update_many(pts, now)
    return engine.fetch(now - 3 * 86400, now, now).frame


def load_records(directory: str = _HERE) -> dict[int, dict[str, dict]]:
    """``{round: {query: check}}`` from the CORRECTNESS_r<N>.json files."""
    records = {}
    for fname in os.listdir(directory):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m:
            with open(os.path.join(directory, fname)) as f:
                records[int(m.group(1))] = json.load(f)
    return records


def _green(check: dict) -> bool:
    return (check.get("rows_match") is True
            and check.get("schema_match") is True
            and check.get("hash_match") is True and check.get("err") is None)


def rotation_order(names: Iterable[str],
                   records: dict[int, dict[str, dict]]) -> list[str]:
    """``names`` ordered oldest evidence first (see the module docstring)."""
    last: dict[str, tuple[bool, int]] = {}
    for rnd in sorted(records):
        for name, check in records[rnd].items():
            last[name] = (_green(check), rnd)

    def key(item: tuple[int, str]):
        # never checked < red < green, then oldest round, then position
        i, name = item
        green, rnd = last.get(name, (False, 0))
        return (name in last, green, rnd, i)

    return [name for _, name in sorted(enumerate(names), key=key)]


def _registry():
    from go_whisper_spark.operators import (
        graphite_funcs,
        llm_ops,
        multimodal,
        relational,
        streaming_queries,
        whisper_queries,
    )

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in (whisper_queries, relational, llm_ops, multimodal,
                graphite_funcs, streaming_queries):
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)

    order = rotation_order(queries, load_records())
    queries = {n: queries[n] for n in order}
    oracles = {n: oracles[n] for n in order if n in oracles}
    return queries, oracles


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
