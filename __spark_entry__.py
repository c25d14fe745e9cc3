"""Driver contract: ``entry``, ``queries`` and ``oracle_sql``.

The driver runs ``entry(spark)``, then checks only the first 50 of
``queries()`` against ``oracle_sql()`` in DuckDB and commits the result
as ``CORRECTNESS_rNN.json``.  So ``queries()`` sorts the names by the
last round in which each was hash-green in those records (never-green
names count as round 0 and come first); ties keep registry order.  A
round's check needs no registry edit: commit its record.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


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


def _records(folder: str = _HERE) -> dict[int, dict]:
    """``{round: record}`` for every ``CORRECTNESS_rNN.json`` in *folder*."""
    records = {}
    for fname in os.listdir(folder):
        m = _RECORD.fullmatch(fname)
        if m:
            with open(os.path.join(folder, fname)) as fh:
                records[int(m.group(1))] = json.load(fh)
    return records


def _rotate(names: list[str], records: dict[int, dict]) -> list[str]:
    """*names* sorted by the last round each was hash-green (0 if never)."""
    last_green = {}
    for rnd in sorted(records):
        for name, row in records[rnd].items():
            if row.get("hash_match") and row.get("err") is None:
                last_green[name] = rnd
    return sorted(names, key=lambda n: last_green.get(n, 0))


def _registry():
    from go_whisper_spark.operators import whisper_queries

    modules = [whisper_queries]
    for name in ("relational", "llm_ops", "multimodal", "graphite_funcs",
                 "streaming_queries"):
        try:
            mod = __import__(f"go_whisper_spark.operators.{name}", fromlist=[name])
            modules.append(mod)
        except ImportError:
            pass
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in modules:
        queries.update(getattr(mod, "QUERIES", {}))
        oracles.update(getattr(mod, "ORACLES", {}))

    order = _rotate(list(queries), _records())
    queries = {n: queries[n] for n in order}
    oracles = {n: oracles[n] for n in order if n in oracles}
    return queries, oracles


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
