"""``dashboard``: the interactive Graphite read path.

The op stream is 70% render targets, 15% registered ``g_*`` reads and
15% whisper fetches (alternating ``WhisperEngine.fetch`` and
``MaterializedRollups.fetch``).  Render targets follow TPC-H's model of
fixed query templates with seeded substitution parameters: the 300
templates (operator trees of depth 1-6 over a glob or a tagged seed) and
the Zipf-distributed order in which they are requested are drawn once
from a constant seed, and ``--seed`` fills in each template's numeric
arguments and ``grep``/``exclude`` patterns, the fetch windows and the
interleaving of op kinds.  The data is the repository's sf0.1 ``events``
table, a byte copy of which ships in ``data/sf0.1`` so that a run reads
nothing outside its checkout.  Repeats hit the render plan memo and
first sightings miss it.  With the drawn templates fixed, seed-to-seed
differences come from parameters, not from which of a few hundred
templates of very different cost a 30-op run happens to draw.
"""

from __future__ import annotations

import os
import random

from common import Op, arrow_hash, consume, duckdb_hash, fingerprint, spark_hash, typed_hash

SF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# The events table covers 2024-01-01 to 2024-01-30; ``now`` is the end of it.
NOW = 1_704_067_200 + 30 * 86_400

# Render templates: depth weights, count, Zipf exponent, and the constant
# seed their shapes and request schedule are drawn from.
UNIVERSE = 300
DEPTH_WEIGHTS = {1: 25, 2: 25, 3: 20, 4: 15, 5: 10, 6: 5}
ZIPF_S = 1.2
SHAPE_SEED = 20_240_101
# One block of the op stream: 14 renders, 3 ``g_*`` reads, 3 fetches.
BLOCK = {"render": 14, "gquery": 3, "fetch": 3}
FETCH_SPAN_H = [6, 24, 72]
GQUERIES = ["g_moving_avg_3", "g_as_percent", "g_interpolate", "g_tag_group",
            "g_highest_avg_3"]
FETCH_DEFS = "1h:7d,6h:30d"
GATE_RENDER = 4
GATE_FETCH = 2

GLOBS = ["'*'", "'c*'", "'[ve]*'", "'p?rchase'"]
TAG_SEEDS = [
    "seriesByTag('dc=dc1')",
    "seriesByTag('name=~^(click|error)$', 'dc=dc1')",
    "seriesByTag('host!=h3')",
    "seriesByTag('dc!=~dc[02]', 'name=view')",
]
UNARY = ["absolute", "derivative", "nonNegativeDerivative", "keepLastValue",
         "integral", "perSecond", "offsetToZero", "changed", "invert",
         "isNonNull", "removeEmptySeries", "interpolate", "minMax"]


def random_target(shape: random.Random, param: random.Random, depth: int) -> str:
    """One composition: ``shape`` picks the operators and the series
    seed (glob or tag filter), ``param`` the numeric arguments and the
    patterns of ``grep``/``exclude``."""
    if depth <= 0:
        return shape.choice(TAG_SEEDS) if shape.random() < 0.25 else shape.choice(GLOBS)
    name = shape.choice(UNARY + [
        "scale", "offset", "movingSum", "movingAverage", "movingMin",
        "movingMax", "removeAboveValue", "removeBelowValue", "highestMax",
        "highestAverage", "lowestAverage", "limit", "sumSeries",
        "averageSeries", "maxSeries", "minSeries", "countSeries",
        "asPercent", "nPercentile", "grep", "exclude", "transformNull",
        "delay", "integralByInterval",
    ])
    s = random_target(shape, param, depth - 1)
    if name in UNARY or name in ("sumSeries", "averageSeries", "maxSeries",
                                 "minSeries", "countSeries", "asPercent"):
        return f"{name}({s})"
    if name in ("scale", "offset"):
        return f"{name}({s}, {param.randint(-3, 5)})"
    if name.startswith("moving"):
        return f"{name}({s}, {param.randint(1, 6)})"
    if name in ("removeAboveValue", "removeBelowValue"):
        return f"{name}({s}, {param.choice([40, 52, 60])})"
    if name in ("highestMax", "highestAverage", "lowestAverage", "limit"):
        return f"{name}({s}, {param.randint(1, 4)})"
    if name == "nPercentile":
        return f"nPercentile({s}, {param.choice([25, 50, 95])})"
    if name == "grep":
        return f"grep({s}, '{param.choice(['^c', '^[ve]', 'r'])}')"
    if name == "exclude":
        return f"exclude({s}, '{param.choice(['^c', '^[ve]', 'q'])}')"
    if name == "transformNull":
        return f"transformNull({s}, {param.randint(-2, 2)})"
    if name == "delay":
        return f"delay({s}, {param.randint(0, 3)})"
    return f"integralByInterval({s}, {param.randint(1, 8)})"


def _valid(target: str) -> bool:
    from go_whisper_spark.render import RenderParseError, parse_target, validate_target

    try:
        validate_target(parse_target(target))
    except RenderParseError:
        return False
    return True


def templates(n: int, shape_seed: int) -> list:
    """``n`` template shapes as (shape seed, depth) pairs whose canonical
    instance ``validate_target`` accepts; rejected shapes are redrawn."""
    rng = random.Random(shape_seed)
    depths = [d for d, w in DEPTH_WEIGHTS.items() for _ in range(w)]
    out, seen = [], set()
    while len(out) < n:
        t = (rng.getrandbits(32), rng.choice(depths))
        target = random_target(random.Random(t[0]), random.Random(0), t[1])
        if target not in seen and _valid(target):
            seen.add(target)
            out.append(t)
    return out


def instantiate(shapes: list, seed: int) -> list:
    """The seeded universe: each template with seeded parameters, redrawn
    until valid and distinct (the canonical instance as a last resort)."""
    out, seen = [], set()
    for i, (shape_seed, depth) in enumerate(shapes):
        for attempt in range(20):
            param = random.Random(f"{seed}/{i}/{attempt}")
            target = random_target(random.Random(shape_seed), param, depth)
            if target not in seen and _valid(target):
                break
        else:
            target = random_target(random.Random(shape_seed), random.Random(0), depth)
        seen.add(target)
        out.append(target)
    return out


def schedule(n: int) -> list:
    """Template ranks in request order: Zipf draws from a constant seed."""
    rng = random.Random(SHAPE_SEED + 1)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(UNIVERSE)]
    return rng.choices(range(UNIVERSE), weights, k=n)


def interleave(rng: random.Random, block: dict) -> list:
    """One block of op kinds in a seeded order in which every kind
    recurs at evenly spaced positions, so any prefix of the stream holds
    close to the block's mix."""
    keyed = [((i + rng.random()) / n, kind) for kind, n in block.items() for i in range(n)]
    return [kind for _, kind in sorted(keyed)]


class Dashboard:
    name = "dashboard"
    tail_pct = 62.0
    cycle_start = None

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer

    # ---------------------------------------------------------------- setup
    def setup(self, spark, rep: int) -> None:
        import __spark_entry__ as entry
        from go_whisper_spark import SeriesConfig
        from go_whisper_spark.engine import WhisperEngine
        from go_whisper_spark.retention import MaterializedRollups, write_archives
        from go_whisper_spark.sources.tables import events_points

        self.spark = spark
        self.sf = SF
        with open(os.path.join(SF, "events.parquet"), "rb") as fh:
            data = fh.read()
        shapes = templates(UNIVERSE + 1, SHAPE_SEED)
        self.universe = instantiate(shapes[:UNIVERSE], self.seed)
        warm = instantiate(shapes[UNIVERSE:], self.seed)
        self.fp = fingerprint(data, self.universe)
        self.results = {}
        self.queries = entry.queries()

        self.now = NOW
        self.config = SeriesConfig.from_defs(FETCH_DEFS, "average", 0.0)
        self.engine = WhisperEngine(spark, self.config)
        self.engine.update_many(events_points(spark, self.sf), self.now)
        base = os.path.join(self.work, f"rep{rep}", "rollups")
        write_archives(self.engine, base, self.now)
        self.rollups = MaterializedRollups(spark, base, self.config)

        from go_whisper_spark.render import render

        warm_op = Op("warm", "warm", 0.0)
        for t in warm:
            consume(render(spark, self.sf, t), self.tracer, warm_op)
        consume(self.queries[GQUERIES[0]](spark, self.sf), self.tracer, warm_op)
        consume(self.engine.fetch(self.now - 86_400, self.now, self.now).frame,
                self.tracer, warm_op)

    # --------------------------------------------------------------- stream
    def stream(self):
        """The op stream, a pure function of the seed: blocks of
        ``BLOCK`` in a seeded order; renders follow the template
        schedule, ``g_*`` reads and fetch paths and spans take turns."""
        rng = random.Random(self.seed * 7919 + 17)
        ranks = iter(schedule(10_000))
        n_gq = n_fetch = 0
        while True:
            for kind in interleave(rng, BLOCK):
                if kind == "render":
                    yield "render", self.universe[next(ranks)]
                elif kind == "gquery":
                    yield "gquery", GQUERIES[n_gq % len(GQUERIES)]
                    n_gq += 1
                else:
                    until = self.now - rng.randint(0, 20) * 3600
                    span = FETCH_SPAN_H[n_fetch % len(FETCH_SPAN_H)] * 3600
                    metrics = sorted(rng.sample(EVENT_TYPES, 1 + n_fetch % 3))
                    via = ("engine", "rollups")[(n_fetch + n_fetch // 3) % 2]
                    n_fetch += 1
                    yield f"fetch_{via}", (until - span, until, metrics)

    def execute(self, kind: str, arg, op: Op) -> None:
        from go_whisper_spark.render import render

        if kind == "render":
            df = render(self.spark, self.sf, arg)
        elif kind == "gquery":
            with self.tracer.span("operators.build", "operators"):
                df = self.queries[arg](self.spark, self.sf)
        else:
            src = self.engine if kind == "fetch_engine" else self.rollups
            frm, until, metrics = arg
            df = src.fetch(frm, until, self.now, metrics).frame
        table = consume(df, self.tracer, op)
        op.extra["rows"] = table.num_rows
        # The first result of each gate check is kept for the gate.
        self.results.setdefault(self.check_key(kind, arg), (kind, arg, table))

    # ----------------------------------------------------------------- gate
    def gate(self, ops) -> dict:
        """Untimed output check of results the timed ops delivered: every
        distinct ``g_*`` read against its ``oracle_sql()``, a seeded
        sample of the rendered targets against ``render_oracle_sql``,
        and a sample of fetch windows against the other fetch path."""
        import duckdb
        import __spark_entry__ as entry
        from go_whisper_spark.render import render_oracle_sql

        rng = random.Random(self.seed + 99)
        keys = sorted(self.results, key=repr)
        renders = [k for k in keys if k[0] == "render"]
        fetches = [k for k in keys if k[0] == "fetch"]
        picked = ([k for k in keys if k[0] == "gquery"]
                  + rng.sample(renders, min(GATE_RENDER, len(renders)))
                  + rng.sample(fetches, min(GATE_FETCH, len(fetches))))
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.sf, 'events.parquet')}')"
        )
        checks, negative = {}, None
        for key in picked:
            kind, arg, table = self.results[key]
            if key[0] == "gquery":
                want = duckdb_hash(con, oracles[key[1]])
            elif key[0] == "render":
                want = duckdb_hash(con, render_oracle_sql(key[1]))
            else:
                other = self.rollups if kind == "fetch_engine" else self.engine
                frm, until, metrics = arg
                want = spark_hash(other.fetch(frm, until, self.now, metrics).frame)
            checks[key] = arrow_hash(table) == want
            if negative is None and key[0] != "fetch" and table.num_rows:
                # Negative control: one changed cell must fail the compare.
                cols = table.column_names
                rows = list(zip(*(table.column(c).to_pylist() for c in cols)))
                rows[0] = rows[0][:-1] + ("negative control",)
                negative = typed_hash(cols, rows) != want
        con.close()
        return {"checks": checks, "negative_control": bool(negative)}

    def check_key(self, kind: str, arg):
        """The gate check that covers an op: both fetch paths of one
        window are checked against each other."""
        return ("fetch", repr(arg)) if kind.startswith("fetch_") else (kind, arg)

    def after_op(self, op: Op) -> None:
        pass
