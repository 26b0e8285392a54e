"""Seeded inputs for the workloads.

Everything a workload sends to the package is drawn here from one
``random.Random`` per (workload, seed): the order of operations, dashboard
years, copilot questions, the rows of each landed ``events`` slice, and the
key ranges and sizes of every merge-on-read commit. The same seed gives the
same inputs; nothing here touches Spark or the filesystem, so the inputs can
be checked for determinism without a session.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import random
from dataclasses import dataclass

# Relational headline queries (bench.HEADLINE) timed by analytics_reads:
# exact-sum aggregate, join + top-k, scan/filter, median and salted skew
# aggregate. The rest of the headline is left out to keep a run short;
# queries whose results run to ~10^5 rows could not be checked in time.
SQL_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "a7_median_curve",
    "skew_salted_aggregate",
)

# The five analytics.py dashboard functions, each followed by to_client.
DASHBOARDS = ("session_date", "kpis", "fastest_topk", "team_summary_view", "pace_curve")

# l_shipdate spans 1995-2001 in the inputs; a year outside it would time an
# empty scan and check nothing.
SHIP_YEARS = tuple(range(1995, 2002))

# Copilot questions -> (SQL, response style) the template translator
# answers with. Two come back as fenced SQL and two as a JSON payload, so
# both response paths of ask_json are timed. Every result stays below the
# 200-row guard cap.
COPILOT_TEMPLATES = {
    "returns by line status": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus",
        "fenced",
    ),
    "orders per priority": (
        "SELECT o_orderpriority, COUNT(*) AS n_orders, "
        "MIN(o_totalprice) AS min_total FROM orders GROUP BY o_orderpriority",
        "json",
    ),
    "customers per nation": (
        "SELECT n_name, COUNT(*) AS n_customers FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
        "fenced",
    ),
    "busiest suppliers": (
        "SELECT l_suppkey, COUNT(*) AS n_lines FROM lineitem "
        "GROUP BY l_suppkey ORDER BY n_lines DESC, l_suppkey LIMIT 20",
        "json",
    ),
}
_QUESTION_PREFIXES = ("show", "please list", "what are the", "chart the")
QUESTIONS_PER_ROUND = 2
# Rounds after which analytics_reads' mix of units repeats.
READ_PERIOD = 2

# Pipeline headline queries (bench.HEADLINE) timed by analytics_reads:
# exact dedup plus the three that build or hit the shingle and minhash pair
# list session caches.
CORPUS_QUERIES = (
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters",
)
CORPORA = ("sf0.1", "sf0.01")

# lakehouse_writes: MoR commits per cycle (then one compaction), their fixed
# size in the sf0.1 orders key space, and the shape of a landed events slice.
MOR_COMMITS_PER_CYCLE = 2
ORDER_KEYS = 150_000
COMMIT_SPAN = 10_000
COMMIT_STEP = 10
UPSERT_NEW_ROWS = 200
EVENT_TYPES = ("click", "view", "purchase", "signup", "logout")
EVENT_USERS = 1_500
SLICE_ROWS = 2_000
SLICE_START = dt.datetime(2024, 2, 1)


@dataclass(frozen=True)
class Upsert:
    """Update every ``step``-th key in [lo, hi) (price += delta, status 'U')
    and insert ``new_rows`` keys above the base key space."""

    lo: int
    hi: int
    step: int
    delta: float
    new_lo: int
    new_rows: int

    @property
    def kind(self) -> str:
        return "upsert"

    def where_sql(self) -> str:
        return (
            f"o_orderkey >= {self.lo} AND o_orderkey < {self.hi} "
            f"AND o_orderkey % {self.step} = 0"
        )


@dataclass(frozen=True)
class Delete:
    """Delete the keys in [lo, hi) whose residue mod ``step`` is ``rem``."""

    lo: int
    hi: int
    step: int
    rem: int

    @property
    def kind(self) -> str:
        return "delete"

    def where_sql(self) -> str:
        return (
            f"o_orderkey >= {self.lo} AND o_orderkey < {self.hi} "
            f"AND o_orderkey % {self.step} = {self.rem}"
        )


@dataclass(frozen=True)
class EventSlice:
    """One landed file of events: ``rows`` rows whose columns are derived
    from ``seed`` (see :func:`slice_rows`)."""

    index: int
    seed: int
    rows: int


def copilot_text(needle: str) -> str:
    """What the translator returns for a question matching ``needle``."""
    sql, style = COPILOT_TEMPLATES[needle]
    if style == "json":
        return json.dumps({"sql": sql, "chart_type": "bar", "justification": needle})
    return f"Here is the query:\n```sql\n{sql}\n```"


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


def sql_plan(seed: int) -> tuple[int, list[str]]:
    """(the run's dashboard year, one phrasing per copilot template in
    seeded order). Every round draws from these, so the check pass covers
    every input timed."""
    rng = _rng("sql.params", seed)
    year = rng.choice(SHIP_YEARS)
    needles = rng.sample(sorted(COPILOT_TEMPLATES), len(COPILOT_TEMPLATES))
    return year, [f"{rng.choice(_QUESTION_PREFIXES)} {n}" for n in needles]


@dataclass(frozen=True)
class ReadOp:
    """One analytics_reads operation. The operations of one ``unit`` in a
    round are timed together as one sample."""

    kind: str  # "query", "dashboard", "copilot" or "pipeline"
    name: str  # registry name, dashboard function or copilot question
    unit: str
    corpus: str | None = None


def _sql_round(rng: random.Random, asked) -> list[ReadOp]:
    """One round's SQL operations, each a unit of its own: every relational
    query, every dashboard and the next QUESTIONS_PER_ROUND copilot
    questions, shuffled."""
    ops = [ReadOp("query", name, name) for name in SQL_QUERIES]
    ops += [ReadOp("dashboard", fn, fn) for fn in DASHBOARDS]
    ops += [ReadOp("copilot", q, q) for q in itertools.islice(asked, QUESTIONS_PER_ROUND)]
    rng.shuffle(ops)
    return ops


def corpus_order(seed: int) -> tuple[str, ...]:
    """The corpora in seeded order. The check pass and the timed rounds
    both take them in this order, so the check pass ends on the corpus the
    first timed round does not use."""
    return tuple(_rng("corpus.order", seed).sample(CORPORA, len(CORPORA)))


def read_rounds(seed: int):
    """Endless rounds of analytics_reads (lists of ReadOp): the SQL,
    dashboard and copilot operations, then one pass of CORPUS_QUERIES in
    seeded order over one corpus. Passes alternate between the corpora,
    so every pass rolls the session caches over and pays their builds; the
    queries of a pass are one unit (``pass@<corpus>``), since which of them
    pays a build depends on their order. Every READ_PERIOD rounds ask each
    copilot template once and pass over each corpus once."""
    _, questions = sql_plan(seed)
    rng = _rng("read", seed)
    asked = itertools.cycle(questions)
    for corpus in itertools.cycle(corpus_order(seed)):
        names = list(CORPUS_QUERIES)
        rng.shuffle(names)
        unit = f"pass@{corpus}"
        yield _sql_round(rng, asked) + [ReadOp("pipeline", n, unit, corpus) for n in names]


def _mor_commit(rng: random.Random, kind: str, next_new_key: int) -> Upsert | Delete:
    """A commit of fixed size at a seeded place: 1000 keys updated plus
    UPSERT_NEW_ROWS inserted, or 1000 keys deleted (fewer where an earlier
    delete already took them)."""
    lo = rng.randrange(0, ORDER_KEYS - COMMIT_SPAN)
    if kind == "upsert":
        return Upsert(
            lo=lo,
            hi=lo + COMMIT_SPAN,
            step=COMMIT_STEP,
            delta=rng.choice((1.25, 2.5, 10.0)),
            new_lo=next_new_key,
            new_rows=UPSERT_NEW_ROWS,
        )
    return Delete(lo=lo, hi=lo + COMMIT_SPAN, step=COMMIT_STEP, rem=rng.randrange(1, COMMIT_STEP))


def lake_rounds(seed: int):
    """Endless cycles of lakehouse_writes: (events slice, MoR commits). The
    cycle itself is fixed: medallion publish, micro-batch over the slice,
    each MoR commit followed by a snapshot read, then one compaction.
    Commits alternate upsert/delete: a delete first reads the merged view,
    so its cost grows with the fragments before it, and a seeded kind order
    would change a cycle's work. Cycle 0 is the set-up cycle, which warms
    every path."""
    rng = _rng("lakehouse_writes", seed)
    next_new_key = ORDER_KEYS
    index = 0
    while True:
        commits = []
        for i in range(MOR_COMMITS_PER_CYCLE):
            c = _mor_commit(rng, ("upsert", "delete")[i % 2], next_new_key)
            if isinstance(c, Upsert):
                next_new_key += c.new_rows
            commits.append(c)
        yield EventSlice(index, rng.randrange(2**31), SLICE_ROWS), commits
        index += 1


def slice_rows(s: EventSlice) -> dict[str, list]:
    """Column lists of an events slice (the ``events`` table schema). Event
    ids continue above every earlier slice, timestamps fall on day
    ``s.index`` after SLICE_START, and values carry two decimals, so the
    latest-per-user merge and the decimal gold sum are exact."""
    rng = random.Random(s.seed)
    base_id = 10_000_000 + s.index * s.rows
    day = SLICE_START + dt.timedelta(days=s.index)
    names = ("event_id", "ts", "user_id", "event_type", "value", "props")
    cols: dict[str, list] = {k: [] for k in names}
    for i in range(s.rows):
        cols["event_id"].append(base_id + i)
        cols["ts"].append(day + dt.timedelta(microseconds=rng.randrange(86_400_000_000)))
        cols["user_id"].append(rng.randrange(EVENT_USERS))
        cols["event_type"].append(rng.choice(EVENT_TYPES))
        cols["value"].append(rng.randrange(0, 100_000) / 100)
        cols["props"].append(f'{{"slice": {s.index}}}')
    return cols
