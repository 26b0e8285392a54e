"""The workloads, run against the package's public functions.

Each workload sets up (untimed apart from ``setup_s``), checks the output
of every distinct operation it will time, then runs whole rounds of seeded
operations (see gen.py) in a closed loop until the requested seconds of
timed work have passed: one client, the next operation starts only after
the previous one returned. Every round holds the same units of work (an
operation, or a corpus pass of four), and a run reports the round in which
every unit takes its median time over the run (:meth:`Run.median_round`),
so a stall that hits one round moves no metric.

A query call is ``fn(spark, sf_dir)`` followed by a full materialization
through the noop sink, bench.py's protocol.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen
from f1_lakehouse_spark import analytics
from f1_lakehouse_spark.copilot import guardrails
from f1_lakehouse_spark.plans.medallion import build_registry
from f1_lakehouse_spark.registry import REGISTRY
from f1_lakehouse_spark.sources import mor, txn
from f1_lakehouse_spark.streaming.ingest import streaming_medallion_publish
from f1_lakehouse_spark.tables import load_table, register_views
from tracing import NO_TRACE


# Timed rounds a run takes at least, so that most units have three samples
# and a median that one stalled round does not move.
MIN_ROUNDS = 3


@dataclass
class Op:
    kind: str  # "query", "commit" or "read"
    seconds: float
    unit: str
    round: int


@dataclass
class Run:
    """One workload run: the session, its tracer, the op log and the checks.

    ``check_s`` is time spent inside the checker (DuckDB and comparisons),
    which set-up time leaves out; ``paused_s`` is untimed work inside the
    measured loop (landing input files, checks at compaction); ``timed_s``
    is the measured loop's wall clock without it."""

    spark: object
    workload: str
    data_dir: str
    run_dir: str
    oracle_cache: str
    tracer: object = NO_TRACE
    ops: list[Op] = field(default_factory=list)
    op_spans: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    check_s: float = 0.0
    paused_s: float = 0.0
    clock_start: float | None = None
    timed_s: float = 0.0
    rounds: int = 0
    period: int = 1
    space_amp: float | None = None

    def data(self, sf: str) -> str:
        return os.path.join(self.data_dir, sf)

    def oracle(self, sf_dir: str) -> check.Oracle:
        return check.Oracle(sf_dir, self.oracle_cache)

    def op(self, kind: str, name: str, fn, unit: str | None = None) -> None:
        """Run one operation of ``unit`` (default: its name). Timed (and
        recorded) once the clock runs; an operation that raises counts as
        failed and the loop goes on."""
        op_id = f"{self.workload}.{name}.{self.attempted}"
        self.spark.sparkContext.setJobGroup(op_id, name)
        self.attempted += 1
        ok = True
        with self.tracer.span(f"op.{kind}", op=op_id) as span:
            t0 = time.perf_counter()
            try:
                fn()
            except Exception:
                traceback.print_exc()
                self.failed += 1
                ok = False
            seconds = time.perf_counter() - t0
        if self.clock_start is None:
            return
        if ok:
            self.ops.append(Op(kind, seconds, unit or name, self.rounds))
        if self.tracer.enabled:
            self.tracer.collect_op(span)
            self.op_spans.append(span)

    def verify(self, label: str, produce, judge) -> None:
        """One checked operation: ``produce()`` is the program's work and
        returns a result; ``judge(result)`` is the checker's and returns
        None or the reason for a mismatch."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = produce()
            t1 = time.perf_counter()
            reason = judge(result)
            self.check_s += time.perf_counter() - t1
        except Exception:
            traceback.print_exc()
            reason = "raised"
        print(f"check {label}: {time.perf_counter() - t0:.2f}s {reason or 'ok'}", file=sys.stderr)
        if reason is not None:
            self.failed += 1

    @contextlib.contextmanager
    def paused(self):
        """Untimed work inside the measured loop."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.clock_start is not None:
                self.paused_s += time.perf_counter() - t0

    def measure(self, rounds, run_op, seconds: float, period: int) -> None:
        """Start the clock and run whole rounds until ``seconds`` of timed
        work have passed, and at least MIN_ROUNDS rounds and ``period``: the
        number of rounds after which their mix of units repeats."""
        self.period = period
        self.clock_start = time.perf_counter()
        for ops in rounds:
            for op in ops:
                run_op(op)
            self.rounds += 1
            self.timed_s = time.perf_counter() - self.clock_start - self.paused_s
            if self.rounds >= max(MIN_ROUNDS, period) and self.timed_s >= seconds:
                break

    def median_round(self) -> tuple[float, float]:
        """(ops per second, geometric-mean op latency) of the median round.

        A unit's sample is the summed latency of its operations in one
        round; each unit takes the median of its samples, and counts as
        often as it occurs in the first ``period`` rounds. A unit of n
        operations adds n latencies of its median over n to the geometric
        mean."""
        samples: dict[str, list[float]] = {}
        size: dict[str, int] = {}
        weight: dict[str, int] = {}
        for (unit, r), ops in itertools.groupby(self.ops, lambda op: (op.unit, op.round)):
            ops = list(ops)
            samples.setdefault(unit, []).append(sum(op.seconds for op in ops))
            size[unit] = len(ops)
            if r < self.period:
                weight[unit] = weight.get(unit, 0) + 1
        n_ops = sum(w * size[u] for u, w in weight.items())
        seconds = sum(w * statistics.median(samples[u]) for u, w in weight.items())
        log_lat = sum(
            w * size[u] * math.log(statistics.median(samples[u]) / size[u])
            for u, w in weight.items()
        )
        return n_ops / seconds, math.exp(log_lat / n_ops)


def _execute(run: Run, df) -> None:
    """Plan (traced runs only: the noop write plans again) and fully
    materialize ``df`` through the noop sink."""
    if run.tracer.enabled:
        with run.tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
    with run.tracer.span("spark.exec"):
        df.write.format("noop").mode("overwrite").save()


def _spark_result(df):
    return df.columns, dict(df.dtypes), [tuple(r) for r in df.collect()]


def _pandas_result(df, pdf):
    cols = list(pdf.columns)
    rows = list(zip(*(pdf[c].tolist() for c in cols))) if cols else []
    return cols, dict(df.dtypes), rows


def _judge(oracle, sql):
    return lambda result: check.compare(*result, oracle.answer(sql))


# --- analytics_reads -----------------------------------------------------


def _sql_ops(run: Run, seed: int):
    """Set-up and check pass of the SQL, dashboard and copilot operations;
    returns the runner of their timed operations."""
    spark, tr = run.spark, run.tracer
    sf = run.data("sf0.1")
    year, questions = gen.sql_plan(seed)
    register_views(spark, sf)
    translator = guardrails.TemplateTranslator(
        {needle: gen.copilot_text(needle) for needle in gen.COPILOT_TEMPLATES}
    )
    oracle = run.oracle(sf)

    def dashboard(fn):
        return getattr(analytics, fn)(spark, sf, year)

    def dashboard_result(fn):
        df = dashboard(fn)
        return _pandas_result(df, analytics.to_client(df))

    for name in gen.SQL_QUERIES:
        run.verify(
            name,
            lambda: _spark_result(REGISTRY[name].fn(spark, sf)),
            _judge(oracle, REGISTRY[name].oracle),
        )
    for fn in gen.DASHBOARDS:
        run.verify(
            f"{fn}({year})",
            lambda: dashboard_result(fn),
            _judge(oracle, check.DASHBOARD_SQL[fn].format(year=year)),
        )
    for q in questions:
        needle = next(n for n in gen.COPILOT_TEMPLATES if n in q)
        run.verify(
            q,
            lambda: _spark_result(guardrails.ask_json(spark, q, translator)["df"]),
            _judge(oracle, check.copilot_sql(gen.COPILOT_TEMPLATES[needle][0])),
        )

    def query(name):
        with tr.span("operators.build"):
            df = REGISTRY[name].fn(spark, sf)
        _execute(run, df)

    def dash(fn):
        with tr.span("analytics.query"):
            df = dashboard(fn)
        with tr.span("analytics.to_client"):
            analytics.to_client(df)

    def copilot(q):
        if tr.enabled:
            with tr.span("copilot.guard"):
                raw = translator(q, "")
                try:
                    raw = guardrails.parse_ai_response(raw)["sql"]
                except guardrails.GuardrailError:
                    pass  # fenced SQL, not a JSON payload
                sql = guardrails.validate_select_only(guardrails.extract_sql(raw))
                guardrails.wrap_limit(sql)
        with tr.span("copilot.ask"):
            out = guardrails.ask_json(spark, q, translator)
        _execute(run, out["df"])

    def run_op(op: gen.ReadOp):
        if op.kind == "query":
            run.op("query", op.name, lambda: query(op.name))
        elif op.kind == "dashboard":
            run.op("query", op.name, lambda: dash(op.name))
        else:
            run.op("query", "copilot", lambda: copilot(op.name), op.unit)

    return run_op


def _corpus_ops(run: Run, seed: int):
    """Check pass of the pipeline queries over both corpora; returns the
    runner of their timed operations."""
    spark, tr = run.spark, run.tracer
    dirs = {c: run.data(c) for c in gen.CORPORA}
    # the check pass ends on the corpus the first timed pass does not use,
    # so that pass too rolls the session caches over
    for corpus in gen.corpus_order(seed):
        sf, oracle = dirs[corpus], run.oracle(dirs[corpus])
        for name in gen.CORPUS_QUERIES:
            run.verify(
                f"{name}@{corpus}",
                lambda: _spark_result(REGISTRY[name].fn(spark, sf)),
                _judge(oracle, REGISTRY[name].oracle),
            )

    def pipeline(name, corpus):
        if tr.enabled:
            before, _ = tr.persisted()
        with tr.span("pipeline.build") as build:
            df = REGISTRY[name].fn(spark, dirs[corpus])
        _execute(run, df)
        if tr.enabled:
            after, size = tr.persisted()
            build.counts["cache.new_persists"] = len(after - before)
            build.counts["cache.persisted_frames"] = len(after)
            build.counts["cache.persisted_bytes"] = size

    def run_op(op: gen.ReadOp):
        run.op("query", f"{op.name}@{op.corpus}", lambda: pipeline(op.name, op.corpus), op.unit)

    return run_op


def analytics_reads(run: Run, seed: int, seconds: float) -> None:
    sql_op = _sql_ops(run, seed)
    corpus_op = _corpus_ops(run, seed)
    run.measure(
        gen.read_rounds(seed),
        lambda op: (corpus_op if op.kind == "pipeline" else sql_op)(op),
        seconds,
        gen.READ_PERIOD,
    )


# --- lakehouse_writes ----------------------------------------------------

ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
]
KEY = "o_orderkey"
# Untimed cycles before the clock starts. After one, the JIT was still
# catching up in some runs (their first timed cycle 30-40 % slower than
# their last); after two the timed cycles run level.
SETUP_CYCLES = 2
# The medallion rebuild reads sf0.01: at sf0.1 one publish alone (4-5 s)
# would outlast the run.
MEDALLION_SF = "sf0.01"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _manifest_dirs(root: str) -> list[str]:
    m = txn.read_manifest(root) or {"tables": {}}
    return [os.path.join(root, name, v) for name, v in m["tables"].items()]


def _upsert_rows(src, u: gen.Upsert):
    """The upsert batch in the base schema (see gen.Upsert)."""
    updated = (
        src.filter(F.expr(u.where_sql()))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(u.delta))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    inserted = (
        src.filter(F.col(KEY) < u.new_rows)
        .withColumn(KEY, F.col(KEY) + F.lit(u.new_lo))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    return updated.unionByName(inserted)


def _model_apply(con, c) -> None:
    """Replay one MoR commit on the DuckDB model of orders."""
    if isinstance(c, gen.Delete):
        con.execute(f"DELETE FROM orders_model WHERE {c.where_sql()}")
        return
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE batch AS
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + CAST({c.delta} AS DOUBLE) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders_src WHERE {c.where_sql()}
        UNION ALL
        SELECT o_orderkey + {c.new_lo}, o_custkey, 'N', o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders_src WHERE o_orderkey < {c.new_rows}"""
    )
    con.execute("DELETE FROM orders_model WHERE o_orderkey IN (SELECT o_orderkey FROM batch)")
    con.execute(f"INSERT INTO orders_model SELECT {', '.join(ORDER_COLS)} FROM batch")


def lakehouse_writes(run: Run, seed: int, seconds: float) -> None:
    spark, tr = run.spark, run.tracer
    lake = os.path.join(run.run_dir, "lake")
    orders_dir = os.path.join(lake, "orders")
    med_root = os.path.join(lake, "medallion")
    stream_root = os.path.join(lake, "stream")
    landing = os.path.join(lake, "landing")
    ckpt = os.path.join(lake, "_checkpoint")
    check_dir = os.path.join(run.run_dir, "check")
    os.makedirs(landing)
    sf_orders, sf_med = run.data("sf0.1"), run.data(MEDALLION_SF)
    orders_src = load_table(spark, sf_orders, "orders")

    con = check.connect(sf_med)
    orders_parquet = os.path.join(sf_orders, "orders.parquet")
    con.execute(f"CREATE VIEW orders_src AS SELECT * FROM read_parquet('{orders_parquet}')")
    con.execute("CREATE TABLE orders_model AS SELECT * FROM orders_src")
    pending: list = []
    stream_model = check.streaming_model(os.path.join(landing, "*.parquet"))

    def publish(txn_id):
        with tr.span("plans.resolve"):
            reg = build_registry(spark, sf_med)
            cache: dict = {}
            tables = {n: reg.build_dataframe(n, cache) for n in reg.topo_order()}
        with tr.span("txn.publish") as s:
            txn.publish_tables(spark, med_root, tables, txn_id)
        if tr.enabled:
            s.counts["txn.bytes_written"] = sum(_dir_bytes(d) for d in _manifest_dirs(med_root))

    def land(sl: gen.EventSlice):
        cols = gen.slice_rows(sl)
        table = pa.table({**cols, "ts": pa.array(cols["ts"], pa.timestamp("us"))})
        pq.write_table(table, os.path.join(landing, f"events-{sl.index:05d}.parquet"))

    def microbatch():
        with tr.span("streaming.microbatch"):
            streaming_medallion_publish(spark, landing, stream_root, ckpt, glob="*.parquet")

    def commit(c):
        if isinstance(c, gen.Upsert):
            with tr.span("mor.upsert"):
                mor.mor_upsert(spark, orders_dir, KEY, _upsert_rows(orders_src, c))
        else:
            with tr.span("mor.delete"):
                mor.mor_delete(spark, orders_dir, KEY, F.expr(c.where_sql()))
        pending.append(c)

    def snapshot_read():
        with tr.span("mor.read") as s:
            mor.mor_read(spark, orders_dir, KEY).write.format("noop").mode("overwrite").save()
        if tr.enabled:
            gen_dir = os.path.dirname(mor.base_dir(orders_dir))
            s.counts["mor.fragments_at_read"] = sum(
                f.endswith(".parquet")
                for sub in ("deletes", "inserts")
                if os.path.isdir(os.path.join(gen_dir, sub))
                for f in os.listdir(os.path.join(gen_dir, sub))
            )
        with tr.span("txn.read"):
            m = txn.read_manifest(med_root)
            gold = txn.manifest_read_table(spark, med_root, "gold.supplier_summary", m)
            gold.write.format("noop").mode("overwrite").save()

    def compact():
        with tr.span("mor.compact") as s:
            mor.mor_compact(spark, orders_dir, KEY)
        if tr.enabled:
            s.counts["mor.bytes_rewritten_per_compact"] = _dir_bytes(mor.base_dir(orders_dir))

    def verify_lake(cycle: int):
        """Merged orders, medallion gold and streaming silver/gold against
        the DuckDB model replayed from the same commit log."""
        for c in pending:
            _model_apply(con, c)
        pending.clear()
        merged = os.path.join(check_dir, f"orders-{cycle}")
        run.verify(
            f"orders@{cycle}",
            lambda: mor.mor_read(spark, orders_dir, KEY).write.parquet(merged),
            lambda _: check.compare_table(con, "SELECT * FROM orders_model", merged, ORDER_COLS),
        )
        for root, models in ((med_root, check.MEDALLION_GOLD), (stream_root, stream_model)):
            m = txn.read_manifest(root)
            for name, sql in models.items():
                run.verify(
                    f"{name}@{cycle}",
                    lambda: os.path.join(root, name, m["tables"][name]),
                    lambda vdir: check.compare_table(con, sql, vdir, list(con.sql(sql).columns)),
                )

    def cycle(sl, commits):
        run.op("commit", "publish", lambda: publish(sl.index + 1))
        with run.paused():
            land(sl)
        run.op("commit", "microbatch", microbatch)
        for i, c in enumerate(commits):
            run.op("commit", c.kind, lambda: commit(c), f"{c.kind}.{i}")
            run.op("read", "snapshot", snapshot_read, f"snapshot.{i}")
        run.op("commit", "compact", compact)
        with run.paused():
            verify_lake(sl.index)

    mor.mor_write_base(orders_src, orders_dir)
    cycles = gen.lake_rounds(seed)
    for _ in range(SETUP_CYCLES):  # first publish and micro-batch; warm every path
        cycle(*next(cycles))
    run.measure(([c] for c in cycles), lambda c: cycle(*c), seconds, 1)

    live = sum(_dir_bytes(d) for d in _manifest_dirs(med_root) + _manifest_dirs(stream_root))
    live += _dir_bytes(os.path.dirname(mor.base_dir(orders_dir)))
    total = sum(_dir_bytes(d) for d in (orders_dir, med_root, stream_root))
    run.space_amp = total / live


WORKLOADS = {
    "analytics_reads": analytics_reads,
    "lakehouse_writes": lakehouse_writes,
}
