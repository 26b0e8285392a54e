"""Tests of the benchmark itself (no Spark session needed):

- metric and workload names agree with BENCHMARK.json;
- the input generator is deterministic for a fixed seed;
- the output checker flags a deliberately wrong result.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workload_names_match_benchmark_json(spec):
    names = [w["name"] for w in spec["workloads"]]
    assert names == list(run.WORKLOAD_NAMES) == list(workloads.WORKLOADS)


def test_end_to_end_metrics_match_benchmark_json(spec):
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)


def test_per_layer_metrics_match_benchmark_json(spec):
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(tracing.LAYER_METRICS)


def _first(rounds, n=3):
    return list(itertools.islice(rounds, n))


@pytest.mark.parametrize("rounds", [gen.read_rounds, gen.lake_rounds])
def test_generator_is_deterministic_for_a_seed(rounds):
    assert _first(rounds(7)) == _first(rounds(7))
    assert _first(rounds(7)) != _first(rounds(8))


def test_generated_inputs_are_deterministic_for_a_seed():
    assert gen.sql_plan(3) == gen.sql_plan(3)
    (sl, _), = _first(gen.lake_rounds(3), 1)
    assert gen.slice_rows(sl) == gen.slice_rows(sl)
    assert len(set(gen.slice_rows(sl)["event_id"])) == sl.rows


def test_every_period_holds_the_whole_op_set():
    rounds = _first(gen.read_rounds(1), 2 * gen.READ_PERIOD)
    for ops in rounds:
        assert sorted(o.name for o in ops if o.kind == "query") == sorted(gen.SQL_QUERIES)
        assert sorted(o.name for o in ops if o.kind == "dashboard") == sorted(gen.DASHBOARDS)
        passes = {o.unit for o in ops if o.kind == "pipeline"}
        assert len(passes) == 1
        assert sorted(o.name for o in ops if o.kind == "pipeline") == sorted(gen.CORPUS_QUERIES)
    for start in (0, gen.READ_PERIOD):
        period = [o for ops in rounds[start:start + gen.READ_PERIOD] for o in ops]
        asked = [o.name for o in period if o.kind == "copilot"]
        assert sorted(asked) == sorted(gen.sql_plan(1)[1])
        assert sorted({o.corpus for o in period if o.corpus}) == sorted(gen.CORPORA)
    # timed rounds start on the corpus the check pass does not end on
    assert rounds[0][-1].corpus == gen.corpus_order(1)[0]


def test_median_round_ignores_a_stalled_round():
    run = workloads.Run(None, "w", "", "", "")
    run.period = 1
    for r, stall in enumerate((0.0, 0.0, 5.0)):
        run.ops += [
            workloads.Op("query", 1.0 + stall, "a", r),
            workloads.Op("query", 0.5, "pass", r),
            workloads.Op("query", 1.5, "pass", r),
        ]
    ops_per_s, geomean = run.median_round()
    assert ops_per_s == pytest.approx(3 / 3.0)
    assert geomean == pytest.approx(1.0)


ORACLE = (
    "SELECT CAST(k AS BIGINT) AS k, s, CAST(v AS DOUBLE) AS v "
    "FROM (VALUES (1, 'a', 2.5), (2, 'b', 3.0)) t(k, s, v)"
)
COLS = ["k", "s", "v"]
DTYPES = {"k": "bigint", "s": "string", "v": "double"}
ROWS = [(2, "b", 3.0), (1, "a", 2.5)]


@pytest.fixture
def oracle(tmp_path):
    inputs = tmp_path / "sf"
    inputs.mkdir()
    return check.Oracle(str(inputs), str(tmp_path / "cache"))


def test_checker_accepts_a_right_result(oracle):
    answer = oracle.answer(ORACLE)
    assert check.compare(COLS, DTYPES, ROWS, answer) is None
    # column order does not matter, names do
    assert check.compare(["v", "k", "s"], DTYPES, [(3.0, 2, "b"), (2.5, 1, "a")], answer) is None


def test_oracle_answers_come_back_from_the_cache(oracle):
    first = oracle.answer(ORACLE)
    again = check.Oracle(oracle.sf_dir, oracle.cache_dir)
    again._con = object()  # any DuckDB call would raise
    assert again.answer(ORACLE) == first


@pytest.mark.parametrize(
    "cols, dtypes, rows",
    [
        (COLS, DTYPES, [(2, "b", 3.0), (1, "a", 2.6)]),  # wrong value
        (COLS, DTYPES, ROWS[:1]),  # missing row
        (COLS, DTYPES, ROWS + [(3, "c", 1.0)]),  # extra row
        (["k", "s", "w"], {"k": "bigint", "s": "string", "w": "double"}, ROWS),  # renamed column
        (COLS, {**DTYPES, "v": "decimal(10,2)"}, ROWS),  # dtype family differs
    ],
)
def test_checker_flags_a_wrong_result(oracle, cols, dtypes, rows):
    assert check.compare(cols, dtypes, rows, oracle.answer(ORACLE)) is not None


def test_table_checker_flags_wrong_rows(tmp_path):
    con = duckdb.connect()
    out = tmp_path / "t"
    out.mkdir()
    con.execute(f"COPY ({ORACLE}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
    assert check.compare_table(con, ORACLE, str(out), COLS) is None
    wrong = ORACLE.replace("3.0", "3.5")
    assert check.compare_table(con, wrong, str(out), COLS) is not None
    duplicated = f"{ORACLE} UNION ALL SELECT 1, 'a', 2.5"
    assert check.compare_table(con, duplicated, str(out), COLS) is not None
