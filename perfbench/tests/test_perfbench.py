"""The benchmark's own checks: seeded inputs repeat, the digest catches a
perturbed output, the printed metrics parse by name and unit and match
BENCHMARK.json, span self times subtract children, and the benchmark
refuses to run without the package under test.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pytest

import checks
import gen
import harness
import run
from spans import Span, self_times

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_same_seed_same_inputs():
    assert gen.window_table(5, 5_000).equals(gen.window_table(5, 5_000))
    assert not gen.window_table(5, 5_000).equals(gen.window_table(6, 5_000))
    assert gen.interactive_table(5, 5_000).equals(gen.interactive_table(5, 5_000))
    keys = np.arange(100)
    assert gen.request_stream(5, 200, 30, keys) == gen.request_stream(5, 200, 30, keys)
    a, b = gen.corpus(5, batches=2), gen.corpus(5, batches=2)
    assert a == b
    assert gen.corpus(6, batches=2)["batches"] != a["batches"]


def test_generated_properties_match_their_constants():
    props = gen.describe_window_table(gen.window_table(1, 50_000))
    assert abs(props["ts_tie_share"] - gen.BATCH_TIE_SHARE) < 0.02
    assert abs(props["x_null_share"] - gen.BATCH_NULL_SHARE) < 0.02
    assert abs(props["k1_hot_share"] - gen.BATCH_HOT_SHARE) < 0.02
    c = gen.corpus(1, batches=3)
    shares = gen.describe_corpus(c)
    assert shares["share_quality_fail"] == pytest.approx(gen.QUALITY_FAIL_SHARE)
    assert shares["share_store_dup"] == pytest.approx(gen.STORE_DUP_SHARE)
    for _, text in c["store"][:50]:
        words = text.split()
        assert len(words) >= 50
        assert len({w for w in words if w in gen.GOPHER_STOPWORDS}) >= 2


def _digest(con, sql, cols):
    cur = con.execute(checks.duck_digest_sql(sql, cols))
    return dict(zip([d[0] for d in cur.description], cur.fetchone()))


@pytest.fixture()
def window_output():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT i AS rid, i % 7 AS k, (i * 37) % 101 AS v "
        "FROM range(2000) r(i)"
    )
    con.execute(
        "CREATE TABLE out AS SELECT rid, avg(v) OVER w AS a, rank() OVER w AS r "
        "FROM t WINDOW w AS (PARTITION BY k ORDER BY v)"
    )
    yield con
    con.close()


@pytest.mark.parametrize("perturb", [
    "UPDATE out SET a = a + 0.01 WHERE rid = 17",      # one value, slightly
    "UPDATE out SET r = r + 1 WHERE rid = 1999",       # one integer
    "UPDATE out SET a = NULL WHERE rid = 3",           # a value lost
    "DELETE FROM out WHERE rid = 42",                  # a row lost
    # two rows swap their values: same multiset, wrong rows
    "UPDATE out SET a = CASE rid WHEN 5 THEN (SELECT a FROM out WHERE rid = 6) "
    "ELSE (SELECT a FROM out WHERE rid = 5) END WHERE rid IN (5, 6)",
])
def test_perturbed_output_fails_digest(window_output, perturb):
    con = window_output
    want = _digest(con, "SELECT * FROM out", ("a", "r"))
    assert checks.digest_mismatch(want, want) is None
    if "rid IN (5, 6)" in perturb:
        a5, a6 = (con.execute(f"SELECT a FROM out WHERE rid = {i}").fetchone()[0]
                  for i in (5, 6))
        assert a5 != a6
    con.execute(perturb)
    got = _digest(con, "SELECT * FROM out", ("a", "r"))
    assert checks.digest_mismatch(got, want) is not None


def test_empty_output_is_reported_as_no_rows(window_output):
    want = _digest(window_output, "SELECT * FROM out", ("a",))
    got = _digest(window_output, "SELECT * FROM out WHERE false", ("a",))
    assert checks.digest_mismatch(got, want) == "no rows where the reference has rows"


def test_self_time_subtracts_children():
    spans = [
        Span("request", 1, None, 0.0, 10.0),
        Span("parser.parse", 1, 0, 1.0, 3.0),
        Span("execution.run", 1, 0, 2.0, 6.0),  # overlaps its sibling
        Span("catalyst.plan", 1, 2, 2.5, 3.5),
    ]
    got = self_times(spans)
    assert got["request"] == pytest.approx(10.0 - 5.0)
    assert got["parser.parse"] == pytest.approx(2.0)
    assert got["execution.run"] == pytest.approx(3.0)
    assert got["catalyst.plan"] == pytest.approx(1.0)


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_parse_by_name_and_unit(trace):
    res = harness.Result(attempted=4, failed=1)
    res.end_to_end = {n: 1.5 for n in harness.END_TO_END}
    res.per_layer = {n: 2 for n in harness.PER_LAYER}
    args = argparse.Namespace(workload="window_batch", seed=1, trace=trace)
    side, result = run.result_lines(args, res, {"nproc": 4})
    line = json.loads(json.dumps(result))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is False and line["failed"] == 1
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        n: v["unit"] for n, v in line["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())
    assert side["error_rate"] == {"value": 0.25, "unit": "ratio"}


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "window_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
