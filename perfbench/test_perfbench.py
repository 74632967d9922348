"""Tests of the benchmark itself: span arithmetic, tail choice, the seeded
lakehouse sequence and its DuckDB replay, failure counting, and smoke
runs of each workload, untraced and traced, on the bundled sf0.001 tables.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import run  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    layer_self_times,
    latency_stats,
    merge_siblings,
    self_times,
    tail_percentile,
    union_length,
)
from workloads import Op, lakehouse_plan, replay  # noqa: E402


# -- spans ---------------------------------------------------------------

def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_clipped_union_of_children():
    spans = [
        Span(0, "op", 1, None, 0.0, 10.0),
        Span(1, "construct", 1, 0, 1.0, 3.0),
        Span(2, "fetch", 1, 0, 2.0, 5.0),  # overlaps construct
        Span(3, "job", 1, 0, 8.0, 12.0),  # runs past the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 2))
    assert st[1] == st[2] - 1 == 2.0
    assert st[3] == 4.0


def test_overlapping_jobs_merge_before_reduction():
    spans = [
        Span(0, "fetch", 1, None, 0.0, 10.0),
        Span(1, "job", 1, 0, 1.0, 4.0, {"tasks": 2}),
        Span(2, "job", 1, 0, 3.0, 6.0, {"tasks": 3}),
        Span(3, "job", 1, 0, 7.0, 8.0, {"tasks": 1}),
    ]
    merged = merge_siblings(spans)
    jobs = [s for s in merged if s.name == "job"]
    assert [(s.start, s.end, s.attrs["tasks"]) for s in jobs] == [(1.0, 6.0, 5), (7.0, 8.0, 1)]
    by_layer = layer_self_times(spans, lambda s: s.name)
    # job time is the union (6 s), not the sum of overlapping jobs (7 s)
    assert by_layer == {"fetch": pytest.approx(4.0), "job": pytest.approx(6.0)}
    assert sum(by_layer.values()) == pytest.approx(10.0)


# -- tail percentile -------------------------------------------------------

@pytest.mark.parametrize(
    "n, pct",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct


def test_latency_stats_reports_the_percentile_it_used():
    few = latency_stats([3.0, 1.0, 2.0])
    assert (few["p50"], few["tail"], few["tail_pct"], few["n"]) == (2.0, 3.0, 100.0, 3)
    many = latency_stats([float(i) for i in range(1, 41)])
    assert many["tail_pct"] == 75.0
    assert many["tail"] == 30.0  # ten samples (31..40) lie beyond it


# -- lakehouse sequence ------------------------------------------------------

TYPES = ["click", "error", "purchase", "signup", "view"]


def test_lakehouse_plan_is_a_function_of_the_seed():
    a = lakehouse_plan(7, 1000, 50, TYPES)
    assert a == lakehouse_plan(7, 1000, 50, TYPES)
    assert a != lakehouse_plan(8, 1000, 50, TYPES)
    assert [s["op"] for s in a] == [s["op"] for s in lakehouse_plan(8, 1000, 50, TYPES)]


def test_lakehouse_plan_keeps_event_id_a_record_key():
    plan = lakehouse_plan(3, 1000, 50, TYPES)
    new_ids = [r[0] for s in plan if s["op"] == "append" for r in s["rows"]]
    merge_ids = [r[0] for s in plan if s["op"] == "merge_cow" for r in s["rows"]]
    assert len(set(merge_ids)) == len(merge_ids)
    assert not set(new_ids) & set(merge_ids)
    assert all(i >= 1000 for i in new_ids)


def test_replay_logs_every_commit_change():
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT i::BIGINT AS event_id, (i % 5)::BIGINT AS user_id, "
        "'click' AS event_type, i::DOUBLE AS value FROM range(100) r(i)"
    )
    plan = [
        {"op": "append", "rows": [(500, 7, "view", 1.25)]},
        {"op": "delete_dv", "where": "user_id = 7"},  # kills the appended row
        {"op": "update_dv", "where": "event_id < 3", "set": {"value": "value + 1.5"}},
        {"op": "read_full"},
        {"op": "read_changes"},
    ]
    out = replay(con, plan)
    assert out[1] == {"rows_deleted": 1} and out[2] == {"rows_updated": 3}
    assert out[3][0] == 100
    # insert + delete of the appended row, and a delete/insert pair per update
    assert out[4][0] == 2 + 2 * 3


# -- failure counting ------------------------------------------------------

class _StubSpark:
    class sparkContext:
        class _jsc:
            @staticmethod
            def sc():
                return None


class _StubWorkload:
    def check(self, op, out):
        if out != op.expected:
            raise AssertionError(f"{op.name}: {out} != {op.expected}")


def test_wrong_results_and_errors_count_as_named_failures():
    def boom():
        raise RuntimeError("no table")

    r = run.Runner(_StubSpark(), _StubWorkload())
    assert r.run_op(Op("good", "read", lambda: 1, expected=1)) is not None
    assert r.run_op(Op("wrong", "read", lambda: 2, expected=1)) is not None
    assert r.run_op(Op("raises", "read", boom)) is None
    assert r.attempted == 3
    assert r.failures == ["wrong", "raises"]


# -- the contract ------------------------------------------------------------

def test_benchmark_json_matches_the_metrics_the_run_prints():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in doc["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in doc["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in doc["workloads"]] == ["queries", "lakehouse"]
    assert any(m["name"] == "setup_s" for m in doc["end_to_end"])


@pytest.mark.parametrize("workload, trace", [("queries", 0), ("queries", 1), ("lakehouse", 0), ("lakehouse", 1)])
def test_smoke_pass_on_sf0_001(workload, trace):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    names = run.PER_LAYER if trace else run.END_TO_END
    assert list(result["metrics"]) == list(names)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["self_coverage"] >= 0.9
        assert m["counts_repeat"] == 1.0
        if workload == "lakehouse":
            assert m["layout.merge_cow.jobs"] > 0 and m["python_plan_nodes"] == 0
        else:
            assert m["python_plan_nodes"] > 0 and m["layout.merge_cow.jobs"] == 0
