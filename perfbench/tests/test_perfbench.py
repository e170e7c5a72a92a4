"""Self-tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from measure import Span, Tracer, run_pass, self_times, tail, unattributed  # noqa: E402

EVENT_LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


@pytest.mark.parametrize(
    "n, pct",
    [(20, 50), (39, 50), (40, 75), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_picks_highest_percentile_with_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    got_pct, value, count = tail({"a": samples[::2], "b": samples[1::2]})
    assert (got_pct, count) == (pct, n)
    assert sum(s > value for s in samples) >= 10


def test_tail_with_too_few_samples_reports_no_value():
    samples = {"a": [float(i) for i in range(10)], "b": [float(i) for i in range(9)]}
    assert tail(samples) == (None, None, 19)


def test_eventlog_rolls_tasks_up_to_ops_through_job_groups():
    ops = eventlog.rollup_file(EVENT_LOG)
    assert set(ops) == {"t/1/pandas", "t/1/cache"}  # untagged jobs are ignored
    pandas, cache = ops["t/1/pandas"], ops["t/1/cache"]
    assert pandas["build_jobs"] == 1 and cache["build_jobs"] == 0
    with open(EVENT_LOG) as f:
        events = [json.loads(line) for line in f]
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    tagged = [e for e in jobs if e["Properties"].get("spark.jobGroup.id")]
    assert pandas["exec.jobs"] + cache["exec.jobs"] == len(tagged) < len(jobs)
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    stages = {s for e in tagged for s in e["Stage IDs"]}
    assert pandas["exec.tasks"] + cache["exec.tasks"] == sum(e["Stage ID"] in stages for e in tasks)
    # 100 rows went through applyInPandas; nothing else crossed to Python
    assert pandas["python.rows"] == 100 and cache["python.rows"] == 0
    assert pandas["python.mb_sent"] > 0 and pandas["python.mb_received"] > 0
    # only the persisted DataFrame stored rdd blocks
    assert cache["exec.cache_mb"] > 0 and pandas["exec.cache_mb"] == 0
    assert pandas["exec.task_skew"] >= 1.0


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        Span("root", 0.0, 10.0, None, "op"),
        Span("a", 1.0, 3.0, 0, "op"),
        Span("b", 2.0, 5.0, 0, "op"),  # overlaps a: counted once
        Span("c", 8.0, 12.0, 0, "op"),  # outlives root: clipped at 10
        Span("a.1", 1.5, 2.5, 1, "op"),  # grandchild: only a loses it
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])
    assert unattributed(spans, "op", wall=12.0, op_start=-1.0) == pytest.approx(2.0)


def test_tracer_nests_spans_and_self_times_sum_to_the_root():
    t = Tracer()
    t.op = "w/0/q"
    with t.span("outer"):
        with t.span("inner"):
            with t.span("leaf"):
                pass
        with t.span("inner2"):
            pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [
        ("outer", None, "w/0/q"), ("inner", 0, "w/0/q"), ("leaf", 1, "w/0/q"),
        ("inner2", 0, "w/0/q"),
    ]
    root = t.spans[0]
    assert sum(self_times(t.spans)) == pytest.approx(root.end - root.start)
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_an_operation_that_raises_is_failed_and_the_pass_goes_on():
    ticks = iter(range(100))
    ran = []

    def run_op(op):
        ran.append(op)
        if op == "b":
            raise ValueError("boom")

    results = run_pass(
        ["a", "b", "c"],
        run_op,
        after_op=lambda op: ["wrong rows"] if op == "c" else [],
        clock=lambda: float(next(ticks)),
    )
    assert ran == ["a", "b", "c"]
    assert [r.failed for r in results] == [False, True, True]
    assert "ValueError: boom" in results[1].error
    assert results[2].problems == ["wrong rows"]
    assert all(r.wall == 1.0 for r in results)  # after_op is outside the timer


def test_compare_refuses_reports_from_hosts_with_different_core_counts(tmp_path, capsys):
    import compare

    def report(name, nproc, value):
        path = tmp_path / name
        path.write_text(json.dumps({
            "workload": "queries", "trace": 0, "host": {"nproc": nproc},
            "metrics": {"warm_pass_s": {"value": value, "unit": "s"}},
        }))
        return str(path)

    a, b, c = report("a.json", 4, 2.0), report("b.json", 4, 3.0), report("c.json", 32, 1.0)
    assert compare.main([a, "--", b]) == 0
    assert "1.500" in capsys.readouterr().out
    assert compare.main([a, "--", b, c]) == 2
    assert "nproc [4, 32]" in capsys.readouterr().err


def test_cpu_delta_counts_new_processes_from_zero_and_ended_ones_not_at_all():
    from measure import cpu_delta

    before = {1: 10.0, 2: 5.0}
    after = {1: 12.5, 3: 0.5}  # 2 ended, 3 was born
    assert cpu_delta(before, after) == pytest.approx(3.0)


def test_fixture_verify_refuses_a_changed_table(tmp_path):
    import shutil

    import fixture

    shutil.copytree(fixture.DIR, tmp_path / "sf")
    assert fixture.verify(str(tmp_path / "sf")) == fixture.verify()
    with open(tmp_path / "sf" / "region.parquet", "ab") as f:
        f.write(b"x")
    with pytest.raises(RuntimeError, match="region.parquet"):
        fixture.verify(str(tmp_path / "sf"))


def test_queries_cold_pass_order_is_fixed_and_later_orders_follow_the_seed():
    from workloads import Context, Queries

    def orders(seed):
        q = Queries(Context(None, {}, "", "", seed, Tracer(enabled=False)))
        return [q.ops(p) for p in range(4)]

    runs = [orders(seed) for seed in range(1, 9)]
    assert all(r[0] == list(Queries.QUERIES) for r in runs)
    assert runs[0] == orders(1)  # same seed, same orders
    assert len({tuple(map(tuple, r[1:])) for r in runs}) > 1


def test_pipeline_passes_of_a_run_never_repeat_a_window():
    from workloads import Context, Pipeline

    for seed in range(1, 6):
        pl = Pipeline(Context(None, {}, "", "", seed, Tracer(enabled=False)))
        params = [pl.params(f"pipeline_lake/{p}/run") for p in range(12)]
        assert len({(r.start, r.end) for r in params}) == 12
        assert all(r.start <= dt.date.fromisoformat(r.month + "-01") < r.end for r in params)
        assert params == [pl.params(f"pipeline_lake/{p}/run") for p in range(12)]
