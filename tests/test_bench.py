"""bench.py's query selection, summary line and stage summary: pure
functions, so no Spark session starts here."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

import bench
from dataframeutils_spark import driver


@pytest.fixture(scope="module")
def registered():
    return list(driver.all_queries())


def test_headline_is_registered_without_duplicates(registered):
    assert set(bench.HEADLINE) <= set(registered)
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_select_queries(registered):
    assert bench.select_queries("", registered) == bench.HEADLINE
    assert bench.select_queries("all", registered) == registered
    assert bench.select_queries("0:30", registered) == bench.HEADLINE[:30]
    assert bench.select_queries("5:", registered) == bench.HEADLINE[5:]
    assert bench.select_queries(":2", registered) == bench.HEADLINE[:2]
    # names outside HEADLINE are allowed, in the order given, once each
    assert bench.select_queries("bpe_train, tpch_q1,bpe_train", registered) == [
        "bpe_train", "tpch_q1"]


@pytest.mark.parametrize("only", ["no_such_query", "tpch_q1,no_such_query", "5:5", ","])
def test_select_queries_exits_on_bad_selection(registered, only):
    with pytest.raises(SystemExit) as exc:
        bench.select_queries(only, registered)
    assert exc.value.code not in (0, None)


def test_select_queries_exits_on_unregistered_headline(registered):
    with pytest.raises(SystemExit) as exc:
        bench.select_queries("", [n for n in registered if n != "tpch_q5"])
    assert "tpch_q5" in str(exc.value.code)


def _run(build, count, full=0.5):
    return {"build_s": build, "plan_s": 0.1, "count_s": count, "full_s": full}


def test_summary_keys_order_and_value():
    timed = {"weighted_bins": _run(1.0, 0.25), "tpch_q1": _run(0.5, 0.5),
             "tpch_q5": {"build_s": 0.2, "error": "boom"}}
    line = bench.summary(timed, 4.5, 0.1)
    assert list(line) == ["metric", "value", "unit", "n_queries", "n_failed",
                          "weighted_bins_cold", "weighted_bins_warm", "sf"]
    assert line["value"] == 2.25
    assert (line["n_queries"], line["n_failed"]) == (3, 1)
    assert (line["weighted_bins_cold"], line["weighted_bins_warm"]) == (4.5, 1.25)
    assert bench.summary({"tpch_q1": _run(1, 1)}, -1.0, 0.1)["weighted_bins_warm"] is None
    failed = bench.summary({"weighted_bins": {"error": "x"}}, -1.0, 0.1)
    assert failed["weighted_bins_warm"] == -1.0


def test_stage_summary_reads_timed_jobs_only():
    def job(group, t0, t1, stages):
        return {"group": group, "t0": t0, "t1": t1, "stages": stages}

    def stage(t0, t1, run_ms, submitted=True, tasks=4):
        return {"submitted": submitted, "t0": t0, "t1": t1, "run_ms": run_ms, "gc_ms": 10,
                "sched_delay_ms": 5, "fetch_wait_ms": 0, "tasks": tasks}

    g = f"bench:{bench.WORKLOAD}"
    jobs = {
        0: job(f"{g}:warm0:q:count", 0, 500, [0]),
        1: job(f"{g}:timed:q:build", 1000, 1200, [1]),
        2: job(f"{g}:timed:q:count", 2000, 2300, [2, 3]),
        3: job(f"{g}:timed:q:full", 3000, 3400, [4]),
    }
    stages = {0: stage(0, 500, 999, tasks=1), 1: stage(1000, 1200, 100),
              2: stage(2000, 2300, 300, tasks=1), 3: stage(0, 0, 0, submitted=False, tasks=0),
              4: stage(3000, 3400, 800)}
    timed = {"q": _run(0.3, 0.5, full=0.6)}
    out = bench.stage_summary(jobs, stages, timed, 4)["q"]
    assert (out["jobs"], out["stages"]) == (3, 3)
    assert out["job_wall_s"] == pytest.approx(0.9)
    assert out["stage_wall_s"] == pytest.approx(0.9)
    assert out["executor_run_s"] == pytest.approx(1.2)
    assert out["gc_s"] == pytest.approx(0.03)
    # count + full took 1.1 s, their jobs 0.7 s
    assert out["driver_gap_s"] == pytest.approx(0.4)
    # stage 2 ran one task (stage 0 did too, but in a warm run)
    assert out["single_task_stage_s"] == pytest.approx(0.3)
    # on one core a single task leaves no core idle
    assert bench.stage_summary(jobs, stages, timed, 1)["q"]["single_task_stage_s"] == 0.0


def test_time_query_records_python_worker_cpu_of_the_timed_run():
    """``py_worker_cpu_s`` is the workers' CPU across the timed run
    only, not the warm runs before it; it is a record key."""
    cpu = iter([10.0, 10.75])

    def run_query(pass_id, name, traced, phases):
        assert phases == bench.PHASES
        return _run(1.0, 1.0)  # no warm run improves on the last by 1.4x

    run = SimpleNamespace(run_query=run_query,
                          watch=SimpleNamespace(worker_cpu_s=lambda: next(cpu)))
    rec = bench.time_query(run, "q")
    assert rec["py_worker_cpu_s"] == pytest.approx(0.75)
    assert rec["warm_runs"] == 2
    assert "py_worker_cpu_s" in bench.RECORD_KEYS
