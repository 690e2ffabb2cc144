#!/usr/bin/env python3
"""Benchmark what a caller of ``queries()[name]`` pays, by layer.

One run of one workload:

1. **Set-up**: a fresh SparkSession from ``session.get_spark`` on
   ``local[nproc]`` (JVM launch included), one pre-touch job, and the
   seeded input tables written with pyarrow. Input generation is
   repeated three times and its median taken.
2. **Cold pass**: every query once, in seeded order, its output
   collected. The outputs are then checked (untimed): hashed and
   compared with ``golden.json``, and their row counts with ``count()``.
3. **Warm passes**: one unmeasured pass to finish warming the JIT up,
   then measured passes until ``--seconds`` have elapsed (at least
   three). Pass ``k`` runs the seeded query order rotated by ``k``.

Each query runs as a closed loop with one client, timed from outside in
phases: *build* (``queries()[name](spark, dir)``), *plan* (force
``queryExecution().executedPlan()``), then on the same DataFrame *full*
(``write.format("noop")``) and *count* (``count()``); the cold pass has
*collect* in place of *full*. Before each query an *engine probe*, a
fixed Spark job that runs no program code, is timed in the same JVM.

The bounded end-to-end pass metrics are in multiples of that probe
(``probe``): each query's phase time is divided by the probe taken just
before it, the median is taken per query over the measured passes, and
the medians are summed. On a shared 4-core host the seconds of whole
runs move together by a quarter or more (host load and the JIT
compiler threads, which in this program keep compiling newly generated
classes, take cores from the queries); the probe slows down with them.
The same sums in seconds are kept in the run record.

With ``--trace 1`` the session also writes a Spark event log, every
other measured pass records spans and ``/proc`` readings, and the per-layer
metrics are printed instead of the end-to-end ones. A record of the run
is written to ``perfbench/out/records/<run id>.json`` either way.

Usage::

    python3 perfbench/run.py --workload tpch_10x --seed 3 --seconds 10 --trace 0
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from statistics import median

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
MIN_WARM_PASSES = 3
ENGINE_PROBE_ROWS = 2_000_000
GENERATE_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "full_pass_probes": "probe",
    "count_pass_probes": "probe",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.pretouch_s": "s",
    "sources.generate_s": "s",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "driver.build_s": "s",
    "driver.py4j_calls": "count",
    "driver.build_self_s": "s",
    "driver.build_jobs": "count",
    "driver.build_job_share": "ratio",
    "plan.plan_s": "s",
    "plan.exchanges": "count",
    "plan.broadcasts": "count",
    "plan.python_nodes": "count",
    "exec.full_s": "s",
    "exec.count_s": "s",
    "exec.count_skip_share": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.skipped_stage_share": "ratio",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.jvm_cpu_s": "s",
    "exec.gc_share": "ratio",
    "exec.scheduler_delay_s": "s",
    "exec.fetch_wait_share": "ratio",
    "exec.driver_gap_s": "s",
    "exec.core_idle_share": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "python.worker_cpu_share": "ratio",
    "python.worker_peak_rss_mb": "MB",
    "session.jvm_peak_rss_mb": "MB",
    "host.probe_ms": "ms",
    "host.engine_probe_ms": "ms",
    "jvm.jit_cpu_s": "s",
    "jvm.gc_cpu_s": "s",
    "trace.overhead_share": "ratio",
}
# operators/* modules whose share of the pass is reported per layer
OPERATOR_MODULES = ("dedup", "multimodal", "stat_tests", "weighted_bins")
PER_LAYER.update({f"operators.{m}.share": "ratio" for m in OPERATOR_MODULES})


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def probe_ms() -> float:
    """CPU time of a fixed pure-Python loop: a host weather reading."""
    t0 = time.thread_time()
    acc = 0
    for i in range(300_000):
        acc += i * i
    return (time.thread_time() - t0) * 1000


def source_digest() -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, "dataframeutils_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def prepare_environment(work: str, cpus: int) -> None:
    """Keep every file the run writes inside ``work`` and make the
    checkout importable by the Python workers."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env.setdefault("SPARK_DRIVER_MEMORY", "4g")
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}") if p
    )


def import_program():
    """Import the engine from this checkout, never from elsewhere."""
    pkg = os.path.join(ROOT, "dataframeutils_spark")
    entry = os.path.join(ROOT, "__spark_entry__.py")
    if not (os.path.isdir(pkg) and os.path.isfile(entry)):
        raise SystemExit(f"perfbench: no program to measure under {ROOT}")
    sys.path.insert(0, ROOT)
    import __spark_entry__
    import dataframeutils_spark

    if os.path.dirname(os.path.abspath(dataframeutils_spark.__file__)) != pkg:
        raise SystemExit("perfbench: dataframeutils_spark was not imported from this checkout")
    return __spark_entry__


class Run:
    """One benchmark run: the session, its instruments and the passes."""

    def __init__(self, args: argparse.Namespace, workload, entry, work: str, cpus: int):
        from perfbench.trace import Tracer

        self.args = args
        self.wl = workload
        self.entry = entry
        self.work = work
        self.cpus = cpus
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.traced)
        self.order = list(workload.queries)
        random.Random(args.seed).shuffle(self.order)
        self.setup: dict = {}
        self.passes: list[dict] = []
        self.checks: dict = {}
        self.collected: dict = {}
        self.spark = None
        self.jvm = None
        self.watch = None

    # ------------------------------------------------------------ set-up

    def start(self) -> None:
        from dataframeutils_spark.session import get_spark
        from perfbench import inputs
        from perfbench.trace import ProcWatch, Py4jCounter

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + self.event_dir})
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=conf)
        start_s = time.perf_counter() - t0
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc
        self.watch = ProcWatch(self.jvm.pid)
        self.sc = self.spark.sparkContext
        self.sc.setJobGroup("bench:setup", "bench:setup")
        t0 = time.perf_counter()
        self.spark.range(0, 100_000, numPartitions=self.cpus).selectExpr("sum(id)").collect()
        pretouch_s = time.perf_counter() - t0

        gen = []
        for i in range(GENERATE_REPEATS):
            out_dir = os.path.join(self.work, f"inputs{i}")
            t0 = time.perf_counter()
            tables = inputs.build_tables(self.wl.tables, self.wl.sf, self.args.seed,
                                         self.wl.replica)
            inputs.write_tables(tables, out_dir, row_groups=2 * self.cpus)
            gen.append(time.perf_counter() - t0)
            del tables
            if i:
                shutil.rmtree(os.path.join(self.work, f"inputs{i - 1}"))
        self.sf_dir = out_dir
        self.setup = {
            "start_s": start_s,
            "pretouch_s": pretouch_s,
            "generate_s": gen,
            "setup_s": start_s + pretouch_s + median(gen),
        }
        self.py4j = Py4jCounter(self.spark)
        self.queries = self.entry.queries()

    # ------------------------------------------------------------ passes

    def _group(self, label: str) -> None:
        self.sc.setJobGroup(label, label)

    def engine_probe_ms(self) -> float:
        """Wall time of a fixed Spark job that runs no program code.

        It runs on every core of the same JVM as the queries, so it slows
        down with them when the host is busy or the JVM's JIT compiler
        threads take cores; the end-to-end times are reported in
        multiples of it.
        """
        self._group("bench:probe")
        t0 = time.perf_counter()
        (self.spark.range(0, ENGINE_PROBE_ROWS, numPartitions=self.cpus)
         .selectExpr("sum(hash(id))").collect())
        return (time.perf_counter() - t0) * 1000

    def run_query(self, pass_id: str, name: str, traced: bool, phases: tuple[str, ...]) -> dict:
        rec: dict = {"query": name, "engine_probe_ms": self.engine_probe_ms()}
        g = f"bench:{self.wl.name}:{pass_id}:{name}"
        tracer = self.tracer if traced else None
        try:
            with _span(tracer, "query", query=name):
                self._group(g + ":build")
                calls0 = self.py4j.calls
                with _span(tracer, "build") as s:
                    t0 = time.perf_counter()
                    df = self.queries[name](self.spark, self.sf_dir)
                    rec["build_s"] = time.perf_counter() - t0
                rec["py4j_calls"] = self.py4j.calls - calls0
                _stamp(rec, "build", s)

                self._group(g + ":plan")
                with _span(tracer, "plan") as s:
                    t0 = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    rec["plan_s"] = time.perf_counter() - t0
                _stamp(rec, "plan", s)

                for phase in phases:
                    self._group(f"{g}:{phase}")
                    cpu0 = self.watch.jvm_cpu_s() if traced else 0.0
                    with _span(tracer, phase) as s:
                        t0 = time.perf_counter()
                        if phase == "full":
                            df.write.format("noop").mode("overwrite").save()
                        elif phase == "collect":
                            self.collected[name] = (df, df.toPandas())
                        else:
                            rec["rows"] = df.count()
                        rec[f"{phase}_s"] = time.perf_counter() - t0
                    if traced:
                        rec[f"{phase}_jvm_cpu_s"] = self.watch.jvm_cpu_s() - cpu0
                    _stamp(rec, phase, s)
            tracker = self.sc.statusTracker()
            rec["build_jobs"] = len(tracker.getJobIdsForGroup(g + ":build"))
        except Exception as exc:  # a failing query is counted, the run goes on
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:500]}"
        return rec

    def run_pass(self, pass_id: str, traced: bool, phases=("full", "count")) -> dict:
        from perfbench.trace import thread_cpu_by_kind

        # pass k runs the seeded order rotated by k, so every query
        # takes every position once in len(queries) passes
        k = len(self.passes) % len(self.order)
        order = self.order[k:] + self.order[:k]
        rec = {"pass": pass_id, "traced": traced, "probe_ms": probe_ms(), "order": order}
        tracer = self.tracer if traced else None
        if traced:
            cpu0, threads0 = self.watch.worker_cpu_s(), self.watch.jvm_threads()
        t0 = time.perf_counter()
        with _span(tracer, "pass", pass_id=pass_id):
            rec["queries"] = [self.run_query(pass_id, q, traced, phases) for q in order]
        rec["wall_s"] = time.perf_counter() - t0
        if traced:
            rec["worker_cpu_s"] = self.watch.worker_cpu_s() - cpu0
            rec["jvm_thread_cpu_s"] = thread_cpu_by_kind(threads0, self.watch.jvm_threads())
        self.passes.append(rec)
        return rec

    def run_passes(self, golden: dict) -> None:
        with _span(self.tracer, "run", workload=self.wl.name):
            # the cold pass collects each output for the check; collect
            # runs before count() so that it is what meets the cold JVM
            cold = self.run_pass("cold", traced=False, phases=("collect", "count"))
            self.checks = self.check(cold, golden)
            # one more pass finishes warming the JIT up; it is not measured
            self.run_pass("warmup", traced=False)
            t0 = time.perf_counter()
            i = 0
            # traced runs trace measured passes in U T T U order, which
            # cancels a linear warm-up drift, so the tracing overhead is
            # measured within one session
            min_passes = 4 if self.traced else MIN_WARM_PASSES
            while i < min_passes or time.perf_counter() - t0 < self.args.seconds:
                self.run_pass(f"w{i}", traced=self.traced and i % 4 in (1, 2))
                i += 1

    # ------------------------------------------------------------- check

    def check(self, cold: dict, golden: dict) -> dict:
        """Check each output the cold pass collected against the golden
        record and against its ``count()``.

        Traced runs also record plan node counts, whether ``count()``
        prunes declared work, and which ``operators`` modules the
        builder calls (from one more, profiled, build).
        """
        from perfbench.check import check_output
        from perfbench.trace import heavy_nodes, plan_counts

        rows = {q["query"]: q.get("rows") for q in cold["queries"]}
        out = {}
        for name in self.wl.queries:
            res: dict = {}
            if name not in self.collected or rows[name] is None:
                out[name] = {"failure": "query raised in the cold pass"}
                continue
            df, pdf = self.collected.pop(name)
            failure, res["hash"] = check_output(pdf, rows[name], golden.get(name))
            res["rows"] = len(pdf)
            if self.traced:
                self._group(f"bench:{self.wl.name}:check:{name}:check")
                try:
                    qe = df._jdf.queryExecution()
                    res["plan"] = plan_counts(qe.executedPlan().toString())
                    full_plan = qe.optimizedPlan().toString()
                    count_plan = (df.groupBy().count()._jdf.queryExecution()
                                  .optimizedPlan().toString())
                    res["count_plan"] = {
                        "heavy_nodes": [heavy_nodes(full_plan), heavy_nodes(count_plan)],
                        "chars": [len(full_plan), len(count_plan)],
                    }
                    res["operators"] = self._build_profiled(name)
                except Exception as exc:
                    failure = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            if failure:
                res["failure"] = failure
            out[name] = res
        return out

    def _build_profiled(self, name: str) -> list[str]:
        """The ``operators`` modules that building ``name`` calls."""
        prefix = "dataframeutils_spark.operators."
        seen: set[str] = set()

        def prof(frame, event, arg):
            if event == "call":
                mod = frame.f_globals.get("__name__", "")
                if mod.startswith(prefix):
                    seen.add(mod[len(prefix):])

        sys.setprofile(prof)
        try:
            self.queries[name](self.spark, self.sf_dir)
        finally:
            sys.setprofile(None)
        return sorted(seen)

    # -------------------------------------------------------------- stop

    def stop(self) -> tuple[float, float]:
        """Stop Spark and the JVM, wait for every process to end, and
        return ``(jvm_peak_mb, worker_peak_mb)``."""
        from perfbench.trace import descendants

        peaks = (0.0, 0.0)
        children = []
        if self.watch is not None:
            children = descendants(self.jvm.pid)
            peaks = self.watch.close()
        if self.spark is not None:
            self.spark.stop()
        if self.jvm is not None:
            from pyspark import SparkContext

            SparkContext._gateway.shutdown()
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while children and time.time() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in children:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        return peaks


def _span(tracer, name, **attrs):
    from contextlib import nullcontext

    return tracer.span(name, **attrs) if tracer is not None else nullcontext()


def _stamp(rec: dict, phase: str, span) -> None:
    if span is not None:
        rec[f"{phase}_t"] = (span.start, span.end)


# ---------------------------------------------------------------- metrics


def _pass_sums(p: dict) -> dict:
    ok = [q for q in p["queries"] if "error" not in q]
    return {
        "full": sum(q["build_s"] + q["plan_s"] + q.get("full_s", q.get("collect_s", 0.0))
                    for q in ok),
        "count": sum(q["build_s"] + q.get("count_s", 0.0) for q in ok),
    }


def _full(q: dict) -> float:
    return q["build_s"] + q["plan_s"] + q["full_s"]


def _count(q: dict) -> float:
    return q["build_s"] + q["count_s"]


def per_query_sum(passes: list[dict], phase_time, in_probes: bool) -> float:
    """Sum over queries of each query's median ``phase_time`` across
    ``passes``; with ``in_probes`` each sample is first divided by the
    engine probe taken just before that query."""
    samples: dict[str, list[float]] = {}
    for p in passes:
        for q in p["queries"]:
            if "error" not in q:
                scale = 1000 / q["engine_probe_ms"] if in_probes else 1.0
                samples.setdefault(q["query"], []).append(phase_time(q) * scale)
    return sum(median(v) for v in samples.values())


def end_to_end(run: Run, peaks: tuple[float, float]) -> tuple[dict, dict]:
    from perfbench.stats import tail

    cold = run.passes[0]
    untraced = [p for p in run.passes[2:] if not p["traced"]]
    pooled = [_full(q) for p in untraced for q in p["queries"] if "error" not in q]
    t = tail(pooled)
    # Pass times in multiples of the engine probe: on a shared host the
    # seconds of whole runs move together by a quarter or more, and the
    # probe, run in the same JVM just before each query, moves with them.
    values = {
        "setup_s": run.setup["setup_s"],
        "full_pass_probes": per_query_sum(untraced, _full, in_probes=True),
        "count_pass_probes": per_query_sum(untraced, _count, in_probes=True),
    }
    # Recorded but not bounded: the same passes in seconds, the cold
    # pass, the pooled per-query latency and peak memory spread too much
    # between runs on a shared host for a regression bound. The tail
    # exists only where some percentile has ten samples beyond it.
    info = {
        "full_pass_s": per_query_sum(untraced, _full, in_probes=False),
        "count_pass_s": per_query_sum(untraced, _count, in_probes=False),
        "engine_probe_ms": median(q["engine_probe_ms"] for p in untraced
                                  for q in p["queries"]),
        "first_pass_s": _pass_sums(cold)["full"],
        "query_full_p50_s": median(pooled) if pooled else None,
        "query_full_samples": len(pooled),
        "query_full_tail": dict(zip(("value_s", "percentile", "samples"), t)) if t else None,
        "peak_rss_mb": peaks[0] + peaks[1],
        "measured_passes": len(untraced),
    }
    return values, info


def per_layer(run: Run, peaks, jobs: dict, stages: dict) -> dict:
    from perfbench.trace import union_length

    traced = [p for p in run.passes[1:] if p["traced"]]
    untraced = [p for p in run.passes[2:] if not p["traced"]]
    wl = run.wl.name

    by_phase: dict[tuple[str, str, str], list[int]] = {}
    for jid, j in jobs.items():
        parts = j["group"].split(":")
        if len(parts) == 5 and parts[0] == "bench" and parts[1] == wl:
            by_phase.setdefault(tuple(parts[2:]), []).append(jid)

    plan_tot = {k: sum(c.get("plan", {}).get(k, 0) for c in run.checks.values())
                for k in ("exchanges", "broadcasts", "python_nodes")}

    def one_pass(p: dict) -> dict:
        ok = [q for q in p["queries"] if "error" not in q]
        build = sum(q["build_s"] for q in ok)
        full = sum(q["full_s"] for q in ok)
        count = sum(q["count_s"] for q in ok)
        build_job_s, gap = 0.0, 0.0
        build_jobs = 0
        action_jobs = []
        for q in ok:
            key = (p["pass"], q["query"])
            bj = by_phase.get(key + ("build",), [])
            build_jobs += len(bj)
            build_job_s += union_length([(jobs[j]["t0"] / 1e3, jobs[j]["t1"] / 1e3) for j in bj])
            for phase in ("full", "count"):
                aj = by_phase.get(key + (phase,), [])
                action_jobs += aj
                lo, hi = q[f"{phase}_t"]
                covered = union_length([(max(lo, jobs[j]["t0"] / 1e3), min(hi, jobs[j]["t1"] / 1e3))
                                        for j in aj if jobs[j]["t1"] / 1e3 > lo])
                gap += max(0.0, (hi - lo) - covered)
        listed = [s for j in action_jobs for s in jobs[j]["stages"]]
        ran = [stages[s] for s in listed if s in stages and stages[s]["submitted"]]

        def tot(k):
            return sum(s[k] for s in ran)

        run_s = tot("run_ms") / 1e3
        pass_full = build + sum(q["plan_s"] for q in ok) + full
        vals = {
            "sources.input_mb": tot("input_b") / 2**20,
            "sources.input_rows": tot("input_rows"),
            "driver.build_s": build,
            "driver.py4j_calls": sum(q["py4j_calls"] for q in ok),
            "driver.build_self_s": build - build_job_s,
            "driver.build_jobs": build_jobs,
            "driver.build_job_share": build_job_s / build if build else 0.0,
            "plan.plan_s": sum(q["plan_s"] for q in ok),
            "exec.full_s": full,
            "exec.count_s": count,
            "exec.count_skip_share": 1 - count / full if full else 0.0,
            "exec.jobs": len(action_jobs),
            "exec.stages": len(ran),
            "exec.tasks": tot("tasks"),
            "exec.failed_tasks": tot("failed_tasks"),
            "exec.skipped_stage_share": 1 - len(ran) / len(listed) if listed else 0.0,
            "exec.executor_run_s": run_s,
            "exec.executor_cpu_s": tot("cpu_ns") / 1e9,
            "exec.jvm_cpu_s": sum(q["full_jvm_cpu_s"] + q["count_jvm_cpu_s"] for q in ok),
            "exec.gc_share": tot("gc_ms") / tot("run_ms") if run_s else 0.0,
            "exec.scheduler_delay_s": tot("sched_delay_ms") / 1e3,
            "exec.fetch_wait_share": tot("fetch_wait_ms") / tot("run_ms") if run_s else 0.0,
            "exec.driver_gap_s": gap,
            "exec.core_idle_share": 1 - run_s / (run.cpus * (full + count)),
            "exec.shuffle_write_mb": tot("shuffle_write_b") / 2**20,
            "exec.shuffle_read_mb": tot("shuffle_read_b") / 2**20,
            "exec.spill_mb": tot("spill_b") / 2**20,
            "jvm.jit_cpu_s": p["jvm_thread_cpu_s"]["jit"],
            "jvm.gc_cpu_s": p["jvm_thread_cpu_s"]["gc"],
            "python.worker_cpu_share": p["worker_cpu_s"] / p["wall_s"],
            "python.worker_cpu_s": p["worker_cpu_s"],
            "driver.build_job_s": build_job_s,
        }
        for mod in OPERATOR_MODULES:
            used = [q for q in ok if mod in run.checks[q["query"]].get("operators", [])]
            vals[f"operators.{mod}.share"] = (
                sum(q["build_s"] + q["plan_s"] + q["full_s"] for q in used) / pass_full
                if pass_full else 0.0
            )
        return vals

    rows = [one_pass(p) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    out.update({
        "session.start_s": run.setup["start_s"],
        "session.pretouch_s": run.setup["pretouch_s"],
        "sources.generate_s": median(run.setup["generate_s"]),
        "plan.exchanges": plan_tot["exchanges"],
        "plan.broadcasts": plan_tot["broadcasts"],
        "plan.python_nodes": plan_tot["python_nodes"],
        "python.worker_peak_rss_mb": peaks[1],
        "session.jvm_peak_rss_mb": peaks[0],
        "host.probe_ms": median([p["probe_ms"] for p in run.passes]),
        "host.engine_probe_ms": median([q["engine_probe_ms"] for p in run.passes[1:]
                                        for q in p["queries"]]),
        "trace.overhead_share": (
            median([_pass_sums(p)["full"] for p in traced])
            / median([_pass_sums(p)["full"] for p in untraced]) - 1
        ),
    })
    return out


# ------------------------------------------------------------------- main


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    run_id = (f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{wl.name}"
              f"-s{args.seed}-t{args.trace}-{os.getpid()}")
    work = os.path.join(OUT, "work", run_id)
    try:
        result = measure(args, wl, cpus, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def measure(args: argparse.Namespace, wl, cpus: int, run_id: str, work: str) -> dict:
    """Run the benchmark, write its record and return the result line."""
    prepare_environment(work, cpus)
    entry = import_program()
    from perfbench.check import load_golden

    golden = load_golden().get(wl.name, {})
    run = Run(args, wl, entry, work, cpus)
    timeline = {"imported": time.perf_counter() - T0}
    try:
        run.start()
        timeline["setup"] = time.perf_counter() - T0
        run.run_passes(golden)
        timeline["passes"] = time.perf_counter() - T0
    finally:
        peaks = run.stop()
    timeline["stopped"] = time.perf_counter() - T0

    checks = run.checks
    e2e, e2e_info = end_to_end(run, peaks)
    layers = {}
    if run.traced:
        from perfbench.trace import parse_event_log

        jobs, stages = parse_event_log(run.event_dir)
        layers = per_layer(run, peaks, jobs, stages)

    failures = []
    attempted = failed = 0
    for p in run.passes:
        for q in p["queries"]:
            attempted += 1
            bad = q.get("error") or checks.get(q["query"], {}).get("failure")
            if bad:
                failed += 1
                failures.append({"pass": p["pass"], "query": q["query"], "reason": bad})

    record = {
        "run_id": run_id,
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "commit": git_commit(),
        "source_sha256": source_digest(),
        "queries": list(wl.queries),
        "timeline_s": timeline,
        "setup": run.setup,
        "passes": run.passes,
        "check": checks,
        # count() skips declared work when its optimized plan loses a
        # join, window or Python stage, or half of the plan text; plans
        # are read in traced runs only
        "count_skips": sorted(
            q for q, c in checks.items() if "count_plan" in c and (
                c["count_plan"]["heavy_nodes"][1] < c["count_plan"]["heavy_nodes"][0]
                or 2 * c["count_plan"]["chars"][1] < c["count_plan"]["chars"][0])
        ) if run.traced else None,
        "operator_map": {q: c.get("operators") for q, c in checks.items()},
        "end_to_end": e2e,
        "end_to_end_info": e2e_info,
        "per_layer": layers,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "spans": run.tracer.to_records(),
    }
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    with open(os.path.join(OUT, "records", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    if run.traced:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
