"""Closed-loop benchmark of the engine's registry keys.

Usage (from the repo root)::

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 30 --trace 0

One run starts one JVM on ``local[N]`` (N = usable cores), builds the
session with ``get_spark()``, loads the registry, runs one cold pass of
the workload (set-up), then runs passes for ``--seconds``. Every pass
starts on a fresh ``spark.newSession()``, runs each key once in a
seed-permuted order, and times three phases per key: construction
(``fn(spark, sf_dir)``), planning (``executedPlan()``) and execute+fetch
(``toPandas()``). Every fetched frame is compared with the key's DuckDB
oracle, outside the timed region.

After the cold pass, a few untimed warm-up passes let the JIT compile
the hot paths before measuring (``workloads.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
other measured pass and prints the per-layer metrics (README.md). The
last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import PACKAGE_GROUPS, WORKLOADS, Workload, package_group  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "cpu_s": "s",
    "retained_mb": "MB",
}

_PKG_METRICS = {
    "construct_s": "s",
    "construct_jobs": "count",
    "plan_s": "s",
    "fetch_s": "s",
    "fetch_jobs": "count",
    "exchanges": "count",
}
_EXEC_METRICS = {
    "tasks": "count",
    "stages": "count",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "gc_s": "s",
    "scheduler_delay_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "python_rows": "count",
}
_STREAM_METRICS = {
    "stage_events_s": "s",
    "batches": "count",
    "trigger_s": "s",
    "add_batch_s": "s",
    "planning_s": "s",
    "wal_commit_s": "s",
    "offsets_s": "s",
    "state_rows": "count",
    "state_mem_mb": "MB",
    "replay_overhead_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.queries_s": "s",
    "catalog.load_table_cold_s": "s",
    **{f"{g}.{m}": u for g in PACKAGE_GROUPS for m, u in _PKG_METRICS.items()},
    **{f"exec.{m}": u for m, u in _EXEC_METRICS.items()},
    **{f"streaming.{m}": u for m, u in _STREAM_METRICS.items()},
    "storage.used_mb": "MB",
    "jvm.heap_after_gc_mb": "MB",
    "trace.traced_pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
}

#: ``retained_mb`` is read after this many measured passes, so it does
#: not depend on how many passes fit into ``--seconds``.
RETAINED_AFTER_PASS = 2
_MB = float(1 << 20)
_GROUP_PREFIX = "perfbench|"


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """State of one benchmark run: the JVM session, the workload, the
    expected frames and everything measured so far."""

    def __init__(self, wl: Workload, seed: int, trace: bool, work: str) -> None:
        self.wl, self.seed, self.trace, self.work = wl, seed, trace, work
        self.sf_dir = os.path.join(HERE, "data", wl.scale)
        self.tracer = tr.Tracer()
        self.progress: list[dict] = []
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}

    # -- launch ------------------------------------------------------------
    def start(self) -> None:
        self.cores = host.core_count()
        self.event_dir = os.path.join(self.work, "eventlog") if self.trace else None
        if self.event_dir:
            os.makedirs(self.event_dir)
        os.environ.update(host.launch_env(ROOT, self.work, self.cores, self.event_dir))
        tempfile.tempdir = None  # re-read TMPDIR before the package's mkdtemp calls

        from analyse_the_sky_with_apache_spark_spark import catalog, registry
        from analyse_the_sky_with_apache_spark_spark.session import get_spark

        self.catalog = catalog
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.queries = registry.queries()
        t2 = time.perf_counter()
        self.setup = {"session.get_spark_s": t1 - t0, "registry.queries_s": t2 - t1}
        if self.trace:
            s0 = self.tracer.now() - (t2 - t0)
            self.tracer.add("session.get_spark", "setup", s0, s0 + (t1 - t0))
            self.tracer.add("registry.queries", "setup", s0 + (t1 - t0), s0 + (t2 - t0))

        self._quiet()
        from analyse_the_sky_with_apache_spark_spark.plans.checks import exchange_count
        from analyse_the_sky_with_apache_spark_spark.streaming import queries as stream_queries
        from analyse_the_sky_with_apache_spark_spark.streaming import replay
        from tools.canon import compare_canonical

        self.exchange_count, self.compare = exchange_count, compare_canonical
        # per-run replay staging, so every run pays staging in its cold pass
        replay._STAGE_ROOT = os.path.join(self.work, "stream_stage")
        if self.trace:
            stream_queries.stage_events = self.tracer.wrap(
                "streaming.stage_events", stream_queries.stage_events
            )
        self.groups = {k: package_group(self.queries[k].__module__) for k in self.wl.keys}
        t3 = time.perf_counter()
        self.expected = self._expected_frames(registry.oracle_sql())
        self.setup["oracle_s"] = time.perf_counter() - t3

    def _quiet(self) -> None:
        """Mute WindowExec's single-partition warning, as bench.py does."""
        jvm = self.spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )

    def _expected_frames(self, oracles: dict[str, str]) -> dict:
        """Each key's oracle result from DuckDB, computed once, untimed."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.catalog.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet").replace("'", "''")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            return {k: con.execute(oracles[k]).df() for k in self.wl.keys}
        finally:
            con.close()

    # -- passes ------------------------------------------------------------
    @contextmanager
    def _phase(self, session, index: int, key: str, name: str):
        sc = session.sparkContext
        sc.setJobGroup(f"{_GROUP_PREFIX}{index}|{key}|{name}", name)
        try:
            with self.tracer.span(name, phase=name, pass_index=index, key=key):
                yield
        finally:
            sc._jsc.clearJobGroup()

    def run_pass(self, index: int, traced: bool = False, warmup: bool = False,
                 read_memory: bool = False) -> dict:
        session = self.spark.newSession()
        order = list(self.wl.keys)
        random.Random(self.seed * 1_000_003 + index).shuffle(order)
        listener = None
        rec: dict = {"index": index, "traced": traced, "warmup": warmup, "keys": []}
        host0 = host.host_sample()
        pass_span = (
            self.tracer.span("pass", f"{self.wl.name}/{index}", pass_index=index)
            if traced else nullcontext()
        )
        with pass_span:
            if traced:
                listener = tr.progress_listener(self.progress)
                session.streams.addListener(listener)
                with self.tracer.span("catalog.load_table_cold") as sp:
                    self.catalog.load_all(self.spark.newSession(), self.sf_dir)
                rec["catalog.load_table_cold_s"] = sp.duration
            for key in order:
                rec["keys"].append(self._run_key(session, index, key, traced))
        rec["host"] = host.host_diagnostics(host0, host.host_sample())
        if listener is not None:
            session.streams.removeListener(listener)
        keys = rec["keys"]
        rec["wall_s"] = sum(k["wall_s"] for k in keys)
        rec["cpu_s"] = sum(k["cpu_s"] for k in keys)
        ok = [k["wall_s"] for k in keys if "error" not in k]
        rec["geomean_s"] = math.exp(statistics.fmean(math.log(w) for w in ok)) if ok else float("nan")
        if traced or read_memory:
            rec["heap_mb"], rec["storage_mb"] = self._memory_after_gc()
        return rec

    def _run_key(self, session, index: int, key: str, traced: bool) -> dict:
        fn = self.queries[key]
        out: dict = {"key": key}
        phase = (lambda name: self._phase(session, index, key, name)) if traced else (lambda name: nullcontext())
        span = (
            self.tracer.span("key", f"{self.wl.name}/{index}/{key}", key=key)
            if traced else nullcontext()
        )
        cpu0 = host.tree_cpu_s()
        t = [time.perf_counter()]
        try:
            with span:
                with phase("construct"):
                    df = fn(session, self.sf_dir)
                t.append(time.perf_counter())
                with phase("plan"):
                    df._jdf.queryExecution().executedPlan()
                t.append(time.perf_counter())
                with phase("fetch"):
                    pdf = df.toPandas()
                t.append(time.perf_counter())
        except Exception as e:  # noqa: BLE001 — a failing key is counted, never retried
            t.append(time.perf_counter())
            out["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]
        out["cpu_s"] = host.tree_cpu_s() - cpu0
        out["wall_s"] = t[-1] - t[0]
        if "error" in out:
            return out
        out.update(construct_s=t[1] - t[0], plan_s=t[2] - t[1], fetch_s=t[3] - t[2])
        try:
            self.compare(pdf, self.expected[key])
        except Exception as e:  # noqa: BLE001 — mismatch or uncomparable frame
            out["error"] = f"oracle mismatch: {type(e).__name__}: {e}"[:300]
        if traced:
            out["exchanges"] = self.exchange_count(df)
        return out

    def _memory_after_gc(self, min_rounds: int = 4, max_rounds: int = 8) -> tuple[float, float]:
        """(JVM heap in use, block-manager storage in use) in MB after full
        GCs. One GC is not enough: Python must first release the handles
        that pin JVM objects, and the ContextCleaner drops the blocks of
        collected broadcasts and RDDs only after a GC. So GC repeats until
        the heap stops shrinking for two rounds."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        readings: list[float] = []
        while len(readings) < max_rounds:
            gc.collect()
            jvm.java.lang.System.gc()
            time.sleep(0.2)
            readings.append((rt.totalMemory() - rt.freeMemory()) / _MB)
            if len(readings) >= min_rounds and max(readings[-3:]) - min(readings[-3:]) < 0.5:
                break
        heap = readings[-1]
        used = 0
        it = self.spark.sparkContext._jsc.sc().getExecutorMemoryStatus().iterator()
        while it.hasNext():
            max_rem = it.next()._2()
            used += max_rem._1() - max_rem._2()
        return heap, used / _MB

    # -- measurement -------------------------------------------------------
    def measure(self, seconds: float) -> None:
        self.host0 = host.host_sample()
        cold = self.run_pass(0)
        self.setup["setup_s"] = self.setup["session.get_spark_s"] + self.setup["registry.queries_s"] + cold["wall_s"]
        self.passes.append(cold)
        # fixed pass counts: a count decided by the clock would flip
        # between runs, and with it the median's place on the warm-up curve
        warmup, n = self.wl.passes(seconds)
        n = max(n, 3 if self.trace else RETAINED_AFTER_PASS)
        for index in range(1, warmup + 1):
            self.passes.append(self.run_pass(index, warmup=True))
        for m in range(1, n + 1):
            # start every measured pass on a collected heap, so a pass pays
            # for its own garbage and not for the debt of the one before
            gc.collect()
            self.spark.sparkContext._jvm.java.lang.System.gc()
            # traced runs alternate traced and untraced passes, so the
            # tracing overhead is measured inside one JVM
            self.passes.append(self.run_pass(
                warmup + m, traced=self.trace and m % 2 == 1,
                read_memory=m == RETAINED_AFTER_PASS and not self.trace,
            ))
        self.host1 = host.host_sample()

    def stop(self) -> None:
        host.stop_spark(self.spark)

    # -- results -----------------------------------------------------------
    def counts(self) -> tuple[int, int]:
        keys = [k for p in self.passes for k in p["keys"]]
        return len(keys), sum("error" in k for k in keys)

    def measured(self) -> list[dict]:
        return [p for p in self.passes[1:] if not p["warmup"]]

    def end_to_end(self) -> dict[str, float]:
        measured = self.measured()
        return {
            "setup_s": self.setup["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in measured),
            "query_geomean_s": statistics.median(p["geomean_s"] for p in measured),
            "cpu_s": statistics.median(p["cpu_s"] for p in measured),
            "retained_mb": measured[RETAINED_AFTER_PASS - 1]["heap_mb"],
        }

    def per_layer(self) -> dict[str, float]:
        log = self._read_event_log()
        phases = [s for s in self.tracer.spans if s.name in ("construct", "plan", "fetch")]
        constructs = [s for s in phases if s.name == "construct"]
        by_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

        def construct_at(t: float):
            return next((s for s in constructs if s.start <= t <= s.end), None)

        spans_by_group = {
            f"{_GROUP_PREFIX}{s.attrs['pass_index']}|{s.attrs['key']}|{s.name}": s for s in phases
        }
        stage_job = log.stage_job()
        job_span: dict[int, tr.Span] = {}
        for job in log.jobs.values():
            parent = spans_by_group.get(job.group or "") or construct_at(job.submit_s)
            if parent is None:
                continue  # set-up or untraced pass
            job_span[job.id] = self.tracer.add(
                "spark.job", parent.trace_id, job.submit_s, job.end_s, parent.id, job_id=job.id
            )
            a = parent.attrs
            phase_jobs = {"construct": "construct_jobs", "fetch": "fetch_jobs"}.get(a["phase"])
            if phase_jobs:
                by_pass[a["pass_index"]][f"{self.groups[a['key']]}.{phase_jobs}"] += 1
        for stage in log.stages.values():
            jid = stage_job.get(stage.id)
            if jid not in job_span:
                continue
            js = job_span[jid]
            self.tracer.add("spark.stage", js.trace_id, stage.submit_s, stage.end_s, js.id, stage_id=stage.id)
            m = by_pass[self.tracer.spans[js.parent].attrs["pass_index"]]
            m["exec.stages"] += 1
            for name in ("tasks", "executor_cpu_s", "executor_run_s", "gc_s", "scheduler_delay_s",
                         "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                m[f"exec.{name}"] += getattr(stage, name)
            m["exec.python_rows"] += log.python_rows(stage)

        last_state: dict[tuple[int, str], dict] = {}
        for p in self.progress:
            cs = construct_at(p["start"])
            if cs is None:
                continue
            trig = p["dur_ms"].get("triggerExecution", 0) / 1e3
            self.tracer.add("streaming.batch", cs.trace_id, p["start"], p["start"] + trig, cs.id,
                            batch=p["batch"], run_id=p["run_id"])
            m = by_pass[cs.attrs["pass_index"]]
            d = p["dur_ms"]
            m["streaming.batches"] += 1
            m["streaming.trigger_s"] += trig
            m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            m["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            m["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            m["streaming.offsets_s"] += (d.get("latestOffset", 0) + d.get("commitOffsets", 0)) / 1e3
            prev = last_state.get((cs.attrs["pass_index"], p["run_id"]))
            if prev is None or p["batch"] >= prev["batch"]:
                last_state[(cs.attrs["pass_index"], p["run_id"])] = p
        for (index, _), p in last_state.items():
            by_pass[index]["streaming.state_rows"] += p["state_rows"]
            by_pass[index]["streaming.state_mem_mb"] += p["state_bytes"] / _MB

        for s in self.tracer.spans:
            if s.name == "streaming.stage_events":
                by_pass[self.tracer.spans[s.parent].attrs["pass_index"]]["streaming.stage_events_s"] += s.duration

        traced = [p for p in self.measured() if p["traced"]]
        untraced = [p for p in self.measured() if not p["traced"]]
        for p in traced:
            m = by_pass[p["index"]]
            for k in p["keys"]:
                g = self.groups[k["key"]]
                for name in ("construct_s", "plan_s", "fetch_s", "exchanges"):
                    m[f"{g}.{name}"] += k.get(name, 0.0)
            m["streaming.replay_overhead_s"] = m["streaming.construct_s"] - m["streaming.trigger_s"]
            m["catalog.load_table_cold_s"] = p["catalog.load_table_cold_s"]
            m["jvm.heap_after_gc_mb"] = p["heap_mb"]
            m["storage.used_mb"] = p["storage_mb"]

        out = {name: statistics.median(by_pass[p["index"]].get(name, 0.0) for p in traced) for name in PER_LAYER}
        out["session.get_spark_s"] = self.setup["session.get_spark_s"]
        out["registry.queries_s"] = self.setup["registry.queries_s"]
        out["trace.traced_pass_s"] = statistics.median(p["wall_s"] for p in traced)
        out["trace.untraced_pass_s"] = statistics.median(p["wall_s"] for p in untraced)
        out["trace.overhead_s"] = out["trace.traced_pass_s"] - out["trace.untraced_pass_s"]
        return out

    def _read_event_log(self) -> tr.EventLog:
        (name,) = os.listdir(self.event_dir)
        with open(os.path.join(self.event_dir, name)) as f:
            return tr.parse_event_log(f)


def _metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    missing = host.missing_sources(ROOT)
    wl = WORKLOADS[args.workload]
    data = os.path.join(HERE, "data", wl.scale)
    if missing or not os.path.isdir(data):
        print(f"perfbench: cannot run, missing {missing or [data]}", file=sys.stderr)
        return 2
    out_dir = os.path.join(HERE, ".work", "results")
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    run = Run(wl, args.seed, bool(args.trace), work)
    try:
        run.start()
        try:
            run.measure(args.seconds)
        finally:
            run.stop()
        if args.trace:
            metrics = _metric_block(run.per_layer(), PER_LAYER)
            run.tracer.write(os.path.join(out_dir, f"{wl.name}-seed{args.seed}.spans.jsonl"))
        else:
            metrics = _metric_block(run.end_to_end(), END_TO_END)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = run.counts()
    diag = host.host_diagnostics(run.host0, run.host1)
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "cores": run.cores,
        "scale": wl.scale, "host": diag, "setup": run.setup, "metrics": metrics, "passes": run.passes,
    }
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload={wl.name} scale={wl.scale} cores=local[{run.cores}] seed={args.seed} "
          f"passes=1 cold+{len(run.passes) - 1 - len(run.measured())} warm-up+{len(run.measured())}")
    for k, v in metrics.items():
        print(f"  {k:34s} {v['value']:14.4f} {v['unit']}")
    print(f"  {'failed_frac':34s} {failed / attempted:14.4f} ratio ({failed}/{attempted})")
    for p in run.passes:
        for k in p["keys"]:
            if "error" in k:
                print(f"  FAILED pass {p['index']} {k['key']}: {k['error']}")
    print("  host: " + " ".join(f"{k}={v:.4f}" for k, v in diag.items()))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
