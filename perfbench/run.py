"""csvplus_spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload csv_etl --seed 1 --seconds 10 --trace 0

Run it from the repository root. One client drives one Spark session at
``local[k]``, k = min(4, nproc), in a closed loop of sequential passes over
the workload's query set (``workloads.py``):

1. Generate the inputs from ``--seed`` (untimed).
2. Set up: ``get_spark()`` and one warm-up pass, each query forced by
   collecting its output (``setup_s``). The warm-up's outputs are then
   checked against DuckDB (untimed). A run sets up once: each further
   set-up costs another full warm-up pass, more than a run can spend.
3. Run passes for ``--seconds``, and at least the workload's
   ``min_passes`` (three when traced); each query is
   forced with the workload's terminal action (``noop`` sink or CSV
   write), then, untimed, the cached RDDs it left are counted and released.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics of the traced
ones (see ``trace.py``) plus ``trace_overhead_frac``; the spans go to a
file under ``perfbench/.results/``. ``spark.plan_s`` times a separate
planning of each query's final DataFrame (the terminal action plans its
own copy, inside ``spark.exec_s``); it is left out of the traced pass and
query times. The last stdout line is the result JSON; the line before it
records the inputs, the environment and the sample counts. A failed query or oracle mismatch makes ``correct`` false
and the exit code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

BUILD_LAYERS = ["sources", "frame", "index", "operators.dedup",
                "operators.graph", "operators.pipeline",
                "operators.similarity"]
JOB_LAYERS = ["sources", "index", "operators.dedup", "operators.graph",
              "operators.pipeline", "operators.similarity"]
SPARK_SUMS = {  # stage metric summed over stages -> unit
    "tasks": "count", "task_run_s": "s", "task_cpu_s": "s", "jvm_gc_s": "s",
    "input_bytes": "bytes", "output_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}


def per_layer_units(query_names) -> dict[str, str]:
    units = {"session.start_s": "s"}
    for layer in BUILD_LAYERS:
        units[f"{layer}.build_s"] = "s"
        if layer in JOB_LAYERS:
            units[f"{layer}.build_jobs"] = "count"
    units.update({"spark.plan_s": "s", "spark.exec_s": "s",
                  "spark.exec_jobs": "count", "spark.stages": "count"})
    units.update({f"spark.{k}": u for k, u in SPARK_SUMS.items()})
    units["spark.peak_exec_mem_bytes"] = "bytes"  # max over stages
    units.update({"spark.sched_gap_s": "s", "spark.build_job_frac": "ratio",
                  "pyworker.cpu_s": "s", "cache.leaked_rdds": "count",
                  "cache.leaked_bytes": "bytes", "trace_overhead_frac": "ratio"})
    for q in query_names:
        units[f"query.{q}.wall_s"] = "s"
        units[f"query.{q}.jobs"] = "count"
    return units


END_TO_END_UNITS = {
    "setup_s": "s", "pass_s_p50": "s", "pass_s_tail": "s",
    "rows_per_s": "rows/s", "lookup_s_p50": "s", "lookup_s_tail": "s",
    "peak_rss_mb": "MB",
}


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it (the
    11th-largest sample), or the max when there are 10 or fewer."""
    v = sorted(values)
    n = len(v)
    if n > 10:
        return v[n - 11], f"p{100.0 * (n - 10) / n:.1f} of {n}"
    return v[-1], f"max of {n}"


class Bench:
    """One workload run: inputs, session, passes, metrics."""

    def __init__(self, opts, workload, work: str):
        self.o = opts
        self.wl = workload
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []
        self.failed_queries: set[str] = set()
        self.peak_rss = 0.0
        self.epoch = time.time() - time.perf_counter()

    # -- session ---------------------------------------------------------------

    def start_session(self):
        from csvplus_spark import get_spark

        work = os.path.dirname(self.data)
        k = min(4, os.cpu_count() or 1)
        self.spark = get_spark(
            f"perfbench-{self.wl.name}", master=f"local[{k}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                    "-XX:-UsePerfData",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        from pyspark import SparkContext

        from perfbench import trace

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        # the PySpark daemon and anything else left must be gone too
        deadline = time.time() + 20
        while trace.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in trace.descendants(os.getpid()):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)

    # -- one query ---------------------------------------------------------------

    def span(self, name, layer):
        return self.tracer.span(name, layer) if self.tracer else \
            contextlib.nullcontext()

    def hygiene(self) -> tuple[int, int]:
        """Count, then release, every persisted RDD and cached Dataset;
        fold the processes' RSS high-water marks into ``peak_rss``."""
        from perfbench import trace

        jsc = self.sc._jsc
        rdds = jsc.getPersistentRDDs()
        n = rdds.size()
        nbytes = sum(i.memSize() + i.diskSize()
                     for i in jsc.sc().getRDDStorageInfo())
        for r in list(rdds.values()):
            r.unpersist(True)
        self.spark.catalog.clearCache()
        me = os.getpid()
        self.peak_rss = max(self.peak_rss,
                            trace.peak_rss_mb([me] + trace.descendants(me)))
        return n, nbytes

    def run_query(self, name, build, collect=False):
        """Build, force and release one query; return (wall_s, output,
        leaked). ``output`` is what the workload's check compares."""
        from pyspark.sql import DataFrame

        self.attempted += 1
        self.spark._jvm.System.gc()
        plan_s = 0.0
        t0 = time.perf_counter()
        try:
            with self.span(f"query.{name}", "query"):
                result = build(self.spark, self.data)
                if self.tracer is not None:
                    # a separate planning of the final DataFrame: the action
                    # below plans its own copy (that time lands in
                    # spark.exec_s), so this one is kept out of the query time
                    df = result if isinstance(result, DataFrame) else result.df
                    p0 = time.perf_counter()
                    with self.span("spark.plan", "spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                    plan_s = time.perf_counter() - p0
                with self.span("spark.exec", "spark.exec"):
                    output = self.wl.terminal(name, result, self.out, collect)
        except Exception as ex:  # a failed query is counted, not fatal
            self.failures.append(f"{name}: {type(ex).__name__}: {ex}"[:300])
            self.failed_queries.add(name)
            output = None
        wall = time.perf_counter() - t0 - plan_s
        return wall, output, self.hygiene()

    def run_lookups(self, keys):
        """The lookup burst as one query: build the indexes, then collect
        each lookup, timed one by one."""
        self.attempted += 1
        self.spark._jvm.System.gc()
        lat, rows = [], []
        t0 = time.perf_counter()
        try:
            with self.span("query.lookup", "query"):
                builds = self.wl.lookups(self.spark, self.data, keys)
                for build in builds:
                    s = time.perf_counter()
                    frame = build()
                    with self.span("spark.exec", "spark.exec"):
                        rows.append(frame.to_rows())
                    lat.append(time.perf_counter() - s)
        except Exception as ex:
            self.failures.append(f"lookup: {type(ex).__name__}: {ex}"[:300])
        wall = time.perf_counter() - t0
        return wall, lat, rows, self.hygiene()

    def run_pass(self, keys, collect=False):
        """One pass; returns (pass_s, lookup latencies, outputs, per-query
        records)."""
        outputs, records = {}, {}
        total = 0.0
        for name, build in self.wl.queries:
            first = len(self.tracer.spans) if self.tracer else 0
            cpu0 = self.pyworker_cpu()
            wall, outputs[name], leaked = self.run_query(name, build, collect)
            records[name] = self.record(first, wall, leaked, cpu0)
            total += wall
        first = len(self.tracer.spans) if self.tracer else 0
        cpu0 = self.pyworker_cpu()
        wall, lat, outputs["lookup"], leaked = self.run_lookups(keys)
        records["lookup"] = self.record(first, wall, leaked, cpu0)
        return total + wall, lat, outputs, records

    # -- traced-pass bookkeeping ----------------------------------------------------

    def pyworker_cpu(self):
        from perfbench import trace

        return trace.pyworker_cpu_s() if self.tracer else 0.0

    def record(self, first: int, wall: float, leaked, cpu0: float) -> dict:
        """Per-query layer record from the spans opened since ``first``."""
        rec = {"wall_s": wall, "leaked_rdds": leaked[0],
               "leaked_bytes": leaked[1]}
        if self.tracer is None:
            return rec
        from perfbench import trace

        stats = self.stats
        stats.drain()
        spans = self.tracer.spans[first:]
        selft = trace.self_times(spans)
        layer_s, layer_jobs = {}, {}
        build_jobs, exec_jobs = [], []
        plan_s = exec_s = gap = 0.0
        for s in spans:
            jobs = stats.jobs(s.group())
            if s.layer == "spark.exec" or s.in_exec:
                exec_jobs += jobs
                if s.layer == "spark.exec":
                    exec_s += s.end - s.start
                    # scheduling gap: exec wall time no stage of its jobs covers
                    mine = jobs + [j for x in spans if x.in_exec
                                   and s.start <= x.start and x.end <= s.end
                                   for j in stats.jobs(x.group())]
                    gap += trace.uncovered(
                        s.start + self.epoch, s.end + self.epoch,
                        [(st["start"], st["end"]) for st in stats.stages(mine)])
                continue
            build_jobs += jobs
            if s.layer == "spark.plan":
                plan_s += s.end - s.start
                continue
            layer_s[s.layer] = layer_s.get(s.layer, 0.0) + selft[s.sid]
            layer_jobs[s.layer] = layer_jobs.get(s.layer, 0) + len(jobs)
        stages = stats.stages(build_jobs + exec_jobs)
        rec.update({
            "layer_s": layer_s, "layer_jobs": layer_jobs,
            "plan_s": plan_s, "exec_s": exec_s,
            "jobs": len(build_jobs) + len(exec_jobs),
            "build_jobs": len(build_jobs), "exec_jobs": len(exec_jobs),
            "stages": len(stages), "sched_gap_s": gap,
            "pyworker_cpu_s": self.pyworker_cpu() - cpu0,
        })
        for k in SPARK_SUMS:
            rec[k] = sum(st[k] for st in stages)
        rec["peak_exec_mem_bytes"] = max(
            (st["peak_exec_mem_bytes"] for st in stages), default=0)
        return rec

    # -- the run ---------------------------------------------------------------------

    def check(self, keys, outputs) -> None:
        import duckdb

        from perfbench import workloads

        duck = duckdb.connect()
        try:
            duck.execute(f"SET temp_directory='{os.path.dirname(self.data)}/duck'")
            if self.wl.oracle_views is not None:
                self.wl.oracle_views(duck, self.data)
            for name, _ in self.wl.queries:
                if name in self.failed_queries:
                    continue  # already counted
                err = self.wl.check(name, outputs.get(name), self.data,
                                    self.out, duck)
                if err:
                    self.failures.append(f"{name}: oracle mismatch: {err}")
            err = workloads.check_lookups(keys, outputs["lookup"], duck)
            if err:
                self.failures.append(f"lookup: oracle mismatch: {err}")
        finally:
            duck.close()

    def run(self) -> tuple[dict, dict]:
        import numpy as np
        import pyspark

        import __spark_entry__
        import bench
        from perfbench import trace

        o = self.o
        inputs = self.wl.make_inputs(self.data, o.seed, o.scale)
        keys = self.wl.lookup_keys(self.data, np.random.default_rng(o.seed))

        t0 = time.perf_counter()  # setup_s starts at get_spark(), after imports
        self.start_session()
        session_s = time.perf_counter() - t0
        _, _, outputs, _ = self.run_pass(keys, collect=True)
        setup_s = time.perf_counter() - t0
        self.check(keys, outputs)

        self.stats = trace.SparkStats(self.sc)
        self.peak_rss = 0.0
        tracer = trace.Tracer(self.sc) if o.trace else None

        passes = {False: [], True: []}
        lookups, traced_records = [], []
        me = os.getpid()
        trace.reset_peak_rss([me] + trace.descendants(me))
        t_end = time.perf_counter() + o.seconds
        n = 0
        # traced runs end on an untraced pass (U T U ...), so a warm-up
        # trend across passes cancels in trace_overhead_frac
        min_passes = max(self.wl.min_passes, 3 if o.trace else 1)
        while n < min_passes or time.perf_counter() < t_end \
                or (o.trace and n % 2 == 0):
            traced = bool(o.trace) and n % 2 == 1
            if traced:
                tracer.pass_id = n
                tracer.install(__spark_entry__)
                self.tracer = tracer
            try:
                pass_s, lat, _, records = self.run_pass(keys)
            finally:
                if traced:
                    tracer.uninstall()
                    self.tracer = None
            passes[traced].append(pass_s)
            if traced:
                traced_records.append(records)
            else:
                lookups += lat
            n += 1
        peak_rss = self.peak_rss

        rows_in = sum(inputs["rows"].values())
        p50 = statistics.median(passes[False])
        pass_tail, pass_rule = tail(passes[False])
        lookup_tail, lookup_rule = tail(lookups)
        info = {
            "workload": self.wl.name, "seed": o.seed, "seconds": o.seconds,
            "trace": o.trace, "inputs": inputs, "input_rows": rows_in,
            "env": {
                "master": self.sc.master,
                "default_parallelism": self.sc.defaultParallelism,
                "nproc": os.cpu_count(), "pyspark": pyspark.__version__,
                "source_tree": bench.git_sha(),
            },
            "setup_s": setup_s, "session_start_s": session_s,
            "pass_s": passes[False], "traced_pass_s": passes[True],
            "pass_s_tail_rule": pass_rule,
            "lookup_samples": len(lookups), "lookup_s_tail_rule": lookup_rule,
            "failed_frac": len(self.failures) / max(1, self.attempted),
            "failures": self.failures,
        }
        if o.trace:
            metrics = self.layer_metrics(traced_records, session_s, passes)
            info["predictions"] = predictions(self.wl.name, metrics)
            self.write_trace(info, tracer)
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s_p50": p50, "pass_s_tail": pass_tail,
                "rows_per_s": rows_in / p50,
                "lookup_s_p50": statistics.median(lookups),
                "lookup_s_tail": lookup_tail, "peak_rss_mb": peak_rss,
            }
            metrics = {k: {"value": round(v, 6), "unit": END_TO_END_UNITS[k]}
                       for k, v in metrics.items()}
        result = {"correct": not self.failures, "attempted": self.attempted,
                  "failed": len(self.failures), "metrics": metrics}
        return result, info

    def layer_metrics(self, records: list[dict], session_s, passes) -> dict:
        """Medians over traced passes of per-pass sums."""
        from perfbench.workloads import WORKLOADS

        names = [q for w in WORKLOADS.values() for q, _ in w.queries] + ["lookup"]
        per_pass = []
        for recs in records:
            m: dict[str, float] = {}

            def add(k, v):
                m[k] = m.get(k, 0.0) + v

            for q, r in recs.items():
                for layer, v in r["layer_s"].items():
                    add(f"{layer}.build_s", v)
                for layer, v in r["layer_jobs"].items():
                    add(f"{layer}.build_jobs", v)
                add("spark.plan_s", r["plan_s"])
                add("spark.exec_s", r["exec_s"])
                add("spark.exec_jobs", r["exec_jobs"])
                add("spark.stages", r["stages"])
                for k in SPARK_SUMS:
                    add(f"spark.{k}", r[k])
                m["spark.peak_exec_mem_bytes"] = max(
                    m.get("spark.peak_exec_mem_bytes", 0),
                    r["peak_exec_mem_bytes"])
                add("spark.sched_gap_s", r["sched_gap_s"])
                add("build_jobs", r["build_jobs"])
                add("jobs", r["jobs"])
                add("pyworker.cpu_s", r["pyworker_cpu_s"])
                add("cache.leaked_rdds", r["leaked_rdds"])
                add("cache.leaked_bytes", r["leaked_bytes"])
                add(f"query.{q}.wall_s", r["wall_s"])
                add(f"query.{q}.jobs", r["jobs"])
            m["spark.build_job_frac"] = (m["build_jobs"] / m["jobs"]
                                         if m["jobs"] else 0.0)
            per_pass.append(m)
        units = per_layer_units(names)
        out = {}
        for k, unit in units.items():
            if k == "session.start_s":
                v = session_s
            elif k == "trace_overhead_frac":
                v = statistics.median(passes[True]) / \
                    statistics.median(passes[False]) - 1.0
            else:
                v = statistics.median(m.get(k, 0.0) for m in per_pass)
            out[k] = {"value": round(v, 6), "unit": unit}
        return out

    def write_trace(self, info: dict, tracer) -> None:
        os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
        path = os.path.join(HERE, ".results",
                            f"trace_{self.wl.name}_seed{self.o.seed}.json")
        spans = [{"name": s.name, "layer": s.layer, "pass": s.pass_id,
                  "parent": s.parent, "in_exec": s.in_exec,
                  "start": s.start + self.epoch, "end": s.end + self.epoch}
                 for s in tracer.spans]
        with open(path, "w") as f:
            json.dump({"info": info, "spans": spans}, f)
        info["trace_file"] = os.path.relpath(path, ROOT)


def predictions(workload: str, m: dict) -> dict:
    """The workload-to-layer predictions the traced run checks."""
    v = {k: x["value"] for k, x in m.items()}
    ops = sum(x for k, x in v.items()
              if k.startswith("operators.") and k.endswith(".build_s"))
    builds = {k: x for k, x in v.items() if k.endswith(".build_s")}
    pass_s = sum(x for k, x in v.items() if k.endswith(".wall_s"))
    if workload == "dedup_graph":
        return {"operators_build_is_largest_share": {
            "held": ops >= v["spark.exec_s"]
                    and all(ops >= x for k, x in builds.items()
                            if not k.startswith("operators.")),
            "operators_build_s": ops, "spark.exec_s": v["spark.exec_s"],
            "pass_s": pass_s}}
    if workload == "csv_etl":
        return {"exec_dominates_and_operators_zero": {
            "held": all(v["spark.exec_s"] >= x for x in builds.values())
                    and ops <= 0.01 * pass_s,
            "spark.exec_s": v["spark.exec_s"], "operators_build_s": ops,
            "max_layer_build_s": max(builds.values(), default=0.0),
            "pass_s": pass_s}}
    return {}


def parse(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a tiny one)")
    return ap.parse_args(argv)


def run(opts) -> tuple[dict, dict]:
    from perfbench.workloads import WORKLOADS

    # every scratch file of the run, the JVM's and the workers' included,
    # stays under the checkout and goes when the run ends
    work = os.path.join(HERE, ".work", f"{opts.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {"TMPDIR": os.path.join(work, "tmp"),
           "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")}
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    bench = Bench(opts, WORKLOADS[opts.workload], work)
    try:
        return bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run uses it
            os.rmdir(os.path.dirname(work))
        tempfile.tempdir = None
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def main(argv=None) -> int:
    opts = parse(argv)
    result, info = run(opts)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
