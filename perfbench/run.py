"""Layered benchmark of data_table_spark.

    python3 perfbench/run.py --workload {facade,gates} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One client runs the workload's ops one
after another (a closed loop), in an order shuffled by the seed, on one
Spark session pinned to ``local[nproc]`` with ``nproc`` shuffle
partitions. Inputs are generated from the seed into a per-run directory
under ``.perfbench/`` that also holds the warehouse, the Derby home, the
Spark local dirs and the event log, and is removed at exit.

The timed loop is a first (cold) pass over every op, then a fixed number
of steady passes, ``--seconds // pass_s`` of the workload (at least its
``min_steady``); the end-to-end metrics rest on each op's median steady
latency. The JVM runs C1 only, so the steady passes do not drift while
it compiles (README.md gives the numbers). Every op's
output is checked after the op, outside its timing: gates against their
DuckDB oracle, the facade sequence against the assertions in
``workloads.FacadeSequence``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` makes the
cold pass and one steady pass untraced, restarts the session with the
event log on for one traced pass, then restarts without it for one more
untraced pass; it reports the per-layer metrics and the tracing overhead
(the traced pass against the mean of the untraced ones) and writes the
spans and per-op records to ``.perfbench/trace-<workload>-<seed>.jsonl``.

Every metric is printed by name with its unit; the last line is the JSON
result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import checks  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import tracing as tr  # noqa: E402
from workloads import (  # noqa: E402
    FACADE_CALLS, FACADE_RECORDS, WORKLOADS, FacadeSequence, ops_of,
)

#: set-ups per run; setup_s is their median. The first starts the JVM and
#: the first restart is often slower than the rest, so with five the
#: median is a typical restart and does not flip between two levels
SETUPS = 5

END_TO_END_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "peak_rss_mb": "MB",
}

#: printed by name with ``--trace 0`` but not bounded in BENCHMARK.json:
#: one cold pass and the few slowest samples spread too widely from run to
#: run to hold a bound, and a ratio that is 0 on a healthy run gives a
#: bound no base
ALSO_UNITS = {"first_pass_s": "s", "op_tail_s": "s", "fail_ratio": "ratio"}

PER_LAYER_UNITS = {
    "session.start_s": "s", "entry.import_s": "s", "entry.n_gates": "count",
    **{f"{c}_s": "s" for c in FACADE_CALLS},
    **{f"{c}.jobs": "count" for c in FACADE_CALLS},
    "build.s": "s", "build.jobs": "count",
    "lineage.checkpoints": "count", "lineage.checkpoint_s": "s",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "registry.scan_tasks": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.max_stage_tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.core_util": "ratio",
    "exec.narrow_stage_s": "s",
    "pyworker.cpu_s": "s", "pyworker.count": "count",
    "jvm.gc_s": "s", "jvm.heap_used_mb": "MB",
    "self.op_s": "s", "self.build_s": "s", "self.materialize_s": "s",
    "self.facade_s": "s",
    "trace.ops_per_s": "1/s", "trace.untraced_ops_per_s": "1/s",
    "trace.overhead_pct": "%",
}


def _program_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "__spark_entry__.py")) and \
        os.path.isfile(os.path.join(root, "data_table_spark", "__init__.py"))


def _host() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = round(int(v.split()[0]) / 2**20, 2)
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "steal_s": tr.steal_s(),
            "mem_total_gb": mem.get("MemTotal"),
            "mem_avail_gb": mem.get("MemAvailable")}


class Bench:
    def __init__(self, args, run_dir: str, nproc: int):
        self.args, self.run_dir, self.nproc = args, run_dir, nproc
        self.workload = WORKLOADS[args.workload]
        self.data_dir = os.path.join(run_dir, "data")
        self.spark = None
        self.queries = None
        self.facade = None
        self.oracle = None
        self.op_seq = 0
        self.pass_no = 0
        self.peak_rss_mb = 0.0

    # ------------------------------------------------------------ set-up

    def generate_inputs(self) -> float:
        t0 = time.perf_counter()
        datagen.write_tables(self.data_dir, self.workload.sf, self.args.seed)
        if self.workload.facade_sequences:
            self.records = datagen.facade_records(FACADE_RECORDS, self.args.seed)
            self.csv_path = os.path.join(self.run_dir, "records.csv")
            datagen.write_csv(self.csv_path, self.records)
        return time.perf_counter() - t0

    def _conf(self, event_log: bool) -> dict[str, str]:
        conf = {
            # the Python-worker pool settings bench.py uses
            "spark.python.worker.idleTimeoutSeconds": "60",
            "spark.python.worker.killOnIdleTimeout": "true",
            "spark.python.factory.idleWorkerMaxPoolSize": "8",
            # a fixed, pre-touched heap: the JVM's resident memory no longer
            # depends on how far the heap happened to grow, so peak_rss_mb
            # moves only with the program's own memory
            "spark.driver.memory": "1g",
            # C1 only, compiling at a fifth of the usual call counts: with
            # the default tiered C2 the JVM goes on compiling for minutes
            # (a facade sequence falls from 12 s to 7.5 s over its first
            # six runs), so a run would measure how far the JIT got, which
            # depends on how busy the host was. With C1 the steady passes
            # are flat from the first one after the cold pass.
            "spark.driver.extraJavaOptions":
                "-Xms1g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                "-XX:CompileThresholdScaling=0.2 -XX:ReservedCodeCacheSize=256m "
                f"-Dderby.system.home={self.run_dir}/derby",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            os.makedirs(os.path.join(self.run_dir, "eventlog"), exist_ok=True)
            conf["spark.eventLog.dir"] = os.path.join(self.run_dir, "eventlog")
            # zstd is the default codec and the Python zstandard module is
            # not installed, so the log is written uncompressed
            conf["spark.eventLog.compress"] = "false"
        return conf

    def setup(self, event_log: bool = False) -> tuple[float, float, float]:
        """(set-up s, session start s, entry import + queries() s)."""
        from data_table_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc, extra_conf=self._conf(event_log),
        )
        t1 = time.perf_counter()
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        t2 = time.perf_counter()
        self.spark.read.parquet(os.path.join(self.data_dir, "region.parquet")).count()
        t3 = time.perf_counter()
        if self.workload.facade_sequences:
            self.facade = FacadeSequence(self.spark, self.records, self.csv_path,
                                         os.path.join(self.run_dir, "facade"))
        return t3 - t0, t1 - t0, t2 - t1

    # ------------------------------------------------------------ ops

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name, False)

    def run_op(self, op, tracer) -> dict:
        """Run one op; returns its record. Only build + materialisation
        (or the facade calls) are inside ``latency``."""
        self.op_seq += 1
        op_id = f"op{self.op_seq}"
        tracer.op = op_id
        rec = {"op": op_id, "name": op.name}
        calls: dict[str, float] = {}

        @contextmanager
        def span(name):
            self._group(f"{op_id}:{name}")
            t = time.perf_counter()
            with tracer.span(name):
                yield
            calls[name] = calls.get(name, 0.0) + time.perf_counter() - t

        df = result = None
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                if op.kind == "gate":
                    with span("build"):
                        df = self.queries[op.name](self.spark, self.data_dir)
                    with span("materialize"):
                        result = df.toArrow()
                else:
                    result = self.facade.run(op_id, span)
        except Exception as e:  # a failing op is counted, not fatal
            rec.update(latency=time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"[:300])
            self._probe(rec)
            return rec
        rec["latency"] = time.perf_counter() - t0
        if op.kind == "facade":
            rec["calls"] = calls
        self._probe(rec)
        self._group("perfbench:check")
        if op.kind == "gate":
            rec["wrong"] = self.oracle.check(op.name, result)
        else:
            rec["wrong"] = self.facade.check(result)
        rec["_df"] = df
        return rec

    def _probe(self, rec: dict) -> None:
        """Memory and Python workers right after an op, outside its
        latency; the heap is pre-touched, so the peak shows between ops."""
        rss, cpu, workers = tr.tree_snapshot(os.getpid())
        self.peak_rss_mb = max(self.peak_rss_mb, rss)
        rec["_pyworker_cpu"] = cpu
        rec["pyworker.count"] = workers

    def run_pass(self, ops, pass_no: int, tracer, hooks=None) -> list[dict]:
        order = np.random.default_rng([self.args.seed, pass_no]).permutation(len(ops))
        recs = []
        for i in order:
            before = hooks.before() if hooks else None
            rec = self.run_op(ops[i], tracer)
            if hooks:
                hooks.after(rec, before)
            rec.pop("_df", None)
            rec.pop("_pyworker_cpu", None)
            rec["pass"] = pass_no
            recs.append(rec)
        gc.collect()
        return recs

    def timed_loop(self, passes: int, tracer, hooks=None,
                   cold: bool = True) -> tuple[list, list]:
        """A first pass (when ``cold``), then ``passes`` steady passes;
        pass numbers go on across calls, so each pass has its own order."""
        ops = ops_of(self.workload)
        first = self.run_pass(ops, self.pass_no, tracer, hooks) if cold else []
        steady = []
        for _ in range(passes):
            self.pass_no += 1
            steady += self.run_pass(ops, self.pass_no, tracer, hooks)
        self.pass_no += 1
        return first, steady


# ---------------------------------------------------------------- metrics

def _ok(recs):
    return [r for r in recs if "error" not in r]


def per_call_medians(steady) -> dict[str, float]:
    """Each facade call's median steady latency, keyed ``op/call``."""
    per_call: dict[str, list[float]] = {}
    for r in _ok(steady):
        for c, t in (r.get("calls") or {}).items():
            per_call.setdefault(f"{r['name']}/{c}", []).append(t)
    return {k: stats.median(v) for k, v in per_call.items()}


def per_op_medians(steady) -> dict[str, float]:
    """Each op's median steady latency; a facade sequence's is the sum of
    its calls' medians, so one slow call in one sequence moves nothing."""
    per_op: dict[str, list[dict]] = {}
    for r in _ok(steady):
        per_op.setdefault(r["name"], []).append(r.get("calls") or {"op": r["latency"]})
    return {k: sum(stats.median([c[n] for c in v]) for n in v[0])
            for k, v in sorted(per_op.items())}


def end_to_end(setups, first, steady, peak_rss_mb) -> tuple[dict, dict]:
    """Metrics of the steady passes. ``ops_per_s`` is a pass's ops over
    the sum of each op's median latency, so a slow spell that hits one
    pass moves no op's median; ``op_p50_s`` is the median of all steady
    latencies."""
    lat = [r["latency"] for r in _ok(steady)]
    value, pct, beyond = stats.tail(lat)
    checked = first + steady
    failed = sum(1 for r in checked if "error" in r or r.get("wrong"))
    medians = per_op_medians(steady)
    metrics = {
        "fail_ratio": failed / len(checked),
        "setup_s": stats.median(setups),
        "first_pass_s": sum(r["latency"] for r in first),
        "ops_per_s": len(medians) / sum(medians.values()),
        "op_p50_s": stats.median(lat),
        "op_tail_s": value,
        "peak_rss_mb": peak_rss_mb,
    }
    info = {"attempted": len(checked), "failed": failed,
            "fail_ratio": failed / len(checked),
            "op_tail_percentile": pct, "op_tail_beyond": beyond,
            "steady_samples": len(lat),
            "steady_pass_s": _pass_sums(steady)}
    return metrics, info


def _pass_sums(recs) -> list[float]:
    sums: dict[int, float] = {}
    for r in recs:
        sums[r["pass"]] = sums.get(r["pass"], 0.0) + r["latency"]
    return [round(v, 3) for v in sums.values()]


class TraceHooks:
    """Per-op probes of the traced phase, taken between ops."""

    def __init__(self, bench):
        self.bench = bench

    def before(self):
        gc_s, _ = tr.jvm_memory(self.bench.spark)
        return tr.tree_snapshot(os.getpid())[1], gc_s

    def after(self, rec, before):
        gc_s, heap = tr.jvm_memory(self.bench.spark)
        rec["pyworker.cpu_s"] = rec["_pyworker_cpu"] - before[0]
        rec["jvm.gc_s"] = gc_s - before[1]
        rec["jvm.heap_used_mb"] = heap
        if rec.get("_df") is not None and "error" not in rec:
            rec.update(tr.plan_stats(rec["_df"]))


def per_layer(bench, recs, spans, jobs, stages, setup_info) -> dict:
    """Annotate each op record with its per-layer values, then aggregate:
    means per op, except the maxima and the ratio noted in README.md."""
    by_group = tr.exec_by_group(jobs, stages, bench.nproc)
    span_tot: dict[tuple[str, str], float] = {}
    n_ckpt: dict[str, int] = {}
    for s in spans:
        span_tot[(s.op, s.name)] = span_tot.get((s.op, s.name), 0.0) + s.end - s.start
        if s.name == "lineage.checkpoint":
            n_ckpt[s.op] = n_ckpt.get(s.op, 0) + 1
    selfs = tr.self_times(spans)
    exec_keys = ("registry.scan_tasks", "exec.s", "exec.jobs", "exec.stages",
                 "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
                 "exec.gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
                 "exec.spill_mb", "exec.narrow_stage_s")
    for r in recs:
        op = r["op"]
        groups = [v for g, v in by_group.items() if g.split(":", 1)[0] == op]
        for k in exec_keys:
            r[k] = sum(v[k] for v in groups)
        r["exec.max_stage_tasks"] = max((v["exec.max_stage_tasks"] for v in groups),
                                        default=0)
        calls = FACADE_CALLS if r["name"].startswith("facade_seq") else ("build",)
        for c in calls:
            key = "build.s" if c == "build" else f"{c}_s"
            r[key] = span_tot.get((op, c), 0.0)
            r[f"{c}.jobs"] = by_group.get(f"{op}:{c}", {}).get("exec.jobs", 0)
        r["lineage.checkpoints"] = n_ckpt.get(op, 0)
        r["lineage.checkpoint_s"] = (selfs.get((op, "lineage.checkpoint"), 0.0)
                                     + selfs.get((op, "lineage.truncate"), 0.0))
        r["self.op_s"] = selfs.get((op, "op"), 0.0)
        r["self.build_s"] = selfs.get((op, "build"), 0.0)
        r["self.materialize_s"] = selfs.get((op, "materialize"), 0.0)
        r["self.facade_s"] = sum(selfs.get((op, c), 0.0) for c in FACADE_CALLS)

    def mean(key):
        xs = [r[key] for r in recs if key in r]
        return sum(xs) / len(xs) if xs else 0.0

    out = {
        "session.start_s": setup_info["session_start_s"],
        "entry.import_s": setup_info["entry_import_s"],
        "entry.n_gates": float(len(bench.queries)),
    }
    for key in PER_LAYER_UNITS:
        if key not in out and not key.startswith("trace."):
            out[key] = mean(key)
    tot_exec = sum(r["exec.s"] for r in recs)
    out["exec.core_util"] = (sum(r["exec.task_run_s"] for r in recs)
                             / (bench.nproc * tot_exec)) if tot_exec else 0.0
    out["exec.max_stage_tasks"] = float(max(r["exec.max_stage_tasks"] for r in recs))
    out["pyworker.count"] = float(max(r.get("pyworker.count", 0) for r in recs))
    out["jvm.heap_used_mb"] = stats.median([r["jvm.heap_used_mb"] for r in recs])
    return out


# ---------------------------------------------------------------- main

def _stop_jvm(timeout: float = 30.0) -> None:
    """End the JVM and its Python workers and wait for them: the JVM
    exits when its stdin closes, the pyspark daemon when the JVM does."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    kids = tr.descendants(os.getpid())
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.monotonic() + timeout
    for pid in kids:
        while tr.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if tr.alive(pid):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = SparkContext._jvm = None


def _print_metrics(title: str, metrics: dict, units: dict) -> None:
    print(f"# {title}")
    for k in units:
        print(f"{k} = {metrics[k]!r} {units[k]}")


def run(args, root: str, run_dir: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for var in ("SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_ROCKSDB_STATE"):
        os.environ.pop(var, None)
    for d in ("tmp", "local", "facade"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)

    host_before = _host()
    bench = Bench(args, run_dir, nproc)
    gen_s = bench.generate_inputs()
    try:
        setups, starts, imports = [], [], []
        for _ in range(SETUPS):
            s, st, im = bench.setup()
            setups.append(s)
            starts.append(st)
            imports.append(im)
        import __spark_entry__

        bench.oracle = checks.Oracle(bench.data_dir, datagen.TABLES,
                                     __spark_entry__.oracle_sql(),
                                     os.path.join(run_dir, "tmp"))
        off = tr.Tracer(enabled=False)
        if not args.trace:
            first, steady = bench.timed_loop(
                bench.workload.steady_passes(args.seconds), off)
            metrics, info = end_to_end(setups, first, steady, bench.peak_rss_mb)
            units, checked = END_TO_END_UNITS, first + steady
        else:
            # untraced, traced, untraced again, one steady pass each (the
            # first after the cold pass): the JVM keeps warming up across
            # phases, so the traced pass is compared with the mean of the
            # passes before and after it
            first, steady = bench.timed_loop(1, off)
            before = end_to_end(setups, first, steady, bench.peak_rss_mb)[0]
            bench.setup(event_log=True)
            tracer = tr.Tracer(enabled=True)
            tr.patch_checkpoints(tracer)
            _, recs = bench.timed_loop(1, tracer, TraceHooks(bench), cold=False)
            tracer.enabled = False
            traced = end_to_end(setups, first, recs, bench.peak_rss_mb)[0]
            bench.setup()
            _, again = bench.timed_loop(1, off, cold=False)
            after = end_to_end(setups, first, again, bench.peak_rss_mb)[0]
            _, info = end_to_end(setups, first, steady + recs + again,
                                 bench.peak_rss_mb)
            untraced_ops_per_s = (before["ops_per_s"] + after["ops_per_s"]) / 2
            checked = first + steady + recs + again
            jobs, stages = tr.parse_event_log(os.path.join(run_dir, "eventlog"))
            metrics = per_layer(bench, recs, tracer.spans, jobs, stages, {
                "session_start_s": stats.median(starts),
                "entry_import_s": imports[0],
            })
            metrics["trace.ops_per_s"] = traced["ops_per_s"]
            metrics["trace.untraced_ops_per_s"] = untraced_ops_per_s
            metrics["trace.overhead_pct"] = 100.0 * (
                1.0 - traced["ops_per_s"] / untraced_ops_per_s)
            out_dir = os.path.join(root, ".perfbench")
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl")
            tracer.dump(path)
            with open(path, "a") as f:
                for r in recs:
                    f.write(json.dumps({"record": r}, default=str) + "\n")
            units = PER_LAYER_UNITS
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        if bench.oracle is not None:
            bench.oracle.close()
        _stop_jvm()

    for r in checked:
        if "error" in r or r.get("wrong"):
            print(f"! {r['name']} ({r['op']}): {r.get('error') or r['wrong']}")
    print(f"# workload={args.workload} seed={args.seed} sf={bench.workload.sf} "
          f"trace={args.trace} nproc={nproc} input_gen_s={gen_s:.3f} "
          f"setups_s={[round(s, 3) for s in setups]}")
    host_after = _host()
    print(f"# host before {json.dumps(host_before)}")
    print(f"# host after  {json.dumps(host_after)}")
    print(f"# steal during the run: "
          f"{host_after['steal_s'] - host_before['steal_s']:.2f} CPU s")
    print(f"# attempted={info['attempted']} failed={info['failed']} "
          f"fail_ratio={info['fail_ratio']!r} ratio "
          f"op_tail_s=p{info['op_tail_percentile']} of {info['steady_samples']} "
          f"steady ops ({info['op_tail_beyond']} beyond); "
          f"steady passes {info['steady_pass_s']} s")
    print("# PERF " + json.dumps(
        {k: round(v, 3) for k, v in
         {**per_op_medians(steady), **per_call_medians(steady)}.items()},
        separators=(",", ":")))
    _print_metrics("metrics", metrics, units)
    if not args.trace:
        _print_metrics("also measured", metrics, ALSO_UNITS)
    return {
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not _program_present(root):
        print("perfbench: run from the repository root; data_table_spark/ and "
              "__spark_entry__.py are missing here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = run(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
