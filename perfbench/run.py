#!/usr/bin/env python3
"""Benchmark of the engine: one closed-loop client in ``local[N]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/workloads.py``):

* ``query_mix`` -- 16 registry queries, one per engine module: eleven on
  sf0.01-sized tables, where fixed per-query costs dominate, and five
  curation queries on a 0.2x corpus, where execution outweighs planning
  (MinHash dedup most of all);
* ``lake_dml``  -- a DML loop on a versioned orders table.

A run sets up (session, seeded inputs, one staging pass that also
collects each query result), then runs whole passes over the workload's
ops while the next pass should end within ``--seconds`` (at least one,
four when traced), then checks every staged query result against its
DuckDB oracle, or the DML table against a DuckDB model of the same op
sequence.

``--trace 0`` prints the end-to-end metrics: set-up wall time, and the
median over timed passes of each pass's CPU time and Spark job count.
``--trace 1`` enables Spark's event log, runs an untraced pass, then
alternates untraced and traced passes, and prints the per-layer
metrics; the full span tree with per-module and per-op breakdowns goes
to ``perfbench/.scratch/traces/<workload>-seed<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is
0 only when every op ran and every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Everything a run writes: its scratch directory and the trace files.
SCRATCH = os.path.join(HERE, ".scratch")
sys.path.insert(0, HERE)
# No bytecode caches in the engine's tree; Spark's Python workers inherit
# the environment variable.
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

from tracing import CpuMeter, Tracer, descendants, engine_totals, read_event_log  # noqa: E402
from workloads import LakeDml, QueryWorkload  # noqa: E402

#: name -> (full-size factory, self-test-size factory)
WORKLOADS = {
    "query_mix": (lambda: QueryWorkload(0.1, 0.2), lambda: QueryWorkload(0.01, 0.02)),
    "lake_dml": (lambda: LakeDml(0.1), lambda: LakeDml(0.01)),
}


#: Event-log totals reported per traced pass. Spill and Python-worker
#: bytes are zero on some workloads, so they go to the trace file only.
ENGINE_METRICS = {
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.idle_core_s": "s",
    "spark.input_bytes": "bytes",
    "spark.input_rows": "rows",
    "spark.shuffle_write_bytes": "bytes",
}


def machine() -> tuple[int, str]:
    """Cores from the CPU affinity; driver heap a quarter of host RAM,
    between 1 and 4 GiB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    gib = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return cpus, f"{gib}g"


def pin_environment(scratch: str, cpus: int, driver_memory: str, trace: bool) -> None:
    """Everything the engine and Spark write goes under ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    events = os.path.join(scratch, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{events}",
        ]
    args = [a for c in confs for a in ("--conf", c)]
    # Fixed compiler threads, so that CpuMeter can leave JIT time out.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=driver_memory,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=shlex.join(args),
    )
    tempfile.tempdir = None


def catalyst_seconds(df) -> float:
    """Analysis + optimisation + planning time from the DataFrame's
    QueryPlanningTracker, after forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


class Runner:
    def __init__(self, spark, tracer: Tracer, cpu: CpuMeter):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cpu = cpu
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, op, parent, traced: bool, group: str) -> dict:
        """Run one op under its own job group: the callable (plan), then
        the noop write of the DataFrame it returns (exec). Traced ops also
        get Catalyst phase times and plan/catalyst/exec spans."""
        from pyspark.sql import DataFrame

        self.spark.catalog.clearCache()
        self.attempted += 1
        rec = {"op": op.name, "module": op.module, "plan_s": 0.0, "exec_s": 0.0, "catalyst_s": 0.0}
        span = self.tracer.start("op", parent, **rec) if traced else None
        self.sc.setJobGroup(group, op.name)
        cpu0 = self.cpu.seconds()
        t0 = time.perf_counter()
        ok = True
        try:
            s = self.tracer.start("plan", span) if traced else None
            out = op.run()
            rec["plan_s"] = time.perf_counter() - t0
            if traced:
                self.tracer.end(s)
            if isinstance(out, DataFrame):
                if traced:
                    s = self.tracer.start("catalyst", span)
                    rec["catalyst_s"] = catalyst_seconds(out)
                    self.tracer.end(s)
                s = self.tracer.start("exec", span) if traced else None
                t1 = time.perf_counter()
                out.write.format("noop").mode("overwrite").save()
                rec["exec_s"] = time.perf_counter() - t1
                if traced:
                    self.tracer.end(s)
        except Exception as e:  # noqa: BLE001 - a failed op is counted and reported
            ok = False
            self.failed += 1
            self.errors.append(f"{op.name}: {type(e).__name__}: {str(e)[:500]}")
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = self.cpu.seconds() - cpu0
        rec["ok"] = ok
        rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
        if traced:
            self.tracer.end(span, **rec)
            rec["window"] = (span.start, span.end)
        return rec


def run(args, scratch: str, cpus: int, driver_memory: str) -> dict:
    sys.path.insert(0, ROOT)
    from argodb_mapreduce_spark.session import get_spark

    workload = WORKLOADS[args.workload][1 if args.tiny else 0]()
    tracer = Tracer()
    t_setup = time.perf_counter()
    setup = tracer.start("setup")
    s = tracer.start("session.get_spark", setup)
    spark = get_spark("perfbench", cpus=cpus)
    tracer.end(s)
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    runner = Runner(spark, tracer, CpuMeter(jvm))
    try:
        s = tracer.start("gen_scale_corpus.gen", setup)
        workload.generate(ROOT, args.seed, scratch)
        tracer.end(s)
        s = tracer.start("catalog.stage", setup)
        staged = [runner.op(op, s, False, f"stage.{j}.{op.name}") for j, op in enumerate(workload.stage(spark))]
        tracer.end(s)
        setup_s = time.perf_counter() - t_setup
        tracer.end(setup)

        passes: list[dict] = []
        body = tracer.start("workload", workload=args.workload)
        # Whole passes while the next one, as long as the median pass
        # so far, still ends within --seconds.
        deadline = time.perf_counter() + args.seconds
        # A traced run needs a traced pass between two untraced ones,
        # after a first pass that is still slower from JVM warm-up, to
        # measure the tracing overhead.
        min_passes = 4 if args.trace else 1
        while len(passes) < min_passes or (
            time.perf_counter() + statistics.median(p["s"] for p in passes) <= deadline
        ):
            i = len(passes)
            traced = bool(args.trace) and i > 0 and i % 2 == 0
            ops = workload.next_pass(spark)
            p = tracer.start("pass", body, index=i, traced=traced)
            t0 = time.perf_counter()
            recs = [runner.op(op, p, traced, f"p{i}.{j}.{op.name}") for j, op in enumerate(ops)]
            passes.append({"index": i, "traced": traced, "s": time.perf_counter() - t0, "ops": recs})
            tracer.end(p)
            passes[-1]["span"] = p
        tracer.end(body)
        t_check = time.perf_counter()
        spark.sparkContext.setJobGroup("check", "correctness check")
        check_failures = workload.check(spark)
        check_s = time.perf_counter() - t_check
        runner.attempted += 1
        if check_failures:
            runner.failed += 1
            runner.errors += check_failures
        lake = workload.summary() if isinstance(workload, LakeDml) else None
    finally:
        stop_spark(spark)

    for e in runner.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    untraced = [p for p in passes if not p["traced"]]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cpus,
        "driver_memory": driver_memory,
        "host_mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "pass_wall_s": [round(p["s"], 3) for p in passes],
        "pass_cpu_s": [round(sum(r["cpu_s"] for r in p["ops"]), 3) for p in passes],
        "op_wall_s": {r["op"]: round(r["s"], 3) for r in passes[0]["ops"]},
        "op_cpu_s": {r["op"]: round(r["cpu_s"], 2) for r in passes[0]["ops"]},
        "check_s": round(check_s, 3),
        "setup": {sp.name: round(sp.dur, 3) for sp in tracer.spans if sp.parent == setup.id},
        "staged": {r["op"]: round(r["s"], 3) for r in staged},
    }
    print(f"perfbench: {json.dumps(info)}", file=sys.stderr)
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (_median_over(untraced, lambda p: sum(r["cpu_s"] for r in p["ops"])), "s"),
            "pass_jobs": (_median_over(untraced, lambda p: sum(r["jobs"] for r in p["ops"])), "count"),
        }
    else:
        tasks = read_event_log(os.path.join(scratch, "eventlog"))
        metrics = _layer_metrics(tracer, passes, cpus, tasks)
        trace_path = os.path.join(SCRATCH, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(
            trace_path,
            {**info, "metrics": metrics, "breakdown": _breakdown(passes, tasks, cpus), "lake": lake},
        )
        print(f"perfbench: trace written to {trace_path}", file=sys.stderr)
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _median_over(passes: list[dict], fn) -> float:
    return statistics.median(fn(p) for p in passes)


def _layer_metrics(tracer: Tracer, passes: list[dict], cores: int, tasks) -> dict:
    traced = [p for p in passes if p["traced"]]
    setup = {s.name: s.dur for s in tracer.spans if s.name in ("session.get_spark", "gen_scale_corpus.gen", "catalog.stage")}
    engine = [engine_totals(tasks, p["span"].start, p["span"].end, cores) for p in traced]
    m = {
        "session.get_spark_s": (setup["session.get_spark"], "s"),
        "gen_scale_corpus.gen_s": (setup["gen_scale_corpus.gen"], "s"),
        "catalog.stage_s": (setup["catalog.stage"], "s"),
        "ops.cpu_s": (_median_over(traced, lambda p: sum(r["cpu_s"] for r in p["ops"])), "s"),
        "ops.plan_s": (_median_over(traced, lambda p: sum(r["plan_s"] for r in p["ops"])), "s"),
        "ops.catalyst_s": (_median_over(traced, lambda p: sum(r["catalyst_s"] for r in p["ops"])), "s"),
        "ops.exec_s": (_median_over(traced, lambda p: sum(r["exec_s"] for r in p["ops"])), "s"),
        "ops.jobs": (_median_over(traced, lambda p: sum(r["jobs"] for r in p["ops"])), "count"),
        "harness.gap_s": (_median_over(traced, lambda p: tracer.self_time(p["span"])), "s"),
        "trace.overhead_s": (_tracing_overhead(passes), "s"),
    }
    for key, unit in ENGINE_METRICS.items():
        m[key] = (statistics.median(e[key] for e in engine), unit)
    return m


def _tracing_overhead(passes: list[dict]) -> float:
    """Median over traced passes of the pass's wall time minus the mean of
    the untraced passes before and after it. Passes get cheaper as the
    JVM warms up; comparing with both neighbours cancels that trend."""
    return statistics.median(
        p["s"] - (passes[i - 1]["s"] + passes[i + 1]["s"]) / 2
        for i, p in enumerate(passes)
        if p["traced"] and i + 1 < len(passes)
    )


def _breakdown(passes: list[dict], tasks, cores: int) -> dict:
    """Per module and per op: the median over traced passes of each
    pass's summed op time, plan/catalyst/exec time, jobs and event-log
    totals (tasks attributed to an op by its time window)."""
    out: dict[str, dict] = {}
    traced = [p for p in passes if p["traced"]]
    for key in ("module", "op"):
        per: dict[str, list[dict]] = defaultdict(list)
        for p in traced:
            acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
            for r in p["ops"]:
                fields = {f: r[f] for f in ("s", "cpu_s", "plan_s", "catalyst_s", "exec_s", "jobs")}
                fields.update(engine_totals(tasks, *r["window"], cores))
                for f, v in fields.items():
                    acc[r[key]][f] += v
            for name, v in acc.items():
                per[name].append(v)
        out[key] = {name: {f: statistics.median(v[f] for v in vs) for f in vs[0]} for name, vs in per.items()}
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for the JVM and
    every process under it (the PySpark daemon and workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    args = ap.parse_args(argv)

    missing = [
        p
        for p in ("argodb_mapreduce_spark/__init__.py", "scripts/gen_scale_corpus.py", "tests/compare.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: the engine is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2

    # A terminated run still stops Spark and removes its scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus, driver_memory = machine()
    scratch = os.path.join(SCRATCH, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(scratch, cpus, driver_memory, bool(args.trace))
    try:
        result = run(args, scratch, cpus, driver_memory)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
