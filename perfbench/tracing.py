"""Spans, Spark event-log totals and process CPU time.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the engine, engine-level counters come from
Spark's event log, and CPU time comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # seconds since the epoch
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Parents are explicit: the loop is
    single-threaded and each call site knows the span that caused it."""

    def __init__(self):
        self.spans: list[Span] = []

    def start(self, name: str, parent: Span | None = None, **attrs) -> Span:
        span = Span(len(self.spans), name, None if parent is None else parent.id, time.time(), attrs=attrs)
        self.spans.append(span)
        return span

    def end(self, span: Span, **attrs) -> Span:
        span.end = time.time()
        span.attrs.update(attrs)
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans (children
        of one span never overlap: the loop is single-threaded)."""
        return span.dur - sum(c.dur for c in self.children(span))

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "self_s": self.self_time(s),
                            **s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                f,
                indent=1,
            )


# --------------------------------------------------------------- event log

#: SQL metric names PySpark's Python exec nodes report per task.
_PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class TaskRecord:
    launch: float  # epoch seconds
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_rows: int
    shuffle_write_bytes: int
    spill_bytes: int
    python_bytes: int
    stage: int


def read_event_log(log_dir: str) -> list[TaskRecord]:
    """Task records from the single application log Spark wrote under
    ``log_dir`` (read after the session stopped)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    tasks: list[TaskRecord] = []
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                py = sum(
                    int(a.get("Update", 0))
                    for a in info.get("Accumulables", [])
                    if a.get("Name") in _PYTHON_METRICS
                )
                tasks.append(
                    TaskRecord(
                        launch=info["Launch Time"] / 1000.0,
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        input_rows=(m.get("Input Metrics") or {}).get("Records Read", 0),
                        shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        python_bytes=py,
                        stage=ev["Stage ID"],
                    )
                )
    return tasks


def engine_totals(tasks: list[TaskRecord], start: float, end: float, cores: int) -> dict[str, float]:
    """Engine-level totals for the tasks launched in ``[start, end]``.
    The loop is closed and single-client, so a time window attributes
    every task — stream micro-batches included — to the op or pass that
    caused it."""
    sel = [t for t in tasks if start <= t.launch <= end]
    run = sum(t.run_s for t in sel)
    return {
        "spark.tasks": len(sel),
        "spark.stages": len({t.stage for t in sel}),
        "spark.task_run_s": run,
        "spark.task_cpu_s": sum(t.cpu_s for t in sel),
        "spark.gc_s": sum(t.gc_s for t in sel),
        "spark.idle_core_s": cores * (end - start) - run,
        "spark.input_bytes": sum(t.input_bytes for t in sel),
        "spark.input_rows": sum(t.input_rows for t in sel),
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in sel),
        "spark.spill_bytes": sum(t.spill_bytes for t in sel),
        "spark.python_bytes": sum(t.python_bytes for t in sel),
    }


# --------------------------------------------------------------- processes


def descendants(root: int) -> list[int]:
    """Pids of every process under ``root``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


_TICK = os.sysconf("SC_CLK_TCK")
#: JVM thread names of the JIT compilers, whose background compiling is
#: not work the measured ops asked for.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        data = f.read()
    return data[data.index("(") + 1 : data.rindex(")")], data.rsplit(")", 1)[1].split()


def _cpu_ticks(pid: int, children: bool) -> int:
    """utime + stime of ``pid``, plus its reaped children's when asked
    (the PySpark daemon reaps its workers)."""
    try:
        fields = _stat(f"/proc/{pid}/stat")[1]
    except (OSError, ValueError):
        return 0
    return sum(int(x) for x in fields[11 : 15 if children else 13])


class CpuMeter:
    """CPU time used so far by this process (the client and the engine's
    Python planning code), the driver JVM without its JIT compiler
    threads, and every process under the JVM (the PySpark daemon and its
    workers). Unlike wall time it does not count time spent waiting for
    a core.

    The JVM must run with ``-XX:-UseDynamicNumberOfCompilerThreads``.
    Otherwise it starts and stops compiler threads as its compile queue
    changes, and the time of a thread that lived between two readings
    stays in the process total unseen: seconds of compiling per pass
    while the JVM warms up."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _jit_ticks(self) -> int:
        ticks = 0
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                name, fields = _stat(f"/proc/{self.jvm_pid}/task/{tid}/stat")
            except (OSError, ValueError):
                continue
            if name.startswith(_JIT_THREADS):
                ticks += int(fields[11]) + int(fields[12])
        return ticks

    def seconds(self) -> float:
        ticks = _cpu_ticks(os.getpid(), False) + _cpu_ticks(self.jvm_pid, True) - self._jit_ticks()
        ticks += sum(_cpu_ticks(p, True) for p in descendants(self.jvm_pid))
        return ticks / _TICK
