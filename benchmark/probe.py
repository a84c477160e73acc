"""Measurement plumbing read from outside the engine: spans, Spark's
status stores (through py4j), JVM GC time, the driver log and /proc.

``spark.ui.enabled=false`` turns off the REST API, but the status stores
behind it are still fed by the listener bus, so jobs, stages and SQL
executions are read directly from them.  Jobs and SQL executions are
attributed to a span by id range: the benchmark is one closed-loop
client, so every job started between a span's start and end belongs to
it, including jobs the engine submits from its own threads.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import re
import threading
import time

CODEGEN_FALLBACK = "Failed to compile the generated Java code"


# --- spans -------------------------------------------------------------------


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in Tracer.spans
    pass_id: int


class Tracer:
    """In-memory span recorder.  ``span(name)`` is a context manager; spans
    opened inside it become its children.  Written out only at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.pass_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, pass_id: int) -> dict[str, float]:
        """Per span name: duration minus the time its children cover,
        summed over the pass's spans of that name."""
        out: dict[str, float] = {}
        idx = [k for k, s in enumerate(self.spans) if s.pass_id == pass_id]
        for k in idx:
            s = self.spans[k]
            child = sum(c.end - c.start for c in self.spans if c.parent == k)
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child
        return out

    def dump(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.spans]


# --- Spark status stores -----------------------------------------------------


_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange \(\d+\)")
_NUM = re.compile(r"([-0-9.,]+)\s*([KMGTPE]i?B|B|ms|s|ns|min|h)?")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value (``'1,234'``, ``'0.0 B'``, or the
    ``'total (min, med, max ...)\\n12.5 MiB (...)'`` form) as a number of
    rows / bytes / milliseconds."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return v * _SIZE.get(unit, 1)


def _final_plan(desc: str) -> str:
    head = desc.split("\n\n")[0]
    if "== Final Plan ==" in head:
        head = head.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return head


class SparkStats:
    """Reads the driver's status stores over py4j."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.app = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jvm = spark.sparkContext._jvm

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def marks(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) so far."""
        self.drain()
        last_job = self.jsc.dagScheduler().nextJobId() - 1
        n = self.sql.executionsCount()
        last_exec = self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return last_job, last_exec

    def _settled_execution(self, eid: int, timeout_s: float = 5.0):
        """The SQL execution's status-store entry once adaptive execution's
        final plan is in it: that update can land after the job has
        returned, and the initial plan lists exchanges the final one drops."""
        t_end = time.perf_counter() + timeout_s
        while True:
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                return None
            e = opt.get()
            desc = e.physicalPlanDescription()
            if ("isFinalPlan=false" not in desc or not _EXCHANGE.search(desc)
                    or time.perf_counter() >= t_end):
                return e
            time.sleep(0.05)

    def between(self, before: tuple[int, int], after: tuple[int, int],
                sql_metrics: tuple[str, ...] = ()) -> dict:
        """Engine-side counts for the jobs and SQL executions started
        between two ``marks()``; ``sql_metrics`` names SQL metrics to sum.
        Scala collections cross py4j as one ``mkString`` each."""
        j0, e0 = before
        j1, e1 = after
        stage_ids: set[int] = set()
        tasks = failed = checkpoints = 0
        for jid in range(j0 + 1, j1 + 1):
            j = self.app.job(jid)
            tasks += j.numTasks()
            failed += j.numFailedTasks()
            checkpoints += "checkpoint" in j.name().lower()
            ids = j.stageIds().mkString(",")
            stage_ids.update(int(x) for x in ids.split(",") if x)
        run_ms = shuffle = spill = 0.0
        for sid in stage_ids:
            try:
                st = self.app.lastStageAttempt(sid)
            except Exception:  # a stage that was skipped has no attempt
                continue
            run_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
            spill += st.diskBytesSpilled()
        exchanges = 0
        sql = dict.fromkeys(sql_metrics, 0.0)
        for eid in range(e0 + 1, e1 + 1):
            e = self._settled_execution(eid)
            if e is None:
                continue
            exchanges += len(_EXCHANGE.findall(_final_plan(e.physicalPlanDescription())))
            if not sql_metrics:
                continue
            ids = {}
            for m in re.finditer(r"SQLPlanMetric\((.*?),(-?\d+),(\w+)\)", e.metrics().mkString("\n")):
                if m.group(1) in sql:
                    ids[m.group(2)] = m.group(1)
            values = self.sql.executionMetrics(eid).mkString("\u0001")
            for entry in values.split("\u0001"):
                acc, _, text = entry.partition(" -> ")
                if acc in ids:
                    sql[ids[acc]] += parse_metric(text)
        return {
            "tasks": tasks, "failed_tasks": failed, "checkpoints": checkpoints,
            "executor_run_ms": run_ms, "shuffle_bytes": shuffle, "spill_bytes": spill,
            "exchanges": exchanges, "sql": sql,
        }


# --- driver log ----------------------------------------------------------------


class DriverLog:
    """The JVM's stderr, captured to a file: the process's fd 2 points at
    the file before the JVM starts, so the JVM inherits it."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def console(self):
        """A text stream to the original stderr."""
        return os.fdopen(os.dup(self._saved), "w")

    def restore(self) -> None:
        os.dup2(self._saved, 2)
        os.close(self._saved)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def fallbacks(self, start: int, end: int | None = None) -> int:
        with open(self.path, "rb") as f:
            f.seek(start)
            data = f.read() if end is None else f.read(end - start)
        return data.count(CODEGEN_FALLBACK.encode())

    def tail(self, n: int = 40) -> str:
        with open(self.path, "rb") as f:
            lines = f.read().decode("utf-8", "replace").splitlines()
        return "\n".join(lines[-n:])


# --- memory --------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(b")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of every process this benchmark started (the
    driver JVM, the PySpark daemon and its Python workers): the sum of
    their high-water marks, sampled on a background thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = sum(_hwm_kb(p) for p in _descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0
