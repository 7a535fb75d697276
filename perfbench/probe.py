"""Measurement helpers: tail percentile, peak memory, the engine's CPU time,
host CPU steal, spans, and per-job-group stage counters read from Spark's
status store.

Nothing here touches the package; the traced run wraps the benchmark's own
calls into it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that still has at least ten
    samples above it: ``(value, percentile, samples_beyond)``.

    With ``n`` samples sorted ascending that is the sample at index
    ``n - 11`` (percentile ``100 * (n - 10) / n``). Below forty samples
    that percentile falls under p75, so the number of samples required
    beyond it drops to a quarter of ``n``; below four samples the
    maximum is returned with 0 beyond it."""
    xs = sorted(latencies)
    n = len(xs)
    beyond = min(10, n // 4)
    return xs[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process in MB, from ``/proc``."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(path: str) -> tuple[str, list[str]]:
    """``(comm, fields after comm)`` of a ``/proc/.../stat`` file."""
    text = Path(path).read_text()
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 2:].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and all
    its descendants: the JVM, the Python workers, and the children they
    have already reaped."""
    own, kids = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            _, f = _stat(f"/proc/{d}/stat")
        except OSError:  # the process ended while we looked
            continue
        own[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        kids.setdefault(int(f[1]), []).append(int(d))
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += own.get(pid, 0)
        todo += kids.get(pid, [])
    return ticks / CLK_TCK


class EngineCpu:
    """Cumulative CPU seconds of the engine: this process and all its
    descendants (:func:`tree_cpu_s`) less the JVM's JIT compiler threads.

    Time the hypervisor steals from the guest's CPUs, and time a thread
    waits to be woken, is charged to no process, so on a shared host this
    follows the work an op does more closely than its wall time. The
    JIT compiler threads are left out because their work follows the
    JVM's age, not the op: they burn several CPU seconds per op in a new
    JVM and less with every op after. A compiler thread that exits keeps
    the CPU time it was last seen with."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._jit: dict[str, int] = {}  # compiler thread id -> ticks last seen

    def __call__(self) -> float:
        total = tree_cpu_s()
        task = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task):
            try:
                comm, f = _stat(f"{task}/{tid}/stat")
            except OSError:
                continue
            if "CompilerThre" in comm:  # "C1 CompilerThre", "C2 CompilerThre"
                self._jit[tid] = int(f[11]) + int(f[12])
        return total - sum(self._jit.values()) / CLK_TCK


def steal_share(since: tuple[int, int] | None = None):
    """Host CPU steal from the first line of ``/proc/stat``. Without
    ``since``, returns the counters ``(steal, total)`` to pass back later;
    with it, the share of CPU time stolen in between."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    now = (f[7], sum(f))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


class NullTracer:
    """Tracer used by untraced ops: every hook is free."""

    @contextmanager
    def span(self, name: str):
        yield

    @contextmanager
    def layer(self, layer: str):
        yield

    def adopt(self, group: str) -> None:
        pass


class Tracer:
    """Spans around public calls plus job groups per layer.

    A span is ``name, start, end, parent, op``. Spans stay in memory and
    are written out once, at the end of the run. ``layer()`` tags every
    Spark action inside it with the job group ``<workload>:<op>:<layer>``
    so :meth:`stage_totals` can read that layer's counters back; a
    nested layer's jobs also count toward the layers around it."""

    def __init__(self, spark, workload: str):
        self.spark, self.workload = spark, workload
        self.op = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._layers: list[str] = []
        self.groups: dict[str, tuple] = {}  # job group -> (op, layer path)
        self.action_t0: dict[str, float] = {}

    def group_id(self, layer: str) -> str:
        return f"{self.workload}:{self.op}:{layer}"

    def adopt(self, group: str) -> None:
        """Count a foreign job group (a streaming query's run id) under
        the layers open now."""
        self.groups[group] = (self.op, tuple(self._layers))

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": self.op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def layer(self, layer: str):
        sc = self.spark.sparkContext
        gid = self.group_id(layer)
        outer = self.group_id(self._layers[-1] if self._layers else "untagged")
        self._layers.append(layer)
        self.groups[gid] = (self.op, tuple(self._layers))
        sc.setJobGroup(gid, gid)
        self.action_t0.setdefault(gid, time.time())
        try:
            with self.span(f"layer:{layer}"):
                yield
        finally:
            self._layers.pop()
            sc.setJobGroup(outer, outer)

    def span_seconds(self, name: str) -> float:
        """Total duration of this op's spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["op"] == self.op and s["end"])

    def stage_totals(self, layer: str) -> dict[str, float]:
        """Sum the status-store counters of every job in this op's job
        group for ``layer``. Waits for the listener bus first so the
        store has seen every job end."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gids = [g for g, (op, path) in self.groups.items()
                if op == self.op and layer in path]
        tot = dict(jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                   shuffle_mb=0.0, spill_mb=0.0, input_mb=0.0, scan_stages=0,
                   scan_tasks=0, first_submit=None)
        seen = set()
        jids = {j for g in gids for j in sc.statusTracker().getJobIdsForGroup(g)}
        for jid in sorted(jids):
            job = store.job(jid)
            tot["jobs"] += 1
            sub = job.submissionTime()
            if sub.isDefined():
                t = sub.get().getTime() / 1000.0
                if tot["first_submit"] is None or t < tot["first_submit"]:
                    tot["first_submit"] = t
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, None, False, None)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status().toString()) in ("SKIPPED", "PENDING"):
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks()
                    tot["run_s"] += st.executorRunTime() / 1e3
                    tot["cpu_s"] += st.executorCpuTime() / 1e9
                    tot["gc_s"] += st.jvmGcTime() / 1e3
                    tot["shuffle_mb"] += st.shuffleWriteBytes() / 2**20
                    tot["spill_mb"] += (st.memoryBytesSpilled()
                                        + st.diskBytesSpilled()) / 2**20
                    if st.inputBytes() > 0:
                        tot["scan_stages"] += 1
                        tot["scan_tasks"] += st.numCompleteTasks()
                        tot["input_mb"] += st.inputBytes() / 2**20
        return tot

    def plan_s(self, layer: str, first_submit: float | None) -> float:
        """Driver time from entering ``layer`` until its first job was
        submitted (plan building, analysis, optimisation)."""
        t0 = self.action_t0.get(self.group_id(layer))
        if t0 is None or first_submit is None:
            return 0.0
        return max(0.0, first_submit - t0)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def noop(df) -> float:
    """Materialize ``df`` to the noop sink; return the wall seconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
