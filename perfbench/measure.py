"""Measurement helpers: percentiles, amplification ratios, process-tree
CPU/RSS accounting and the span tracer.

Everything here observes the engine from outside: wall clocks around calls
into its public functions, counters from the snapshot summaries those calls
return, and Spark's own job counter and status tracker.
"""

from __future__ import annotations

import os
import signal
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_SAMPLES_ABOVE = 10


# ------------------------------------------------------------ statistics


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n) of the highest percentile that still has
    ``TAIL_SAMPLES_ABOVE`` samples above it.

    In sorted order the value at rank ``n - 11`` (0-based) has exactly ten
    samples above it; its percentile is the share of samples at or below
    it. Fewer than eleven samples have no such percentile."""
    n = len(samples)
    if n <= TAIL_SAMPLES_ABOVE:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_SAMPLES_ABOVE}")
    rank = n - TAIL_SAMPLES_ABOVE - 1
    return 100.0 * (rank + 1) / n, sorted(samples)[rank], n


def write_amp(bytes_added: list[int], input_bytes: int) -> float:
    """Data bytes added by commits ÷ bytes of user input committed."""
    if input_bytes <= 0:
        raise ValueError("write_amp needs committed input bytes")
    return sum(bytes_added) / input_bytes


def space_amp(dir_bytes: int, live_bytes: int) -> float:
    """Bytes on disk under the table directories ÷ live data bytes."""
    if live_bytes <= 0:
        raise ValueError("space_amp needs live data bytes")
    return dir_bytes / live_bytes


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def quartile_report(values: list[float]) -> dict:
    """Median, quartiles, IQR/median and (max−min)/median of one metric."""
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med, "q1": q1, "q3": q3,
        "iqr_over_median": (q3 - q1) / med if med else 0.0,
        "range_over_median": (max(values) - min(values)) / med if med else 0.0,
        "n": len(values),
    }


# ------------------------------------------------------ process tree


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields after it start at ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_ticks(fields: list[str]) -> int:
    """utime + stime + cutime + cstime from a /proc/<pid>/stat tail.

    Children's times count once they are reaped, so a worker that exits
    inside the measured phase still lands in its parent's total."""
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += cpu_ticks(fields)
    return total / CLK_TCK


def become_subreaper() -> None:
    """Make descendants whose parent ends re-parent to this process rather
    than to init, so that :func:`stop_descendants` still finds and reaps
    them (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _reap_children() -> None:
    """Collect the exit status of every child of this process that ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(root: int, grace_s: float = 10.0, kill_wait_s: float = 10.0) -> list[int]:
    """Stop every descendant of ``root`` and wait until each has ended.

    Descendants get SIGTERM; whatever is still alive ``grace_s`` later gets
    SIGKILL. The tree is listed again on every poll, so a process forked
    meanwhile is stopped too, and a grandchild stays tracked after its
    parent ended and it was re-parented (to ``root`` if it is a subreaper,
    which then reaps it too). Returns the pids still alive after
    ``kill_wait_s`` more seconds (normally none)."""
    signalled: dict[int, int] = {}
    sig = signal.SIGTERM
    deadline = time.monotonic() + grace_s
    while True:
        _reap_children()
        live = {p for p in tree_pids(root) if p != root and _alive(p)}
        live |= {p for p in signalled if _alive(p)}
        if not live:
            return []
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                return sorted(live)
            sig, deadline = signal.SIGKILL, time.monotonic() + kill_wait_s
        for pid in live:
            if signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def cpu_times() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user … steal), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two samples that the hypervisor
    gave to other guests: the host contention a run saw."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of a process tree: per process the kernel's
    high-water mark (VmHWM), kept across samples so processes that exit
    still count, summed over processes."""

    def __init__(self, root: int):
        self.root = root
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in tree_pids(self.root):
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), hwm_kb(pid))

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    layer: str
    span_id: int
    parent: int | None
    step: int | None
    phase: str
    t0: float
    t1: float = 0.0
    # trace bookkeeping spent inside this span by descendants; subtracted
    # so that tracing does not inflate the numbers it reports
    book: float = 0.0
    jobs: tuple[int, int] | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0 - self.book


class SparkCounters:
    """Jobs, stages and tasks launched in a job-id range.

    The DAG scheduler numbers jobs globally, so a range taken around a call
    also covers jobs its pool threads launch, which thread-local job groups
    would miss. Only safe with one client at a time, as here."""

    def __init__(self, spark):
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()
        self._tracker = spark.sparkContext.statusTracker()
        self._cache: dict[int, tuple[int, int]] = {}

    def next_job_id(self) -> int:
        return int(self._sched.nextJobId())

    def stages_tasks(self, lo: int, hi: int) -> tuple[int, int]:
        stages = tasks = 0
        for job in range(lo, hi):
            if job not in self._cache:
                info = self._tracker.getJobInfo(job)
                s = t = 0
                for sid in (info.stageIds if info else ()):
                    st = self._tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        s += 1
                        t += st.numCompletedTasks
                self._cache[job] = (s, t)
            stages += self._cache[job][0]
            tasks += self._cache[job][1]
        return stages, tasks


class Tracer:
    """Keeps every span in memory; ``traced`` adds Spark job ranges and
    snapshot counters to each span (set up with :meth:`attach`)."""

    def __init__(self, traced: bool, run_id: str):
        self.traced = traced
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.step: int | None = None
        self.phase = "setup"
        self.counters: SparkCounters | None = None
        self.bookkeeping_s = 0.0
        self.last: Span | None = None

    def attach(self, spark) -> None:
        if self.traced:
            self.counters = SparkCounters(spark)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1].span_id if self.stack else None
        sp = Span(name, layer, len(self.spans), parent, self.step, self.phase, 0.0)
        self.spans.append(sp)
        self.stack.append(sp)
        if self.counters is not None:
            lo = self.counters.next_job_id()
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self.stack.pop()
            if self.counters is not None:
                sp.jobs = (lo, self.counters.next_job_id())
                sp.attrs["stages"], sp.attrs["tasks"] = self.counters.stages_tasks(*sp.jobs)
                self.charge(time.perf_counter() - sp.t1)

    def charge(self, seconds: float) -> None:
        """Book trace overhead against every open span."""
        self.bookkeeping_s += seconds
        for open_span in self.stack:
            open_span.book += seconds

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        with self.span(name, layer) as sp:
            out = fn(*args, **kwargs)
        sp.attrs.update(result_counters(out))
        self.last = sp
        return out

    def of(self, layer: str, phase: str | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.layer == layer and (phase is None or s.phase == phase)]

    def dump(self) -> list[dict]:
        return [{"run_id": self.run_id, "id": s.span_id, "parent": s.parent,
                 "name": s.name, "layer": s.layer, "step": s.step,
                 "phase": s.phase, "start": s.t0, "end": s.t1, "dur": s.dur,
                 "jobs": s.jobs, **s.attrs} for s in self.spans]


def result_counters(out) -> dict:
    """Counters a public call hands back: a snapshot summary (directly or
    inside a MergeResult), an ExpireResult, or a dict of counts."""
    if isinstance(out, dict):
        return {k: v for k, v in out.items() if isinstance(v, (int, float, str))}
    if hasattr(out, "expired_snapshots"):
        return {"expired": len(out.expired_snapshots),
                "deleted_data_files": out.deleted_data_files,
                "freed_bytes": out.freed_bytes}
    snap = out.snapshot if type(out).__name__ == "MergeResult" else out
    if type(snap).__name__ == "Snapshot":
        return {k: v for k, v in snap.summary.items() if isinstance(v, (int, float, str))}
    return {}
