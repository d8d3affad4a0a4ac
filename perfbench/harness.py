"""Measurement helpers for the benchmark, all observing the program
from outside.

- :class:`ProcTree` — CPU, peak RSS and Python-worker CPU of this
  process tree (driver, local-mode JVM, ``pyspark.daemon`` workers),
  read from ``/proc``. CPU stays monotone when a worker exits.
- :class:`JvmThreadCpu` — CPU of the JVM's GC and JIT compiler
  threads, made monotone across thread exits.
- :func:`host_steal` — CPU time the hypervisor gave to other guests.
- :class:`Tracer` / :func:`self_time` — in-memory spans (name, start,
  end, parent, iteration) at the layer boundaries the harness calls.
- :func:`stage_metrics` / :func:`storage_info` — per-stage executor
  metrics for a set of Spark jobs, and the cached relations, read
  from the driver's status store.
- :func:`row_hash` — an order-insensitive output digest taken with
  ``DataFrame.observe`` so no extra action runs.
- :func:`percentile` — a percentile that carries its sample count.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterator

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: process tree CPU, RSS, Python workers
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ProcStat:
    ppid: int
    own: int      # utime + stime, clock ticks
    reaped: int   # cutime + cstime: CPU of children this process waited for


def read_proc() -> dict[int, ProcStat]:
    """pid -> ProcStat for every process visible in /proc."""
    out: dict[int, ProcStat] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        # comm may contain spaces or parens: split after the last ')'
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(d)] = ProcStat(
            int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])
        )
    return out


def descendants(root: int, table: dict[int, ProcStat]) -> list[int]:
    """``root`` and every process below it in ``table``."""
    kids: dict[int, list[int]] = {}
    for pid, st in table.items():
        kids.setdefault(st.ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """CPU and memory of the process tree rooted at ``root``.

    Tree CPU is, per live process, its own CPU plus the CPU of the
    children it has reaped. A worker that exits and is reaped by a
    live parent moves into that parent's reaped CPU, so nothing is
    lost or counted twice. A process that leaves the tree without
    its CPU reappearing in a live parent (its parent died too, or it
    was re-parented outside the tree) is credited with its last
    reading, and the total never decreases between samples.
    """

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self._prev: dict[int, ProcStat] = {}
        self._departed = 0
        self._last = 0
        self._hwm_kb: dict[int, int] = {}

    def cpu_s(self, table: dict[int, ProcStat] | None = None) -> float:
        table = read_proc() if table is None else table
        cur = {pid: table[pid] for pid in descendants(self.root, table)}
        gone = [pid for pid in self._prev if pid not in cur]
        absorbed: dict[int, int] = {}
        for pid in gone:
            st = self._prev[pid]
            parent, before = cur.get(st.ppid), self._prev.get(st.ppid)
            room = (parent.reaped - before.reaped) if parent and before else 0
            room -= absorbed.get(st.ppid, 0)
            moved = max(0, min(room, st.own + st.reaped))
            absorbed[st.ppid] = absorbed.get(st.ppid, 0) + moved
            self._departed += st.own + st.reaped - moved
        self._prev = cur
        total = self._departed + sum(st.own + st.reaped for st in cur.values())
        self._last = max(self._last, total)
        return self._last / _CLK_TCK

    def worker_cpu_s(self, table: dict[int, ProcStat] | None = None) -> float:
        """CPU of every ``pyspark.daemon`` subtree (the Python/Arrow
        workers behind pandas and Python UDFs) in this tree."""
        table = read_proc() if table is None else table
        total = 0
        for pid in descendants(self.root, table):
            if "pyspark.daemon" in _cmdline(pid):
                total += sum(
                    table[p].own + table[p].reaped for p in descendants(pid, table)
                )
        return total / _CLK_TCK

    def peak_rss_mb(self) -> float:
        """Sum of VmHWM over the tree's processes other than the
        root (the JVM and its Python workers), each process's
        high-water remembered across its exit."""
        for pid in descendants(self.root, read_proc()):
            if pid != self.root:
                self._hwm_kb[pid] = max(self._hwm_kb.get(pid, 0), _vm_hwm_kb(pid))
        return sum(self._hwm_kb.values()) / 1024.0


# HotSpot G1 names its stop-the-world workers "GC Thread#n" and its
# concurrent threads "G1 ..."; JIT compiler threads are "C1/C2
# CompilerThre" (comm is truncated at 15 characters).
_GC_PREFIXES = ("GC Thread", "G1 ")
_JIT_PREFIXES = ("C1 Compiler", "C2 Compiler")


def host_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine from
    ``/proc/stat``: the time the hypervisor ran other guests on this
    VM's CPUs, and all CPU time. Their deltas over a window give the
    share of the machine lost to neighbours."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class JvmThreadCpu:
    """(gc_cpu_s, jit_cpu_s) of the JVMs in a process tree.

    Java 17 retires idle compiler threads, and their CPU would vanish
    from a sum over live threads; each thread's highest reading is
    kept instead, so both totals are monotone."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self._ticks: dict[tuple[int, int, bool], int] = {}

    def sample(self) -> tuple[float, float]:
        for pid in descendants(self.root, read_proc()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() != "java":
                        continue
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        comm = f.read().strip()
                    if comm.startswith(_GC_PREFIXES):
                        is_gc = True
                    elif comm.startswith(_JIT_PREFIXES):
                        is_gc = False
                    else:
                        continue
                    with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                        raw = f.read().decode("ascii", "replace")
                except OSError:
                    continue
                rest = raw[raw.rindex(")") + 2:].split()
                key = (pid, int(tid), is_gc)
                self._ticks[key] = max(self._ticks.get(key, 0), int(rest[11]) + int(rest[12]))
        gc = sum(v for (_, _, g), v in self._ticks.items() if g)
        jit = sum(v for (_, _, g), v in self._ticks.items() if not g)
        return gc / _CLK_TCK, jit / _CLK_TCK


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    iteration: str


@dataclass
class Tracer:
    """Spans kept in memory, written out once at the end of a run.
    A disabled tracer records nothing and costs one branch."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    iteration: str = "setup"
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        s = Span(
            len(self.spans), name, time.monotonic(), math.nan,
            self._stack[-1] if self._stack else None, self.iteration,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.monotonic()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of its interval that the
    children cover (overlapping children count once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Pct:
    value: float
    n: int


def percentile(values: list[float], q: float) -> Pct:
    """The ``q``-th percentile (0..100, linear interpolation between
    closest ranks) of ``values``, with the number of samples it rests
    on. An empty sample gives NaN with n = 0."""
    xs = sorted(values)
    if not xs:
        return Pct(math.nan, 0)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return Pct(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs))


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

STAGE_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "input_bytes", "input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "stage_skew_max",
)


def jobs_for_group(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def stage_metrics(sc, job_ids: list[int]) -> dict[str, float]:
    """Executor metrics summed over the distinct stages the jobs ran
    (skipped stages excluded). ``stage_skew_max`` is the largest
    max/median task run time over those stages."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    out["jobs"] = float(len(job_ids))
    seen: set[int] = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["jvm_gc_s"] += st.jvmGcTime() / 1e3
            out["input_bytes"] += st.inputBytes()
            out["input_rows"] += st.inputRecords()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
            summ = store.taskSummary(sid, st.attemptId(), qs)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                out["stage_skew_max"] = max(out["stage_skew_max"], mx / max(med, 1.0))
    return out


def storage_info(sc) -> tuple[int, int]:
    """(cached relations, cached bytes in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


def persistent_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


# ---------------------------------------------------------------------------
# Output digests
# ---------------------------------------------------------------------------

def row_hash(df):
    """Per-row 64-bit digest Column over every column of ``df``.
    Floating-point values enter as 10 significant digits, so a
    last-bit difference in a double does not change it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.format_string("%.10g", c)
        cols.append(c)
    return F.xxhash64(*cols) if cols else F.lit(0).cast("long")


def observe_digest(df, name: str, *extra):
    """(df', Observation) — ``df'`` carries an observation of its row
    count, the sum of :func:`row_hash` (an order-insensitive digest)
    and any ``extra`` aggregate Columns, filled in when an action over
    ``df'`` completes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash(df).cast("decimal(38,0)")).alias("digest"),
        *extra,
    )
    return out, obs


def digest_of(obs) -> tuple[int, int]:
    got = obs.get
    return int(got["rows"]), int(got["digest"] or 0)

