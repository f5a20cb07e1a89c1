"""Out-of-process instrumentation for the benchmark: layer spans with
Spark job-group attribution, per-stage engine counters read back from
Spark's status store, a process-tree RSS sampler and hypervisor steal.

Nothing here changes what the engine executes. A span only sets the
Spark job group of the calling thread, so every job its body launches
is tagged; after the run the tagged jobs' stages are summed per span."""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)

COUNTERS = ("cpu_s", "shuffle_write_mb", "spill_mb", "gc_s", "spark_jobs")


@dataclass
class Span:
    name: str
    layer: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    rows: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory until the run ends. Spans nest (a child's
    interval lies inside its parent's); a span's self time is its wall
    minus its children's walls."""

    def __init__(self, sc):
        self._sc = sc
        self._stack: list[int] = []
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, layer=layer, group=f"perfbench-{len(self.spans)}",
                  parent=parent, start=time.monotonic())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self._sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                up = self.spans[parent]
                self._sc.setJobGroup(up.group, up.name)

    def self_time(self, sp: Span) -> float:
        idx = self.spans.index(sp)
        return sp.wall - sum(c.wall for c in self.spans if c.parent == idx)

    def layer_self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.layer] += self.self_time(sp)
        return out

    def top_level_wall(self) -> float:
        return sum(sp.wall for sp in self.spans if sp.parent is None)

    def rows(self) -> dict[str, float]:
        """Row counts of all spans, summed per key."""
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            for k, v in sp.rows.items():
                out[k] += v
        return out

    def layer_counters(self, sc) -> dict[str, dict[str, float]]:
        """Engine counters summed per layer over the stages its spans'
        jobs ran."""
        by_group = stage_counters(sc)
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            acc = out.setdefault(sp.layer, dict.fromkeys(COUNTERS, 0.0))
            for k, v in by_group.get(sp.group, {}).items():
                acc[k] += v
        return out


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def stage_counters(sc) -> dict[str, dict[str, float]]:
    """job group -> summed stage counters, from the status store (works
    with the UI disabled). A stage reused by a later job (AQE, reused
    exchange) is charged once, to the earliest job that lists it — the
    one that ran it."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    owner: dict[int, tuple[int, str]] = {}
    jobs_per_group: dict[str, int] = defaultdict(int)
    for job in _seq(store.jobsList(jvm.java.util.ArrayList())):
        g = job.jobGroup()
        if g.isEmpty():
            continue
        group, jid = g.get(), job.jobId()
        jobs_per_group[group] += 1
        for sid in _seq(job.stageIds()):
            if sid not in owner or jid < owner[sid][0]:
                owner[sid] = (jid, group)
    out: dict[str, dict[str, float]] = {
        g: dict.fromkeys(COUNTERS, 0.0) for g in jobs_per_group}
    for g, n in jobs_per_group.items():
        out[g]["spark_jobs"] = float(n)
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    for st in _seq(stages):
        hit = owner.get(st.stageId())
        if hit is None:
            continue
        c = out[hit[1]]
        c["cpu_s"] += st.executorCpuTime() / 1e9
        c["gc_s"] += st.jvmGcTime() / 1e3
        c["shuffle_write_mb"] += st.shuffleWriteBytes() / (1 << 20)
        c["spill_mb"] += st.diskBytesSpilled() / (1 << 20)
    return out


def descendants(root: int) -> list[int]:
    """`root` and every live process below it (the JVM and the Python
    workers it forks)."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_mb(root: int) -> float:
    """RSS summed over `root` and its descendants. A child that still
    runs the root's executable is a JVM child between vfork and exec
    (Hadoop's local file system spawns shell commands); it shares the
    JVM's address space, so counting it would add the JVM twice."""
    total = 0.0
    try:
        root_exe = os.readlink(f"/proc/{root}/exe")
    except OSError:
        return total
    for pid in descendants(root):
        try:
            if pid != root and os.readlink(f"/proc/{pid}/exe") == root_exe:
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE_MB
        except OSError:
            continue
    return total


class RssSampler:
    """Peak process-tree RSS over the interval between start() and
    stop(), sampled every `interval` seconds on a daemon thread."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self._root = root_pid
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(self._root))
            if self._stop.wait(self._interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, _tree_rss_mb(self._root))
        return self.peak_mb


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(since: tuple[int, int]) -> float:
    steal, total = cpu_jiffies()
    d_total = total - since[1]
    return 100.0 * (steal - since[0]) / d_total if d_total > 0 else 0.0
