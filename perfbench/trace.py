"""Measurement helpers: process-tree CPU and RSS from /proc, host weather,
and the traced-mode span recorder that attributes Spark jobs to calls.

Nothing here starts a thread or touches Spark at import time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; everything after the last ')' is fixed-format
    return [raw[: raw.index("(")].strip()] + raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        kids.setdefault(int(st[2]), []).append(int(name))
    return kids


def descendants(root: int | None = None, kids: dict[int, list[int]] | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process), parents first."""
    root = os.getpid() if root is None else root
    kids = _children_map() if kids is None else kids
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (zombies count as ended)."""
    st = _stat(pid)
    return st is not None and st[1] != "Z"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _subtree_cpu(pid: int, kids: dict[int, list[int]]) -> float:
    """utime+stime of ``pid``, its reaped children and its live subtree."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # _stat index = proc(5) field number - 2: utime 12, stime 13, cutime 14, cstime 15
    own = int(st[12]) + int(st[13]) + int(st[14]) + int(st[15])
    total = own / _TICK
    for c in kids.get(pid, []):
        total += _subtree_cpu(c, kids)
    return total


def cpu_split() -> dict[str, float]:
    """CPU seconds of this process tree, split into the python driver, the
    JVM (its own threads) and the python workers the JVM forks (daemon and
    workers, reaped ones included).  Monotone across worker restarts."""
    me = os.getpid()
    kids = _children_map()
    st = _stat(me)
    driver = (int(st[12]) + int(st[13])) / _TICK if st else 0.0
    jvm = workers = 0.0
    for pid in descendants(me, kids):
        if "java" not in _cmdline(pid).split(" ", 1)[0]:
            continue
        js = _stat(pid)
        if js is None:
            continue
        jvm += (int(js[12]) + int(js[13])) / _TICK
        # the JVM's reaped children and live subtree are python workers
        jvm_reaped = (int(js[14]) + int(js[15])) / _TICK
        workers += jvm_reaped + sum(_subtree_cpu(c, kids) for c in kids.get(pid, []))
    return {"driver": driver, "jvm": jvm, "python_workers": workers,
            "total": driver + jvm + workers}


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_split() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of this process tree, split into the
    python driver, the JVM and the python workers the JVM forks (live ones
    only), and their sum."""
    me = os.getpid()
    kids = _children_map()
    kb = {"driver": _hwm_kb(me), "jvm": 0, "python_workers": 0}
    for pid in descendants(me, kids):
        if "java" in _cmdline(pid).split(" ", 1)[0]:
            kb["jvm"] += _hwm_kb(pid)
            kb["python_workers"] += sum(_hwm_kb(c) for c in descendants(pid, kids))
    out = {k: v / 1024.0 for k, v in kb.items()}
    out["total"] = sum(out.values())
    return out


class Weather:
    """Host conditions across a run: steal jiffies and load average.  On a
    shared host the same work swings several-fold in wall time; a run with
    high steal or load is identifiable from these numbers."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.steal0, self.total0 = self._jiffies()
        self.load0 = os.getloadavg()

    @staticmethod
    def _jiffies() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)

    def report(self) -> dict:
        steal, total = self._jiffies()
        d_total = max(total - self.total0, 1)
        return {
            "wall_s": round(time.monotonic() - self.t0, 3),
            "steal_jiffies": steal - self.steal0,
            "steal_frac": round((steal - self.steal0) / d_total, 4),
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "ncpu": os.cpu_count(),
        }


_STAGE_FIELDS = {
    # StageData accessor → metric name (times converted to seconds below)
    "executorCpuTime": "executor_cpu_s",  # ns
    "executorRunTime": "executor_run_s",  # ms
    "jvmGcTime": "gc_s",  # ms
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "inputRecords": "input_rows",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numTasks": "tasks",
}
_SCALE = {"executorCpuTime": 1e-9, "executorRunTime": 1e-3, "jvmGcTime": 1e-3}


class Tracer:
    """Records spans (name, layer, start, end, parent, run id) around calls
    into the engine.  When enabled, each span also carries the Spark jobs
    submitted while it was open, found by job-id range so jobs the engine
    submits from its own thread pools are included, their stage metrics
    from the status store, and the process tree's CPU split.  Disabled,
    a span keeps wall time and the CPU split, so the untraced run pays no
    status-store reads and no listener-bus waits."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._t0 = time.perf_counter()
        #: wall time spent reading the status store after spans
        self.bookkeeping_s = 0.0

    def _job_ids(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def _stage_metrics(self, job_ids: list[int]) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        out = {v: 0.0 for v in _STAGE_FIELDS.values()}
        out["jobs"] = len(job_ids)
        out["stages"] = 0
        seen: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store or never run
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for acc, name in _STAGE_FIELDS.items():
                    out[name] += getattr(sd, acc)() * _SCALE.get(acc, 1)
        return out

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {
            "name": name,
            "layer": layer,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        if self.enabled:
            ids = self._job_ids()
            first_job = max(ids) + 1 if ids else 0
        cpu0 = cpu_split()
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            rec["start"] = round(start - self._t0, 6)
            rec["end"] = round(end - self._t0, 6)
            rec["wall_s"] = end - start
            cpu1 = cpu_split()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
            if self.enabled:
                jobs = [j for j in self._job_ids() if j >= first_job]
                rec["spark"] = self._stage_metrics(jobs)
                self.bookkeeping_s += time.perf_counter() - end

    def by_layer(self, layer: str, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == layer and (name is None or s["name"] == name)
        ]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
