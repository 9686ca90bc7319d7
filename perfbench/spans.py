"""Per-call spans read from Spark's in-process status store.

A traced call runs under its own job group, so the jobs it started are
exactly ``getJobIdsForGroup(<its group>)``; their stage metrics come from
``statusStore().lastStageAttempt`` (readable with ``spark.ui.enabled=false``,
and no extra Spark job runs). Between calls the driver sits in an "idle"
group: any job found there ran outside every span and is reported as
unattributed. Untraced runs set no job group and read nothing.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0

# generic per-call metrics, summed over a layer's calls in one operation
GENERIC = (
    "wall_s", "jobs", "stages", "stages_skipped", "task_s", "busy_frac",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)


class Tracer:
    """Collects one record per traced call: layer, op, wall, jobs, stage sums.

    Records stay in memory (``self.spans``) and are written out by the
    caller when the run ends. ``overhead_s`` is the time spent in this
    class's own bookkeeping (job-group switches and status-store reads),
    i.e. what tracing adds to an operation's wall time."""

    def __init__(self, sc, cores: int, enabled: bool):
        self.sc = sc
        self.cores = cores
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._seq = 0
        self._idle = None

    # -- job groups -------------------------------------------------------
    def _group(self, name: str) -> str:
        self._seq += 1
        return f"perfbench-{self._seq:05d}-{name}"

    def enter_group(self, name: str) -> str | None:
        """Put the driver's next jobs (outside any span) into a fresh group."""
        if not self.enabled:
            return None
        group = self._group(name)
        self.sc.setJobGroup(group, group)
        return group

    def enter_idle(self, op: int) -> None:
        """Start an operation: jobs outside spans land in its idle group."""
        self._idle = self.enter_group(f"idle-op{op}")

    def unattributed_jobs(self) -> int:
        if not self.enabled or self._idle is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(self._idle))

    @contextmanager
    def span(self, layer: str, op: int):
        """Time one public call; when tracing, attribute its jobs and stages."""
        if not self.enabled:
            yield
            return
        t = time.monotonic()
        group = self._group(layer)
        self.sc.setJobGroup(group, f"{layer} op{op}")
        t0 = time.monotonic()
        self.overhead_s += t0 - t
        try:
            yield
        finally:
            t1 = time.monotonic()
            self._record(layer, op, self.sc.statusTracker().getJobIdsForGroup(group), t1 - t0)
            if self._idle is not None:
                self.sc.setJobGroup(self._idle, self._idle)
            self.overhead_s += time.monotonic() - t1

    def record_jobs(self, layer: str, op: int, job_ids: list[int], wall: float) -> None:
        """Record a span over the given jobs: the session's warm-up jobs run
        inside SparkSession creation, before any group can be set."""
        if self.enabled:
            t1 = time.monotonic()
            self._record(layer, op, job_ids, wall)
            self.overhead_s += time.monotonic() - t1

    def _record(self, layer: str, op: int, job_ids, wall: float) -> None:
        rec = self._read_jobs(list(job_ids))
        rec.update(layer=layer, op=op, wall_s=wall)
        rec["busy_frac"] = rec["task_s"] / (wall * self.cores) if wall > 0 else 0.0
        self.spans.append(rec)

    def _read_jobs(self, job_ids: list[int]) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        # `stages` counts stages that ran. Which already-computed parent
        # stages a job lists as skipped depends on AQE's concurrent stage
        # submission, so `stages_skipped` can differ between identical runs.
        rec = dict(
            jobs=len(job_ids), stages=0, stages_skipped=0,
            task_s=0.0, shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0,
            shuffle_write_records=0, missing_stages=0,
        )
        for s in stage_ids:
            try:
                st = store.lastStageAttempt(s)
            except Py4JJavaError:  # NoSuchElementException: evicted from the store
                rec["missing_stages"] += 1
                continue
            if st.status().toString() == "SKIPPED":
                rec["stages_skipped"] += 1
                continue
            rec["stages"] += 1
            rec["task_s"] += st.executorRunTime() / 1000.0
            rec["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            rec["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            rec["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            rec["shuffle_write_records"] += st.shuffleWriteRecords()
        return rec

    def layer_totals(self, op: int) -> dict[str, dict]:
        """Generic metrics per layer for one operation (sums over its calls;
        busy_frac recomputed from the sums)."""
        out: dict[str, dict] = {}
        for rec in self.spans:
            if rec["op"] != op:
                continue
            agg = out.setdefault(rec["layer"], {k: 0.0 for k in GENERIC} | {
                "shuffle_write_records": 0, "missing_stages": 0})
            for k in GENERIC + ("shuffle_write_records", "missing_stages"):
                if k != "busy_frac":
                    agg[k] += rec[k]
        for agg in out.values():
            w = agg["wall_s"]
            agg["busy_frac"] = agg["task_s"] / (w * self.cores) if w > 0 else 0.0
        return out


# -- host-side measurements ---------------------------------------------------

def dir_mb(path: str) -> float:
    """Bytes under path (regular files, links not followed), in MB."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total / MB


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over root_pid (the driver JVM) and all its descendants
    (the PySpark daemon and its Python workers)."""
    kids = _children()
    todo, total = [root_pid], 0
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


def descendants(root_pid: int) -> list[int]:
    kids = _children()
    todo, out = list(kids.get(root_pid, ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out
