"""Resource probes: CPU time and RSS of this process tree from /proc, and
Spark executor counters per job group from the status store.

The process tree is this Python process, the JVM it launched and the JVM's
Python workers; together they are everything a local-mode pipeline run
costs on the host.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime+stime of the processes, plus what their reaped children
    used (cutime+cstime), in seconds."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 1e6


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


_SAMPLE_S = 0.1  # RSS sampling period
_RELIST = 10  # re-list the process tree every this many samples


class TreeMeter:
    """CPU seconds and peak RSS of this process tree over one interval.

    A daemon thread samples the summed RSS every ``_SAMPLE_S`` seconds and
    re-lists the tree every ``_RELIST`` samples, so Python workers the JVM
    forks during the interval are counted."""

    def __init__(self):
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss_mb = 0.0
        self._cpu0 = 0.0
        self.cpu_s = 0.0

    def __enter__(self) -> "TreeMeter":
        pids = tree_pids(os.getpid())
        self._cpu0 = tree_cpu_s(pids)
        self.peak_rss_mb = tree_rss_mb(pids)
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def _sample(self) -> None:
        n, pids = 0, tree_pids(os.getpid())
        while not self._stop.wait(_SAMPLE_S):
            n += 1
            if n % _RELIST == 0:
                pids = tree_pids(os.getpid())
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(pids))

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        pids = tree_pids(os.getpid())
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(pids))
        self.cpu_s = tree_cpu_s(pids) - self._cpu0


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------

STAGE_COUNTERS = ("stages", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_w_mb", "spill_mb", "output_mb")


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs of one job group and the executor counters of their stages,
    read from the status tracker and the status store (both work with the
    UI disabled). Stages a job skipped are not in the store and add
    nothing."""
    sc = spark.sparkContext
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    out = dict.fromkeys(STAGE_COUNTERS, 0.0)
    out["jobs"] = float(len(jobs))
    store = sc._jsc.sc().statusStore()
    seen = set()
    for jid in jobs:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_w_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            out["output_mb"] += st.outputBytes() / 1e6
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of the query behind ``df`` (after its
    action ran): analysis, optimization, planning."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"{name}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out
