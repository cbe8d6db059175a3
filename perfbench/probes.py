"""Measurement helpers that sit outside the library: spans, Spark job
statistics from the status store, process memory, host load and leak
counters.  Nothing here changes what the library does.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, request id).

    Disabled, ``span`` only yields, so the untraced run pays nothing but
    a generator per call.  Enabled, each span also puts the calls it
    wraps in their own Spark job group, so the status store can split a
    request's jobs by layer.
    """

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "req": self.request,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"pb-{self.request}-{sid}", "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self.spans[self._stack[-1]]["group"],
                                        self.spans[self._stack[-1]]["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def request_spans(self, req) -> list[dict]:
        return [s for s in self.spans if s["req"] == req]

    def self_time(self, span: dict) -> float:
        """Duration minus the part covered by direct children (children
        of one span never overlap: calls are sequential)."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(
            k["end"] - k["start"] for k in kids)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def group_jobs(sc, group: str, timeout_s: float = 10.0) -> list[dict]:
    """Finished jobs of a job group with their stage metrics, read from
    the status store (which is kept with the UI off).  Waits for the
    listener bus to post each job's end."""
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        deadline = time.monotonic() + timeout_s
        while True:
            jd = store.job(jid)
            end = _opt(jd.completionTime())
            if end is not None or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        start = _opt(jd.submissionTime())
        job = {"id": jid,
               "start": start.getTime() / 1e3 if start else None,
               "end": end.getTime() / 1e3 if end else None,
               "stages": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
               "shuffle_write": 0, "shuffle_read": 0, "spill": 0}
        ids = jd.stageIds()
        for i in range(ids.length()):
            st = store.lastStageAttempt(ids.apply(i))
            if st.status().toString() == "SKIPPED":
                continue
            job["stages"] += 1
            job["tasks"] += st.numCompleteTasks()
            job["run_s"] += st.executorRunTime() / 1e3
            job["gc_s"] += st.jvmGcTime() / 1e3
            job["shuffle_write"] += st.shuffleWriteBytes()
            job["shuffle_read"] += st.shuffleReadBytes()
            job["spill"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
        out.append(job)
    return out


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if None not in i):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jvm_heap_peak_mb(sc, reset: bool = False) -> float:
    """Sum of the heap pools' peak usage since the last reset."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    total = 0
    for i in range(pools.size()):
        p = pools.get(i)
        if p.getType().toString() != "Heap memory":
            continue
        if reset:
            p.resetPeakUsage()
        else:
            total += p.getPeakUsage().getUsed()
    return total / 2**20


def jvm_gc_jit_s(sc) -> tuple[float, float]:
    """The driver JVM's total GC time and JIT compilation time (s)."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    gc = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
    return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


def persisted_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


def catalog_tables(spark) -> int:
    return len(spark.catalog.listTables())


def dir_bytes(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                n += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return n


# ---------------------------------------------------------------------------
# processes and host
# ---------------------------------------------------------------------------

def _children() -> dict:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended: only its exit status
    waits to be collected)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM that PySpark launched and every process under it
    (its Python workers), and wait until each has ended.

    ``SparkSession.stop`` leaves the JVM up; on its own it exits only
    after this process does, when it reads the end of its stdin pipe.
    Closing that pipe here makes it exit now; whatever is still running
    at ``timeout_s`` is killed."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    me = os.getpid()
    tree = [p for p in process_tree(me) if p != me]
    try:
        gw.shutdown()
    except Exception:  # the JVM may be gone already
        pass
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10.0
    sig = signal.SIGTERM
    while True:
        left = [p for p in tree if _alive(p)]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def tree_rss_mb(root: int, field: str = "VmHWM") -> float:
    """Sum of ``field`` (VmHWM = peak resident set) over the process
    tree of ``root``: this Python, the JVM and its Python workers."""
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


def host_load() -> dict:
    """CPU pressure (PSI some avg10), the 1-minute load average and the
    CPU time stolen from this machine so far (s): context for reading a
    run, never used to gate or re-time it."""
    out = {"psi_avg10": None, "loadavg_1m": None, "steal_s": None}
    try:
        with open("/proc/stat") as f:
            out["steal_s"] = int(f.readline().split()[8]) / os.sysconf(
                "SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            out["psi_avg10"] = float(f.readline().split("avg10=")[1].split()[0])
    except (OSError, IndexError, ValueError):
        pass
    try:
        out["loadavg_1m"] = os.getloadavg()[0]
    except OSError:
        pass
    return out
