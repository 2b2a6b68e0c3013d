"""Measurement plumbing: layer spans, Spark job/task and py4j counts, the
process-tree CPU/RSS sampler and the host stamp.

Spans are recorded only from the benchmark's own files: around its calls
into the package, and around package functions it temporarily wraps
(`Tracer.wrap`). Each span runs under its own Spark job group, so the jobs
and tasks it caused are read back from the StatusTracker afterwards.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import threading
import time

import numpy as np

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans {id, name, parent, job, start, end, py4j, group}.

    `name` is `<layer>.<what>`. Disabled tracers record nothing and leave
    the Spark job group alone."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.enabled = False
        self.job = None
        self.py4j = 0
        self._stack: list[dict] = []
        self._patches: list = []
        client = sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*a, **k):
            self.py4j += 1
            return send(*a, **k)

        self._client, self._send = client, send
        client.send_command = counting_send

    def close(self) -> None:
        self.unwrap_all()
        self._client.send_command = self._send

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "job": self.job,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"perfbench-{os.getpid()}-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        p0, rec["start"] = self.py4j, time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j - p0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name, plan: bool = False) -> None:
        """Replace `owner.attr` by a spanned call until `unwrap_all`. `name`
        is a span name or a function of the call's arguments returning one;
        `plan` marks calls that only build a plan."""
        orig = getattr(owner, attr)

        def spanned(*a, **k):
            with self.span(name(*a, **k) if callable(name) else name) as rec:
                if rec is not None and plan:
                    rec["plan"] = True
                return orig(*a, **k)

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def jobs_tasks(self, rec: dict) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for jid in st.getJobIdsForGroup(rec["group"]):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage is not None else 0
        return jobs, tasks

    def job_spans(self, job) -> list[dict]:
        return [s for s in self.spans if s["job"] == job and "end" in s]


def self_times(spans: list[dict]) -> dict:
    """Layer -> summed self time (span duration minus its children's)."""
    child: dict = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out


def subtree(spans: list[dict], root: dict) -> list[dict]:
    ids, out = {root["id"]}, [root]
    for s in spans:  # spans are stored in start order, parents first
        if s["parent"] in ids and s["id"] not in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def proc_table() -> dict:
    """pid -> the fields of /proc/<pid>/stat after the command name
    ([0] state, [1] parent pid, [11:15] CPU ticks, [19] start time)."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        procs[int(pid)] = raw[raw.rindex(")") + 2:].split()
    return procs


def subtree_pids(procs: dict, root: int) -> list[int]:
    """`root` and every process below it in `procs`."""
    kids: dict = {}
    for pid, fields in procs.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs:
            out.append(pid)
        frontier.extend(kids.get(pid, ()))
    return out


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants
    (PR_SET_CHILD_SUBREAPER): a process whose parent exits, such as the
    launcher that `spark-submit` leaves as the JVM's zombie child, is
    re-parented here, where `stop_descendants` reaps it."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_descendants(grace: float = 30.0) -> None:
    """End every process this one started (the JVM, the Python worker
    daemon and its workers) and wait until each has ended.

    The JVM is asked first: its stdin closes, so it runs its shutdown hooks
    and exits. Whatever still runs after `grace` seconds is sent SIGTERM,
    then SIGKILL. Processes are remembered by (pid, start time) from the
    first look on, and one has ended only when it is gone from /proc:
    zombies count as running until reaped (see `adopt_orphans`)."""
    from pyspark import SparkContext

    me, seen = os.getpid(), set()

    def running() -> list[int]:
        procs = proc_table()
        seen.update((p, procs[p][19]) for p in subtree_pids(procs, me) if p != me)
        while True:  # reap this process's own exited children
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        procs = proc_table()
        return [p for p, start in seen if p in procs and procs[p][19] == start]

    running()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()
        with contextlib.suppress(Exception):
            gateway.close()
        # a later session in this process starts a JVM of its own
        SparkContext._gateway = SparkContext._jvm = None
    for sig, wait in ((None, grace), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = running()
        for p in pids if sig is not None else ():
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        deadline = time.monotonic() + wait
        while pids and time.monotonic() < deadline:
            time.sleep(0.05)
            pids = running()
        if not pids:
            return


class ProcTree:
    """CPU seconds and resident memory of this process and its descendants
    (the JVM, the Python worker daemon and its workers), read from /proc.
    A sampler thread keeps the peak memory; CPU is read at job boundaries."""

    def __init__(self, interval: float = 0.25):
        self.root = os.getpid()
        self.interval = interval
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="proctree", daemon=True)

    def _tree(self) -> list[tuple[int, list[str]]]:
        procs = proc_table()
        return [(pid, procs[pid]) for pid in subtree_pids(procs, self.root)]

    def cpu_s(self) -> float:
        # utime, stime, cutime, cstime: reaped workers land in their parent
        return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for _, f in self._tree()) / CLK_TCK

    def rss_mb(self) -> float:
        """Proportional resident memory (PSS) of the tree: pages shared by
        the forked Python workers count once, not once per worker."""
        kb = 0
        for pid, _ in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, self.rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_stamp() -> dict:
    """CPU busy-loop seconds and a 64 MB copy rate: recorded with each run so
    a reader can weigh its numbers; never gated."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    busy = time.perf_counter() - t0
    src = np.ones(64 * 2**20 // 8)
    t0 = time.perf_counter()
    for _ in range(4):
        dst = src.copy()
    copy = time.perf_counter() - t0
    del dst
    return {"busy_loop_5M_s": round(busy, 4), "copy_64MB_GBps": round(4 * 64 / 1024 / copy, 3)}
