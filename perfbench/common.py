"""Shared plumbing for the CDC benchmark: the per-run sandbox, the Spark
session lifecycle, the /proc process-tree sampler, the in-memory span
tracer and small statistics helpers.

Nothing here imports pyspark at module load; the workloads import the
engine only after ``Run.start_spark`` has pointed every temp path inside
the run directory.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# -- statistics ---------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- process tree -------------------------------------------------------------

def _read_stat(pid: int):
    """(ppid, cpu_ticks incl. reaped children, rss_pages, starttime) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces/parens: split after the LAST ')'
    rest = raw[raw.rindex(b")") + 2:].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ppid, utime + stime + cutime + cstime, int(rest[21]), int(rest[19])


def _category(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return "other"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "pyworker"
    if b"java" in cmd.split(b"\0", 1)[0]:
        return "jvm"
    return "other"


class ProcTree:
    """CPU and RSS of this process and every descendant, read from /proc.

    CPU per process is utime+stime+cutime+cstime, so a Python worker that
    exits inside a window still counts: its ticks move into the daemon's
    cutime when the daemon reaps it. A background thread samples the
    summed RSS of the driver, the Spark JVM and the Python workers every
    ``interval`` seconds for the peak; ``seen`` keeps every (pid,
    starttime) ever observed so the run can wait for all of them to end.
    """

    def __init__(self, interval: float = 0.25) -> None:
        self.root = os.getpid()
        self.interval = interval
        self.jvm_pid: int | None = None
        self.peak_rss = 0
        self.seen: dict[int, int] = {}
        self._cats: dict[tuple[int, int], str] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, tuple]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, st in stats.items():
            kids.setdefault(st[0], []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid not in stats:
                continue
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
        for pid, st in out.items():
            self.seen[pid] = st[3]
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per category (driver/jvm/pyworker/other)."""
        acc = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
        for pid, st in self._tree().items():
            acc[self._cat(pid, st)] += st[1] / CLK_TCK
        return acc

    def _cat(self, pid: int, st: tuple) -> str:
        key = (pid, st[3])
        cat = self._cats.get(key)
        if cat is None:
            cat = self._cats[key] = _category(pid, self.root)
        return cat

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            # count the driver, the one JVM this run started and the Python
            # workers: a JVM child caught mid-spawn shows the JVM's whole
            # RSS until it execs, whatever its cmdline reads at that moment
            tree = {pid: st for pid, st in self._tree().items()
                    if pid in (self.root, self.jvm_pid)
                    or self._cat(pid, st) == "pyworker"}
            rss = sum(st[2] for st in tree.values()) * PAGE
            if rss > self.peak_rss:
                self.peak_rss = rss
                self.peak_at = {pid: (self._cat(pid, st), st[2] * PAGE >> 20)
                                for pid, st in tree.items()}

    def start(self) -> None:
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def wait_all_gone(self, timeout: float) -> list[int]:
        """Wait until every descendant ever seen has exited; return the
        pids still alive at the deadline."""
        deadline = time.monotonic() + timeout
        while True:
            alive = []
            for pid, start in self.seen.items():
                if pid == self.root:
                    continue
                st = _read_stat(pid)
                if st is not None and st[3] == start:
                    alive.append(pid)
            if not alive or time.monotonic() > deadline:
                return alive
            time.sleep(0.1)


def committed_files(ckpt: str) -> dict[str, int]:
    """File name → id of the committed micro-batch that read it, from a
    file-source query's checkpoint: the commit log and the source log
    (``sources/0/N`` plus its ``.compact`` rollups). Runs no Spark job."""
    try:
        committed = {int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()}
    except FileNotFoundError:
        return {}
    out = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src) if os.path.isdir(src) else ():
        if name.startswith("."):
            continue  # checksum sidecars
        try:
            with open(os.path.join(src, name)) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:
            continue  # compaction replaced it under us
        for line in lines:
            if line.startswith("{"):
                e = json.loads(line)
                if e["batchId"] in committed:
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


# -- tracing ------------------------------------------------------------------

class Tracer:
    """In-memory spans around calls into engine layers, recorded from the
    benchmark's side of the call. A span is (name, start, end, parent,
    attrs); ``parent`` is the index of the enclosing open span, so a
    layer's self time is its duration minus its children's. Patches are
    undone by ``restore``; spans are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its dict so callers can add attributes."""
        sp = {"name": name, "start": time.perf_counter(), "end": None,
              "parent": self._open[-1] if self._open else None, **attrs}
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._open.pop()
            sp["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a span-recording wrapper. ``annotate(result, args)`` may
        return extra span attributes (bytes, segment counts)."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if annotate is not None:
                    sp.update(annotate(out, args))
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- the run sandbox ----------------------------------------------------------

class Run:
    """One benchmark process: a fresh directory under the checkout for
    every temp file (TMPDIR, Spark local dirs, java.io.tmpdir, the
    engine's stream-source symlink dirs, derby/warehouse via the cwd),
    removed at exit; the Spark session and every process it starts,
    stopped and waited for at exit."""

    def __init__(self, root: str, workload: str, seed: int) -> None:
        self.root = root
        self.dir = os.path.join(root, ".perfbench_tmp", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(os.path.join(self.dir, "tmp"))
        os.makedirs(os.path.join(self.dir, "local"))
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["PYTHONPATH"] = root
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Djava.io.tmpdir={self.dir}/tmp "
            "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch' --conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"
        )
        os.chdir(self.dir)
        self.procs = ProcTree()
        self.phases: dict[str, float] = {}  # set-up step → seconds, for the log
        self.spark = None

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self, cpus: int):
        from pyspark import SparkContext

        from polardbx_cdc_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.procs.jvm_pid = SparkContext._gateway.proc.pid
        self.procs.start()
        return self.spark

    def gc_seconds(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def close(self) -> list[int]:
        """Stop everything this run started; return pids that outlived
        the wait (empty on a clean exit)."""
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            gw = SparkContext._gateway
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=10)
        self.procs.stop()
        left = self.procs.wait_all_gone(timeout=20)
        os.chdir(self.root)
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
        return left
