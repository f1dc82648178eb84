"""Process plumbing for the benchmark.

- ``spark_session``: one local Spark session whose scratch files stay
  inside the benchmark's work directory, torn down with every process it
  started (JVM, Python daemon and workers) waited for.
- ``SparkLedger``: per-call Spark accounting read from the driver's
  status store over a job-id window (jobs, tasks, failures, busy time,
  shuffle, spill, skew, submit/complete times).
- ``Tracer``: spans around engine functions, installed from here for a
  traced run and removed afterwards (nothing inside the engine changes).
- Sample statistics, peak memory and the host-noise snapshot.
"""

from __future__ import annotations

import contextlib
import functools
import os
import signal
import statistics
import subprocess
import time

# ---------------------------------------------------------------------------
# Sample statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float]:
    """The highest order statistic with at least ten samples above it,
    and its percentile rank. Below 11 samples there is no such value;
    the maximum is returned with rank 100."""
    v = sorted(values)
    if len(v) < 11:
        return float(v[-1]), 100.0
    return float(v[-11]), 100.0 * (len(v) - 10) / len(v)


def mean(values) -> float:
    return float(sum(values) / len(values)) if values else 0.0


# ---------------------------------------------------------------------------
# Processes, memory, host
# ---------------------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; the ppid is the 2nd field after ')'.
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed VmHWM of this process, the JVM and the Python workers."""
    me = os.getpid()
    kb = sum(_status_kb(p, "VmHWM") for p in [me] + descendants(me))
    return kb / 1024.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def foreign_spark_processes() -> list[dict]:
    """JVMs and PySpark daemons that this process did not start."""
    me = os.getpid()
    mine = set(descendants(me)) | {me}
    out = []
    for p in _ppid_map():
        if p in mine:
            continue
        cmd = _cmdline(p)
        exe = os.path.basename(cmd.split(" ", 1)[0])
        if exe == "java" or "pyspark.daemon" in cmd or "pyspark/daemon" in cmd:
            out.append({"pid": p, "cmd": cmd[:120]})
    return out


def host_snapshot() -> dict:
    """nproc, memory, 1-minute load and foreign Spark processes at run
    start. The load is recorded, not judged: it still carries the
    previous run's own work. ``host_verdict`` completes the record at
    run end."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    others = foreign_spark_processes()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "load1": os.getloadavg()[0],
        "other_spark_processes": others,
        "cpu_ticks": _cpu_ticks(),
    }


STEAL_LIMIT = 0.05


def host_verdict(host: dict) -> dict:
    """Contamination of the run since ``host_snapshot``: a foreign Spark
    process at start or end, or a hypervisor CPU steal share above
    STEAL_LIMIT."""
    steal0, total0 = host["cpu_ticks"]
    steal1, total1 = _cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    at_end = foreign_spark_processes()
    reasons = []
    if host["other_spark_processes"]:
        reasons.append(
            f"{len(host['other_spark_processes'])} foreign Spark processes at start")
    if at_end:
        reasons.append(f"{len(at_end)} foreign Spark processes at end")
    if steal > STEAL_LIMIT:
        reasons.append(f"cpu steal {steal:.1%}")
    return {"contaminated": bool(reasons), "contamination": reasons,
            "steal_share": steal}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


@contextlib.contextmanager
def spark_session(work_dir: str, cpus: int):
    """``local[cpus]`` session with shuffle partitions = cpus. Spark,
    JVM and Python temp files go under ``work_dir``. On exit the session
    stops, the JVM is told to exit, and every process it started is
    waited for (killed after a grace period)."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from pyspark import SparkContext

    from escp_spark.session import get_spark

    # The heap is fixed and touched at start: otherwise the JVM's resident
    # size follows when G1 happens to grow the heap, and peak_rss_mb
    # spread by ~20% between runs of one seed.
    heap = "2g"
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": heap,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        yield spark
    finally:
        started = descendants(os.getpid())
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        for p in _wait_gone(started, 20):
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
        _wait_gone(started, 10)


# ---------------------------------------------------------------------------
# Spark status-store accounting
# ---------------------------------------------------------------------------


class SparkLedger:
    """Spark work of one driver call, read from the status store.

    A call's jobs are the ones whose id is at or above ``mark()`` taken
    just before it. The driver runs one call at a time, so the window is
    exact; unlike a caller-set job group it also covers jobs that
    Structured Streaming launches from its own thread."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self._sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _drain(self):
        # The status listener runs asynchronously; wait until it has seen
        # the last job-end event.
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def since(self, mark: int) -> dict:
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        out = {
            "jobs": 0, "tasks": 0, "failed_tasks": 0, "task_busy_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0,
            "job_spans": [],  # (submitted, completed) epoch seconds per job
        }
        longest = [-1.0, 1.0]  # wall and max/median task time of the longest stage
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() < mark:
                break
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isEmpty() or done.isEmpty()):
                out["job_spans"].append((sub.get().getTime() / 1000.0,
                                         done.get().getTime() / 1000.0))
            sids = job.stageIds()
            for j in range(sids.size()):
                self._add_stage(sids.apply(j), out, longest)
        out["task_skew"] = longest[1]
        return out

    def _add_stage(self, sid: int, out: dict, longest: list) -> None:
        attempts = self._store.stageData(sid, False, None, False, None)
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_busy_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            t0, t1 = sub.get().getTime(), done.get().getTime()
            if t1 - t0 > longest[0]:
                summary = self._store.taskSummary(
                    sid, st.attemptId(), self._quantiles
                )
                skew = 1.0
                if not summary.isEmpty():
                    rt = summary.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    skew = mx / med if med > 0 else 1.0
                longest[:] = [t1 - t0, skew]


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around engine functions: (name, start, end, detail), kept
    in memory. ``detail`` is whatever the wrap's ``detail`` callback
    derives from the call's arguments (a stage label, a lookup count)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, object]] = []
        self._stack = contextlib.ExitStack()

    def _traced(self, orig, name: str, detail):
        spans = self.spans

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                spans.append((name, t0, time.perf_counter(),
                              detail(args) if detail else None))

        return traced

    def wrap(self, owner, attr: str, name: str, detail=None) -> None:
        """Wrap ``owner.attr`` until ``close``."""
        orig = getattr(owner, attr)
        setattr(owner, attr, self._traced(orig, name, detail))
        self._stack.callback(setattr, owner, attr, orig)

    @contextlib.contextmanager
    def wrapped(self, owner, attr: str, name: str):
        """Wrap ``owner.attr`` for the duration of a with-block."""
        orig = getattr(owner, attr)
        setattr(owner, attr, self._traced(orig, name, None))
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def take(self) -> list[tuple[str, float, float, object]]:
        out = list(self.spans)
        self.spans.clear()
        return out

    def close(self) -> None:
        """Put every wrapped function back."""
        self._stack.close()


def span_total(spans, name: str) -> float:
    return sum(t1 - t0 for n, t0, t1, _ in spans if n == name)


def first_start(spans, name: str, detail=None) -> float | None:
    ts = [t0 for n, t0, _, d in spans
          if n == name and (detail is None or d == detail)]
    return min(ts) if ts else None
