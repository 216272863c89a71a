"""Shared machinery for the perfbench workloads.

- ``Env``: per-run scratch directory inside the checkout, Spark session
  on the library's own defaults (only ``SPARK_GRAFT_CPUS`` is set), and
  a clean shutdown that waits for the JVM to exit.
- ``Loop``: the closed-loop driver. One client issues the next op when
  the previous one returns; every op is timed, and an exception counts
  as a failed op instead of being dropped.
- ``Tracer``: in-memory spans (name, start, end, parent, run id) around
  the calls the benchmark makes into each layer, plus a Spark job group
  per span so jobs, stages, tasks and executor metrics can be read back
  from ``statusTracker`` and the local monitoring REST API.
- host provenance: nproc, RAM, calibration spin, container CPU seconds
  (cgroup v1 ``cpuacct.usage``, else v2 ``cpu.stat``), hypervisor steal,
  load average, and the peak RSS of this process tree (driver JVM +
  Python workers).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import threading
import time
import traceback
import urllib.request
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")


def log(*args) -> None:
    print("[perfbench]", *args, file=sys.stderr, flush=True)


# -- host provenance ---------------------------------------------------------


def calibration_spin() -> float:
    """Seconds for a fixed pure-Python LCG loop: a degraded or shared
    host shows up as a slower spin, whatever the program does."""
    x = 1
    t0 = time.perf_counter()
    for _ in range(2_000_000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    assert x >= 0
    return time.perf_counter() - t0


def container_cpu_s() -> float | None:
    """CPU seconds used by this container so far: cgroup v1
    ``cpuacct.usage`` (ns), else cgroup v2 ``cpu.stat`` usage_usec,
    else None."""
    try:
        with open("/sys/fs/cgroup/cpuacct/cpuacct.usage") as f:
            return int(f.read().strip()) / 1e9
    except (OSError, ValueError):
        pass
    try:
        with open("/sys/fs/cgroup/cpu.stat") as f:
            for line in f:
                key, _, val = line.partition(" ")
                if key == "usage_usec":
                    return int(val) / 1e6
    except (OSError, ValueError):
        pass
    return None


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (``/proc/stat``):
    a run whose vCPUs were stolen is slow whatever the program does."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_ram_mb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants."""
    kids = _children_map()
    todo, total = [root_pid], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total / 2**20


class RssSampler:
    """Samples the process-tree RSS every ``period`` seconds in a daemon
    thread and keeps the peak."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb


# -- tracing -----------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out when the run ends.

    A disabled tracer costs one attribute check per call. An enabled
    tracer gives every span its own Spark job group (restoring the
    parent's on exit), so each job is attributed to the innermost span
    that caused it and can be read back after the run."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.phase = "setup"  # "setup", "run" (timed passes) or "check"
        self.self_s = 0.0  # tracer bookkeeping time in the timed passes

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        """Return ``fn`` wrapped in a span called ``name``."""

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper (traced runs
        only; the untraced run never touches the program)."""
        if self.enabled:
            setattr(owner, attr, self.wrap(name, getattr(owner, attr)))

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["job_group"], rec["name"])

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def inclusive(self, rec: dict, key: str, kids=None) -> float:
        """``rec``'s own engine counter ``key`` plus its descendants'."""
        kids = self.children() if kids is None else kids
        total = rec.get("engine", {}).get(key, 0.0)
        for c in kids.get(rec["id"], []):
            total += self.inclusive(c, key, kids)
        return total

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        c0 = time.perf_counter()
        parent = t._stack[-1] if t._stack else None
        self.rec = {
            "name": self.name,
            "run_id": t.run_id,
            "id": len(t.spans),
            "parent": parent["id"] if parent else None,
            "phase": t.phase,
        }
        self.rec["job_group"] = f"{t.run_id}-{self.rec['id']}"
        t._set_group(self.rec)
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        if t.phase == "run":
            t.self_s += self.rec["start"] - c0
        return self

    def __exit__(self, exc_type, exc, tb):
        t = self.t
        if not t.enabled:
            return False
        end = time.perf_counter()
        self.rec["end"] = end
        if exc_type is not None:
            self.rec["error"] = exc_type.__name__
        t._stack.pop()
        t._set_group(t._stack[-1] if t._stack else None)
        if t.phase == "run":
            t.self_s += time.perf_counter() - end
        return False


ENGINE_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "scheduler_delay_s",
)


def engine_metrics(spark, tracer: Tracer) -> dict:
    """Attach each span's own engine counters (``span["engine"]``) and
    return the totals over the spans of the timed passes.

    Job and stage ids come from ``statusTracker``; executor CPU, GC,
    shuffle, spill and scheduler delay come from the driver's local
    monitoring REST API."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    time.sleep(1.0)  # let the listener bus drain into the status store

    def rest(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
            return json.load(r)

    stage_rows: dict[int, list[dict]] = {}
    for row in rest("stages"):
        stage_rows.setdefault(row["stageId"], []).append(row)
    totals = dict.fromkeys(ENGINE_KEYS, 0.0)
    for s in tracer.spans:
        g = dict.fromkeys(ENGINE_KEYS, 0.0)
        for jid in st.getJobIdsForGroup(s["job_group"]):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            g["jobs"] += 1
            for sid in job.stageIds:
                info = st.getStageInfo(sid)
                if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                    continue  # skipped stage (shuffle output reused)
                g["stages"] += 1
                g["tasks"] += info.numTasks
                g["failed_tasks"] += info.numFailedTasks
                for att in stage_rows.get(sid, []):
                    g["executor_cpu_s"] += att.get("executorCpuTime", 0) / 1e9
                    g["gc_s"] += att.get("jvmGcTime", 0) / 1e3
                    g["shuffle_write_bytes"] += att.get("shuffleWriteBytes", 0)
                    g["spill_bytes"] += att.get(
                        "memoryBytesSpilled", 0
                    ) + att.get("diskBytesSpilled", 0)
                    tasks = rest(
                        f"stages/{sid}/{att['attemptId']}/taskList?length=100000"
                    )
                    g["scheduler_delay_s"] += (
                        sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3
                    )
        s["engine"] = g
        if s["phase"] == "run":
            for k in ENGINE_KEYS:
                totals[k] += g[k]
    return totals


# -- closed loop -------------------------------------------------------------


class Loop:
    """One closed-loop client. ``run`` executes whole passes over a
    fixed op list until ``seconds`` have elapsed (at least
    ``min_passes``). Each op is timed on its own; a failing op is
    counted and logged, never dropped.

    With ``alternate=True`` the tracer is switched off for even passes
    and on for odd ones (at least untraced, traced, untraced, so a
    linear warming trend cancels), and one traced run yields both
    untraced and traced latencies: their difference is the tracing
    overhead."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.mix: list[str] = []  # the op kinds of one pass
        self.pass_s: list[float] = []
        self.op_steal_s: list[float] = []  # host steal during each logged op
        self.untraced_pass_s: list[float] = []
        self.traced_passes = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.log: list[tuple[str, float, bool]] = []  # (kind, s, traced)

    def call(self, kind: str, fn) -> None:
        """Time one op."""
        self.attempted += 1
        s0 = steal_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind):
                fn()
        except Exception:  # noqa: BLE001 — a failed op is a result
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=4)}")
            log("op failed:", self.errors[-1])
            return
        dt = time.perf_counter() - t0
        self.op_steal_s.append(steal_s() - s0)
        self.log.append((kind, dt, self.tracer.enabled))

    def run(self, ops_for_pass, seconds: float, alternate: bool = False,
            min_passes: int = 1) -> None:
        """``ops_for_pass(i)`` returns the list of (kind, fn) for pass i;
        every pass holds the same op kinds."""
        deadline = time.perf_counter() + seconds
        tracing = self.tracer.enabled
        if alternate:
            min_passes = max(min_passes, 3)
        i = 0
        while i < min_passes or time.perf_counter() < deadline:
            if alternate:
                self.tracer.enabled = tracing and i % 2 == 1
            n0 = len(self.log)
            ops = ops_for_pass(i)
            if not self.mix:
                self.mix = [kind for kind, _fn in ops]
            for kind, fn in ops:
                self.call(kind, fn)
            # op time only: the client's own bookkeeping is not the program's
            busy = sum(dt for _k, dt, _t in self.log[n0:])
            if self.tracer.enabled or not alternate:
                self.pass_s.append(busy)
                self.traced_passes += self.tracer.enabled
            else:
                self.untraced_pass_s.append(busy)
            i += 1
        self.tracer.enabled = tracing


def warm_pass(tracer: Tracer, ops_for_pass) -> Loop:
    """One untimed pass with tracing off (part of set-up)."""
    enabled, tracer.enabled = tracer.enabled, False
    try:
        loop = Loop(tracer)
        loop.run(ops_for_pass, 0)
    finally:
        tracer.enabled = enabled
    return loop


# -- run environment ---------------------------------------------------------


class Env:
    """Scratch directory, Spark session and provenance for one run."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        os.makedirs(OUT_DIR, exist_ok=True)
        self.tmp = os.path.join(OUT_DIR, f"tmp-{os.getpid()}")
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)
        # keep every file Spark, the JVM and Python write in the checkout
        for sub in ("spark-local", "py-tmp", "jvm-tmp"):
            os.makedirs(os.path.join(self.tmp, sub))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.tmp, "py-tmp")
        # (-XX:-UsePerfData: the JVM's hsperfdata file always goes to /tmp)
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + (
            os.path.join(self.tmp, "jvm-tmp")
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        # Python workers import the program and the benchmark's own
        # modules from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, os.path.join(ROOT, "perfbench")]
            + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        import tempfile

        tempfile.tempdir = None
        self.rss = RssSampler().start()
        self.calib_start = calibration_spin()
        self.cpu_start = container_cpu_s()
        self.steal_start = steal_s()
        self.spark = None
        self.setup_parts: dict[str, float] = {}

    def scratch(self, name: str) -> str:
        path = os.path.join(self.tmp, name)
        os.makedirs(path, exist_ok=True)
        return path

    def start_session(self):
        from svs_spark.session import get_session

        t0 = self.t_setup0 = time.perf_counter()
        self.spark = get_session(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_parts["session_start_s"] = time.perf_counter() - t0
        self.tracer = Tracer(self.trace, self.spark.sparkContext)
        return self.spark

    def setup_done(self) -> None:
        """Mark the end of set-up: session start through warm-up."""
        self.setup_s = time.perf_counter() - self.t_setup0

    def provenance(self) -> dict:
        conf = self.spark.sparkContext.getConf() if self.spark else None
        get = (lambda k: conf.get(k, None)) if conf else (lambda k: None)
        cpu_end = container_cpu_s()
        return {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "ram_mb": round(host_ram_mb(), 1),
            "spark.master": get("spark.master"),
            "spark.driver.memory": get("spark.driver.memory"),
            "spark.driver.extraJavaOptions": get("spark.driver.extraJavaOptions"),
            "spark.sql.shuffle.partitions": (
                self.spark.conf.get("spark.sql.shuffle.partitions")
                if self.spark else None
            ),
            "calib_s": [self.calib_start, calibration_spin()],
            "container_cpu_s": (
                None if cpu_end is None or self.cpu_start is None
                else cpu_end - self.cpu_start
            ),
            "loadavg": list(os.getloadavg()),
            "steal_s": steal_s() - self.steal_start,
            "setup_parts": self.setup_parts,
        }

    def close(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        if self.spark is not None:
            sc = self.spark.sparkContext
            gw = sc._gateway
            proc = getattr(gw, "proc", None)
            try:
                self.spark.stop()
            finally:
                gw.shutdown()
                if proc is not None:
                    try:
                        proc.stdin.close()
                    except OSError:
                        pass
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001
                        proc.kill()
                        proc.wait()
            self.spark = None
        self.rss.stop()
        shutil.rmtree(self.tmp, ignore_errors=True)
