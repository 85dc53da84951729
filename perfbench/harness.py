"""Measurement helpers shared by the workloads: process environment and
process lifetime, Spark status-store stage metrics, a ``/proc`` sampler of a process tree's
memory and CPU, a span tracer that wraps module attributes, and result
canonicalization for the correctness checks."""

from __future__ import annotations

import ctypes
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CPUS = 4
DRIVER_MEM = "3g"
SAMPLE_INTERVAL_S = 0.05
EXIT_WAIT_S = 5.0
TERM_WAIT_S = 15.0
PR_SET_CHILD_SUBREAPER = 36


def spec() -> dict:
    """``BENCHMARK.json``: the workloads and the metrics, with their units."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def units(section: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``."""
    return {m["name"]: m["unit"] for m in spec()[section]}


def bench_env(work: Path) -> dict[str, str]:
    """Environment for this process and every Spark process it starts:
    the repo root on PYTHONPATH (Python workers import the package by
    name), scratch space inside ``work``, ``local[4]`` and a 3g heap."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    prior = env.get("PYTHONPATH")
    env.update(
        PYTHONPATH=str(ROOT) + (os.pathsep + prior if prior else ""),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


def activate_env(work: Path) -> None:
    os.environ.update(bench_env(work))
    time.tzset()
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class LazySession:
    """The benchmark process's SparkSession, built through the package's
    ``session.get_spark`` on first use (a workload that only drives the
    CLI never starts a JVM of its own).  ``start_s`` is the build time."""

    def __init__(self, app_name: str) -> None:
        self.app_name = app_name
        self.spark = None
        self.start_s = 0.0

    def __call__(self):
        if self.spark is None:
            from es_ch_sync_spark.session import get_spark

            t0 = time.perf_counter()
            self.spark = get_spark(self.app_name)
            self.start_s = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop the session, then its JVM: closing the gateway's stdin
        makes the JVM exit, and this waits until it has."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(TERM_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def describe(session: LazySession, **extra) -> dict:
    """What a reader needs to interpret the numbers of one run.  Without a
    session of its own the run's Spark settings are the ones it handed
    the CLI processes through the environment."""
    import pyspark

    if session.spark is not None:
        sc = session.spark.sparkContext
        spark_conf = {
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.driver.memory": sc.getConf().get("spark.driver.memory", None),
            "session_start_s": session.start_s,
        }
    else:
        spark_conf = {
            "master": f"local[{CPUS}]",
            "defaultParallelism": CPUS,
            "spark.driver.memory": DRIVER_MEM,
        }
    return {
        **spark_conf,
        "cpus": os.cpu_count(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        **extra,
    }


def median(xs) -> float:
    return float(statistics.median(xs))


def mean(xs) -> float:
    return float(statistics.fmean(xs))


def _canon_cell(v) -> str:
    import datetime
    import math

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "~"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return str(int(v)) if v.is_integer() and abs(v) < 1e15 else f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    """Order-insensitive canonical form of a result: columns sorted by
    name, floats to 6 significant digits, NaN and NULL unified."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon_cell(r[i]) for i in order) for r in rows)


# ---------------------------------------------------------------------------
# Process lifetime: nothing the benchmark starts outlives it


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent exits first (the JVM of a finished CLI process, the
    Python worker daemon, which runs in a process group of its own) is
    re-parented here instead of to init, so ``end_descendants`` finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def end_descendants() -> None:
    """Wait until every process under this one has ended and been reaped:
    ``EXIT_WAIT_S`` for them to exit by themselves, then SIGTERM, then,
    after ``TERM_WAIT_S`` more, SIGKILL.  Call it only when this process
    holds no Spark session of its own (``LazySession.stop`` ends that)."""
    me = os.getpid()
    t0 = time.monotonic()
    while True:
        _reap()
        pids = [p for p in tree_pids(me) if p != me]
        if not pids:
            return
        waited = time.monotonic() - t0
        if waited > EXIT_WAIT_S:
            sig = signal.SIGKILL if waited > EXIT_WAIT_S + TERM_WAIT_S else signal.SIGTERM
            for pid in pids:
                if not _zombie(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        time.sleep(SAMPLE_INTERVAL_S)


def run_tree(cmd: list[str], work: Path) -> tuple[subprocess.CompletedProcess, "TreeSampler", float]:
    """Run ``cmd`` in ``work`` with the benchmark's environment; returns
    the finished process, what was sampled of its process tree and its
    wall time (to its own exit).  Whatever it leaves running, its JVM
    included, is ended before this returns."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd, cwd=work, env=bench_env(work), text=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        with TreeSampler(proc.pid) as tree:
            stdout, stderr = proc.communicate()
        wall = time.perf_counter() - t0
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        end_descendants()
    return subprocess.CompletedProcess(cmd, proc.returncode, stdout, stderr), tree, wall


# ---------------------------------------------------------------------------
# /proc sampling: memory and CPU of a process tree, host steal time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, user + system CPU seconds) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name: state, ppid, ...,
        # utime and stime are the 12th and 13th of them
        rest = stat.rsplit(")", 1)[1].split()
        table[int(name)] = (int(rest[1]), (int(rest[11]) + int(rest[12])) * TICK_S)
    return table


def tree_cpu(root: int) -> dict[int, float]:
    """CPU seconds of each live process in the tree under ``root``."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out[pid] = table[pid][1]
            stack.extend(kids.get(pid, []))
    return out


def tree_pids(root: int) -> list[int]:
    return list(tree_cpu(root))


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) * TICK_S


class TreeSampler:
    """Peak resident memory and CPU seconds of a process tree, polled from
    ``/proc`` every ``SAMPLE_INTERVAL_S``; a process that exits between
    polls loses at most one interval of CPU time.  ``steal_s`` is the host's steal time over the
    sampled interval, summed over CPUs."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()
        self.peak_mb = 0.0
        self.max_procs = 0
        self.steal_s = 0.0
        self._cpu: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def cpu_s(self) -> float:
        return sum(self._cpu.values())

    def _run(self) -> None:
        while True:
            cpu = tree_cpu(self.root)
            self._cpu.update(cpu)
            self.max_procs = max(self.max_procs, len(cpu))
            self.peak_mb = max(self.peak_mb, sum(rss_kb(p) for p in cpu) / 1024.0)
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def __enter__(self) -> "TreeSampler":
        self._steal0 = steal_s()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.steal_s = steal_s() - self._steal0


# ---------------------------------------------------------------------------
# Spark status store


def wait_listeners(spark) -> None:
    """Block until the listener bus has delivered every event, so the
    status store holds the final metrics of finished jobs."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_metrics(spark, groups) -> dict:
    """Summed metrics of every completed stage of the jobs whose Spark job
    group is in ``groups``, read from the status store (UI off is fine)."""
    groups = set(groups)
    wait_listeners(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    n_jobs = 0
    it = store.jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        g = job.jobGroup()
        if g.isDefined() and g.get() in groups:
            n_jobs += 1
            sit = job.stageIds().iterator()
            while sit.hasNext():
                stage_ids.add(int(sit.next()))
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    m = {
        "jobs": n_jobs, "stages": 0, "tasks": 0, "task_s": 0.0, "leaf_task_s": 0.0,
        "input_mb": 0.0, "input_rows": 0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "max_task_s": 0.0, "median_task_s": 0.0,
    }
    medians = []
    for sid in sorted(stage_ids):
        ait = store.stageData(sid, False, None, False, no_quantiles).iterator()
        while ait.hasNext():
            st = ait.next()
            if st.status().toString() != "COMPLETE":
                continue
            task_s = st.executorRunTime() / 1000.0
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks()
            m["task_s"] += task_s
            if st.shuffleReadBytes() == 0:
                m["leaf_task_s"] += task_s  # reads a source, not a shuffle
            m["input_mb"] += st.inputBytes() / 2**20
            m["input_rows"] += st.inputRecords()
            m["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            m["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            summary = store.taskSummary(sid, st.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                medians.append(run.apply(0) / 1000.0)
                m["max_task_s"] = max(m["max_task_s"], run.apply(1) / 1000.0)
    if medians:
        m["median_task_s"] = median(medians)
    return m


# ---------------------------------------------------------------------------
# Spans


class Tracer:
    """In-memory spans with parent links.  Each span runs under a Spark job
    group of its own, so the status store attributes every job to exactly
    one span; ``wrap`` spans the calls to module attributes and restores
    the attributes afterwards."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        index = len(self.spans)
        rec = {
            "name": name, "index": index, "group": f"perfbench:{name}#{index}",
            "parent": parent["index"] if parent else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def wrap(self, targets: list[tuple[object, str, str]]):
        """Patch ``getattr(module, attr)`` with a spanning wrapper named
        ``name`` for each ``(module, attr, name)``; restore on exit."""
        saved = []
        try:
            for mod, attr, name in targets:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrapped(orig, name))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _wrapped(self, fn, name: str):
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        call.__wrapped__ = fn
        return call

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (children of one span never overlap here)."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += self.duration(rec)
        out: dict[str, float] = {}
        for rec in self.spans:
            own = self.duration(rec) - child[rec["index"]]
            out[rec["name"]] = out.get(rec["name"], 0.0) + own
        return out

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.duration(r) for r in self.named(name))

    def stages(self, name: str) -> dict:
        """Stage metrics of the jobs started directly inside spans ``name``."""
        return stage_metrics(self.spark, [r["group"] for r in self.named(name)])


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict, artifact: dict) -> None:
    """Print the artifact description, then the result as the last line.
    ``metrics`` must name exactly the metrics in ``units``."""
    if set(metrics) != set(units):
        raise KeyError(f"metrics {sorted(metrics)} != declared {sorted(units)}")
    print(json.dumps({"artifact": artifact}, sort_keys=True, default=str))
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)
