"""Shared machinery of the benchmark: session, spans, status-store harvest.

Everything here observes the engine from outside. It calls the engine's
public functions and reads Spark's own status stores (which work with
``spark.ui.enabled=false``); nothing is patched into the engine.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager

GiB = 1 << 30


# ---------------------------------------------------------------------------
# host and working directory
# ---------------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_memory_bytes() -> int:
    """Physical memory, capped by the cgroup limit when one is set."""
    total = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) * 1024
                break
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < total:
            total = int(raw)
    return total


class WorkDir:
    """A private directory inside the checkout, removed on exit.

    The engine, Spark and the JVM write scratch files; pointing TMPDIR,
    ``SPARK_LOCAL_DIRS``, the warehouse and ``java.io.tmpdir`` here keeps
    every write of the run inside the checkout.
    """

    def __init__(self, root: str):
        self.path = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        # Spark prefers this variable over spark.local.dir when it is set.
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        # Every JVM, the launcher's included: no /tmp/hsperfdata files and
        # native libraries unpacked here.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.sub('jvm-tmp')} "
            f"-Dderby.system.home={self.sub('derby')}")

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run still uses it, or it is not empty


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def session_conf(work: WorkDir) -> tuple[str, int, dict]:
    """Host-sized master, shuffle partitions and extra conf.

    ``local[nproc]`` with ``nproc`` shuffle partitions and a driver heap of
    a quarter of the host's memory (at least 1 GiB): in local mode every
    executor thread lives in the driver JVM, and the machine is shared.
    """
    cpus = host_cpus()
    heap_gib = max(1, host_memory_bytes() // GiB // 4)
    conf = {
        "spark.driver.memory": f"{heap_gib}g",
        "spark.local.dir": work.sub("spark-local"),
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.checkpoint.dir": work.sub("checkpoint"),
    }
    return f"local[{cpus}]", cpus, conf


def _warm_batches(batches):
    import pandas as pd

    from geobuf_cpp_spark.codec import geobuf  # noqa: F401
    from geobuf_cpp_spark.extract import html  # noqa: F401

    for b in batches:
        yield pd.DataFrame({"id": b["id"]})


class Sessions:
    """Starts, restarts and warms the benchmark's SparkSession."""

    def __init__(self, work: WorkDir, tracer: "Tracer"):
        self.master, self.cpus, self.conf = session_conf(work)
        self.tracer = tracer
        self.spark = None

    def start(self, app: str):
        from geobuf_cpp_spark.session import get_spark

        with self.tracer.span("session.start"):
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark(app, master=self.master,
                                   shuffle_partitions=self.cpus,
                                   extra_conf=self.conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_workers(self) -> None:
        """Fan Python workers out on every core, two stages deep.

        The headline plan chains two Arrow stages per task, so the pool
        must hold ``2 * cpus`` workers; a ``limit()`` would warm one.
        """
        with self.tracer.span("session.warmup"):
            n = self.cpus * 2
            (self.spark.range(0, n, numPartitions=n)
             .mapInPandas(_warm_batches, "id long")
             .mapInPandas(_warm_batches, "id long").count())

    def effective_conf(self) -> dict:
        keys = ["spark.master", "spark.driver.memory",
                "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.ui.enabled", "spark.local.dir"]
        conf = self.spark.sparkContext.getConf()
        return {k: conf.get(k) for k in keys}

    def stop(self) -> None:
        """Stop the session, then end the JVM and every process under it."""
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            stop_jvm()


def stop_jvm(timeout: float = 30.0) -> None:
    """End the JVM PySpark launched and wait until it and its children exit.

    Left alone, the JVM notices only after this process exits that its
    stdin closed, and outlives the run by a fraction of a second; its
    Python workers outlive it. Closing that pipe now lets the JVM run its
    shutdown hooks (which remove Spark's local directories) and exit;
    whatever is still alive after ``timeout`` is killed.
    """
    from pyspark import SparkContext

    # Taken while the JVM lives: once it exits, its children are reparented.
    procs = _descendants_with_start()
    gateway = SparkContext._gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may be gone already
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _end_all(procs, timeout)


def timed_setups(sessions: Sessions, app: str, repeats: int) -> list[float]:
    """Start the session ``repeats`` times; returns each start's seconds.

    The first start launches the JVM; later ones start a fresh
    SparkContext in it, which also drops every session-keyed memo.
    """
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        sessions.start(app)
        times.append(time.perf_counter() - t0)
    return times


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants() -> list[int]:
    kids = _children_map()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _start_time(pid: int):
    """Start time of ``pid`` (clock ticks since boot), None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2:].split()
    if fields[0] == "Z":
        return None  # exited; only its parent's wait is missing
    return fields[19]


def _descendants_with_start() -> list[tuple[int, str]]:
    out = []
    for pid in _descendants():
        start = _start_time(pid)
        if start is not None:
            out.append((pid, start))
    return out


def _end_all(procs: list[tuple[int, str]], timeout: float) -> None:
    """Wait for ``procs`` to exit; SIGTERM, then SIGKILL, the ones that do not.

    A (pid, start time) pair names one process even if its pid is reused.
    Children of this process are reaped so no zombie stays behind.
    """
    def alive():
        left = []
        for pid, start in procs:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # not ours to reap
            if _start_time(pid) == start:
                left.append((pid, start))
        return left

    for sig, wait_s in ((None, timeout), (signal.SIGTERM, 5.0),
                        (signal.SIGKILL, 5.0)):
        procs = alive()
        if not procs:
            return
        if sig is not None:
            for pid, _ in procs:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while procs and time.monotonic() < deadline:
            time.sleep(0.05)
            procs = alive()


def reset_peak_rss() -> None:
    """Restart the high-water marks of every process this one started.

    Writing 5 to ``/proc/<pid>/clear_refs`` sets VmHWM to the current
    resident size, so a later ``peak_rss_mib`` covers only what ran since.
    """
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue  # exited meanwhile


def peak_rss_mib() -> float:
    """Sum of VmHWM over every process this one started (JVM, workers)."""
    total_kib = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kib / 1024.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans and counters at the benchmark's layer boundaries.

    Disabled, ``span`` costs one attribute test; enabled, it records
    (id, parent, name, start, end) plus counters, and ``write`` dumps
    them as JSON at exit.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.own_s = 0.0  # time spent recording spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": t0, "end": None,
               "counters": {}, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.own_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = t1
            self._stack.pop()
            self.own_s += time.perf_counter() - t1

    def count(self, name: str, value) -> None:
        """Attach a counter to the innermost open span."""
        if self.enabled and self._stack:
            self.spans[self._stack[-1]]["counters"][name] = value

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus what its children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": spans,
                       "self_time_s": self.self_times(), **extra}, fh)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_TOTAL = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """First (total) value of a formatted SQL metric, in s, B or count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusProbe:
    """Reads job, stage and SQL-node metrics for one job group."""

    SUMS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "python_run_s", "python_start_s")

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mark = self.sql.executionsCount()

    def begin(self, group: str) -> None:
        self.mark = self.sql.executionsCount()
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def stages(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "task_skew": 1.0}
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        busiest, busiest_run = None, -1
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage skipped or evicted
                continue
            if st.numTasks() == 0 or st.executorRunTime() == 0 and st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.executorRunTime() > busiest_run:
                busiest, busiest_run = st, st.executorRunTime()
        if busiest is not None:
            out["task_skew"] = self._skew(busiest)
        return out

    def _skew(self, st) -> float:
        tasks = self.store.taskList(st.stageId(), st.attemptId(), 100000)
        runs = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0

    def sql_nodes(self) -> list[dict]:
        """Python-stage and join nodes of the executions since ``begin``."""
        n = self.sql.executionsCount() - self.mark
        execs = self.sql.executionsList(self.mark, max(n, 0))
        nodes = []
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = {}
            it = self.sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[int(kv._1())] = kv._2()
            graph = self.sql.planGraph(eid).allNodes()
            for j in range(graph.size()):
                node = graph.apply(j)
                name = node.name()
                if not any(k in name for k in ("Pandas", "Python", "Join")):
                    continue
                ms = node.metrics()
                metrics = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    raw = values.get(int(m.accumulatorId()))
                    if raw is not None:
                        metrics[m.name()] = parse_sql_metric(raw)
                nodes.append({"name": name, "desc": node.desc(),
                              "metrics": metrics})
        return nodes

    def harvest(self, group: str) -> dict:
        """Stage sums plus Python-worker times for one job group."""
        out = self.stages(group)
        nodes = self.sql_nodes()
        out["python_run_s"] = sum(
            n["metrics"].get("time to run Python workers", 0.0) for n in nodes)
        out["python_start_s"] = sum(
            n["metrics"].get("time to start Python workers", 0.0) for n in nodes)
        out["nodes"] = nodes
        return out


def counters(harvest: dict) -> dict:
    """The harvest's sums, to attach to the span of the step they measure."""
    return {f"spark.{k}": harvest[k] for k in StatusProbe.SUMS}


def node_metric(nodes: list[dict], desc_part: str, metric: str) -> float:
    """Sum a SQL metric over the nodes whose description names ``desc_part``."""
    return sum(n["metrics"].get(metric, 0.0) for n in nodes
               if desc_part in n["desc"])


def sum_harvests(harvests: list[dict]) -> dict:
    out = {k: sum(h[k] for h in harvests) for k in StatusProbe.SUMS}
    out["task_skew"] = max((h["task_skew"] for h in harvests), default=1.0)
    return out


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile of ``xs`` (q in [0, 1])."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))
    return float(s[k])
