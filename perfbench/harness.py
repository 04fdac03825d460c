"""Measurement plumbing shared by the workloads: the run context (Spark
session on the granted cores, scratch space inside the checkout), an
in-memory span tracer, a process-tree RSS sampler and /proc/stat
counters.  Stdlib only, apart from the session itself."""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
DRIVER_HEAP = "2g"
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.2
MACHINE_CPUS = os.cpu_count()


def steal_per_cpu_s() -> float:
    """Hypervisor steal since boot, in seconds per machine CPU."""
    return cpu_times()["steal"] / CLK_TCK / MACHINE_CPUS


def cpu_times() -> dict[str, int]:
    """Whole-machine jiffies from /proc/stat's first line."""
    with open("/proc/stat") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = parts[:8]
    return {
        "busy": user + nice + system + irq + softirq,
        "idle": idle + iowait,
        "steal": steal,
    }


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
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> dict[int, int]:
    """Every descendant of `pid`, mapped to its parent."""
    kids = _children_map()
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out[c] = p
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_SIZE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak."""

    def __init__(self):
        self.peak_bytes = 0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        exe = {p: _exe(p) for p in [me, *tree]}
        # A JVM child that has not exec'd yet (the JVM forks to run
        # chmod, rm or the Python daemon) shares the JVM's pages; its RSS
        # repeats the JVM's.
        counted = [me] + [
            p for p, parent in tree.items()
            if not (exe[p].endswith("/java") and exe.get(parent, "").endswith("/java"))
        ]
        rss = {p: _rss_bytes(p) for p in counted}
        total = sum(rss.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            by_name: dict[str, float] = {}
            for p, b in rss.items():
                key = "driver" if p == me else _comm(p)
                by_name[key] = by_name.get(key, 0.0) + b / 1e6
            self.peak_by_process = by_name

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class Tracer:
    """Spans kept in memory, written out once at the end of the run.
    A disabled tracer records nothing; `span` still yields so the
    workload code is identical in both modes."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


class Run:
    """One benchmark run: scratch space inside the checkout, the Spark
    session on local[n] with n from the granted CPU affinity, the RSS
    sampler and the timed-window counters."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.run_id = uuid.uuid4().hex[:12]
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.out = os.path.join(root, ".perfbench_out")
        self.cpus = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cpus}]"
        self.tracer = Tracer(trace, self.run_id)
        self.rss = RssSampler()
        self.spark = None
        self.window: tuple[float, float] | None = None
        self.steal_at_window = 0.0
        self._cpu0: dict[str, int] | None = None
        self.host: dict[str, float] = {}
        self.old_gen_peak_mb = 0.0
        self.ops: list[dict[str, float]] = []
        self.event_log_dir = os.path.join(self.work, "eventlog")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        from hetman_spark.session import get_spark

        parent = os.path.dirname(self.work)
        if os.path.isdir(parent):
            # scratch left by runs that were killed before cleanup
            for name in os.listdir(parent):
                pid = name.rsplit("-", 1)[-1]
                if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
                    shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        # everything the run writes stays inside the checkout; JVMs
        # would otherwise leave perf-data files in the system temp dir
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {
            # A fixed heap, committed and touched at start: with the
            # session's 8g default, or a 2g heap left to grow, peak RSS
            # mostly measured how far G1 chose to grow the heap.
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace:
            os.makedirs(self.event_log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.rss.start()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", master=self.master,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def _old_gen_pools(self) -> list:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if "Old Gen" in p.getName()]

    @contextmanager
    def op(self):
        """Time one operation of the window.  Its latency is its wall
        time less the hypervisor steal over it per machine CPU: on a
        shared VM, steal set most of the spread between run medians,
        while operations within a run agreed to about 5%."""
        s0, t0 = steal_per_cpu_s(), time.time()
        yield
        wall = time.time() - t0
        steal = steal_per_cpu_s() - s0
        self.ops.append({"wall_s": wall, "steal_per_cpu_s": steal, "latency_s": wall - steal})

    def begin_window(self) -> None:
        if self.trace:
            for pool in self._old_gen_pools():
                pool.resetPeakUsage()
        self._cpu0 = cpu_times()
        self.steal_at_window = steal_per_cpu_s()
        self.window = (time.time(), 0.0)

    def end_window(self) -> None:
        cpu1 = cpu_times()
        start = self.window[0]
        end = time.time()
        self.window = (start, end)
        d = {k: cpu1[k] - self._cpu0[k] for k in cpu1}
        wall = end - start
        self.host = {
            "cpu.util": (d["busy"] / CLK_TCK) / (wall * self.cpus) if wall > 0 else 0.0,
            "steal_s": d["steal"] / CLK_TCK,
        }
        if self.trace:
            # peak_rss_mb cannot see inside the committed heap; the JVM's
            # own peak of its old generation can
            self.old_gen_peak_mb = sum(
                p.getPeakUsage().getUsed() for p in self._old_gen_pools()) / 1e6

    def storage_held_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def stop(self) -> None:
        """Stop the session and the JVM, then wait until every process
        this run started (JVM, Python workers) has exited."""
        started = list(descendants(os.getpid()))
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    try:
                        proc.stdin.close()
                    except (OSError, AttributeError):
                        pass
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=10)
            self.spark = None
        self.rss.stop()
        deadline = time.time() + 20
        for pid in started:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        if f.read().split(")")[-1].split()[0] == "Z":
                            break  # reaped by its own parent, which has exited
                except OSError:
                    break
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
