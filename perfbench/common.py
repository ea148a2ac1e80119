"""Shared plumbing for the benchmark workloads: environment pinning, the
Spark session's start and full shutdown, percentiles, peak memory, and the
tracer that records spans and reads per-request Spark job metrics."""

from __future__ import annotations

import functools
import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Driver heap for the benchmark's JVM. The engine's session default (24g)
# is sized for a 128 GiB host; 3g fits a 16 GiB host shared with other
# work and still holds the local executor's cached index tables.
DRIVER_MEMORY = "3g"


def pin_environment(work_dir: str) -> None:
    """Pin the session through the engine's own env vars before the JVM
    starts: one task slot per visible core, a bounded driver heap, and
    every temporary file (Spark local dirs, Python and JVM temp files)
    under the run's work directory inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM writes it under /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout, not site-packages
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    from mlvectordb_spark.session import get_spark

    spark = get_spark("mlvectordb-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (the JVM's Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    vals = sorted(values)
    if not vals:
        return 0.0
    rank = max(1, -(-len(vals) * q // 100))
    return float(vals[int(rank) - 1])


def another_round(spent: list[float], seconds: float) -> bool:
    """Closed-loop run length: whole rounds until `seconds` of request
    time are spent, and always at least one."""
    return not spent or sum(spent) < seconds


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_peak_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the JVM it launched and the JVM's Python workers. A
    descendant that exited and was reaped counts in its parent's children
    times, so the sum never goes back."""
    ticks = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            ticks += sum(int(x) for x in fields[11:15])
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except OSError:  # the process or thread has just exited
            continue
    return ticks / _TICKS_PER_S


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host so far, from /proc/stat:
    steal is time the hypervisor ran something else on this host's CPUs,
    which lengthens wall times without being the program's work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


JOB_FIELDS = (
    "jobs", "job_wall_ms", "task_run_ms", "task_cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_rows",
)


class Tracer:
    """Benchmark-side tracing. When enabled it wraps public methods of the
    layer objects the benchmark holds, records one span per call (name,
    layer, start, end, parent span, request id) in memory, runs every
    request under its own Spark job group, and afterwards reads that
    group's jobs and stages from the status tracker and the in-process
    status store (which work with the UI disabled). When disabled every
    method is a no-op and nothing is wrapped."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[list] = []
        self.requests: list[dict] = []
        self._stack: list[int] = []
        self._rid: int | None = None
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- spans ---------------------------------------------------------------

    def wrap(self, obj, layer: str, names) -> None:
        if not self.enabled:
            return
        for name in names:
            fn = getattr(obj, name, None)
            if fn is not None:
                label = name.lstrip("_")
                setattr(obj, name, self._traced(fn, f"{layer}.{label}", layer))

    def _traced(self, fn, span_name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def call(*args, **kwargs):
            t = time.perf_counter()
            idx = tracer._open(span_name, layer)
            t0 = time.perf_counter()
            tracer.self_s += t0 - t
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer._close(idx, t0, t1)
                tracer.self_s += time.perf_counter() - t1

        return call

    def _open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, layer, 0.0, 0.0, parent, self._rid])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int, t0: float, t1: float) -> None:
        self.spans[idx][2] = t0
        self.spans[idx][3] = t1
        self._stack.pop()

    # -- requests ------------------------------------------------------------

    @contextmanager
    def request(self, rid: int, kind: str):
        """Bracket one request: a root span plus a Spark job group."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        self._rid = rid
        self.sc.setJobGroup(f"perfbench-{rid}", kind)
        idx = self._open(f"request.{kind}", "request")
        t0 = time.perf_counter()
        self.self_s += t0 - t
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._close(idx, t0, t1)
            self._rid = None
            self.self_s += time.perf_counter() - t1

    def record(self, rid: int, kind: str, wall_s: float, **extra) -> dict:
        """After a request (outside its timed region): read its Spark jobs
        and keep one per-request record."""
        rec = {"rid": rid, "kind": kind, "wall_ms": wall_s * 1000.0, **extra}
        if self.enabled:
            rec.update(self._job_metrics(f"perfbench-{rid}"))
            # driver time: the request's wall outside its jobs' wall
            rec["driver_gap_ms"] = max(0.0, rec["wall_ms"] - rec["job_wall_ms"])
            self.requests.append(rec)
        return rec

    def _job_metrics(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        # the status store is fed by the listener bus: drain it first
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        out = dict.fromkeys(JOB_FIELDS, 0.0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_wall_ms"] += done.get().getTime() - sub.get().getTime()
            stages = job.stageIds().iterator()
            while stages.hasNext():
                sid = stages.next()
                try:
                    st = store.stageAttempt(
                        sid, 0, False, gw.jvm.java.util.ArrayList(), False,
                        gw.new_array(gw.jvm.double, 0),
                    )._1()
                except Py4JJavaError:  # stage never submitted
                    continue
                out["task_run_ms"] += st.executorRunTime()
                out["task_cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                out["input_rows"] += st.inputRecords()
        return out

    # -- roll-ups ------------------------------------------------------------

    def _self_ms(self) -> list[float]:
        """Each span's self time: its duration minus its children's."""
        child = [0.0] * len(self.spans)
        for _name, _layer, t0, t1, parent, _rid in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        return [(s[3] - s[2] - c) * 1000.0 for s, c in zip(self.spans, child)]

    def self_ms_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for span, ms in zip(self.spans, self._self_ms()):
            out[span[1]] = out.get(span[1], 0.0) + ms
        return out

    def requests_by_layer(self) -> dict[str, int]:
        """Number of requests with at least one span in each layer."""
        seen: dict[str, set] = {}
        for span in self.spans:
            seen.setdefault(span[1], set()).add(span[5])
        return {layer: len(rids) for layer, rids in seen.items()}

    def self_ms_of(self, name: str) -> float:
        return sum(ms for span, ms in zip(self.spans, self._self_ms())
                   if span[0] == name)

    def span_stats(self, name: str) -> tuple[int, float]:
        """(calls, total ms) of every span with this name."""
        durs = [(s[3] - s[2]) * 1000.0 for s in self.spans if s[0] == name]
        return len(durs), sum(durs)

    def children_of_request(self, rid: int) -> list[str]:
        return [s[0] for s in self.spans if s[5] == rid and s[1] != "request"]

    def dump(self, path: str) -> None:
        """Write the spans and per-request records out at the end."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "span_fields": ["name", "layer", "start", "end",
                                    "parent", "request"],
                    "spans": self.spans,
                    "requests": self.requests,
                },
                f,
            )
