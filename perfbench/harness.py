"""Shared machinery of the benchmark: spans, Spark counters, host sampling
and the Spark session set-up.

Everything here observes the program from outside: spans wrap calls into
the program's public functions, and the counters come from Spark's own
interfaces (``statusTracker``, the local UI's ``/api/v1`` REST endpoints,
``QueryPlanningTracker`` and ``StreamingQueryProgress``).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import sys
import time
import urllib.request

#: Cores of the local master.
CORES = 4

#: Heap of the single local-mode JVM (the program's own default, 12g, is
#: sized for a larger host). It is also the initial heap, because a heap
#: left to grow on its own, and so the resident set, follows the
#: collector's timing on a contended host as much as the program.
DRIVER_MEM = "2g"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for an empty list."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op) around layer calls.

    Disabled, ``span`` costs one attribute test and records nothing, so the
    untraced run measures the program alone. ``layer`` of a span is the
    part of its name before the first dot."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def overhead(self):
        """Time spent collecting counters: the tracer's own cost."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        children cover, summed by layer."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            for s in self.spans:
                rec = dict(s, start=s["start"] - t0,
                           end=(s["end"] or s["start"]) - t0)
                fh.write(json.dumps(rec, default=str) + "\n")


def wrap_everywhere(tracer: Tracer, func, span: str, on_exit=None) -> None:
    """Span every call of ``func``: replace each reference to it that the
    program's loaded modules hold, the defining module's included, so calls
    through the module and through names bound at import time are both
    seen. ``on_exit(rec, args, result)`` may add counts to the span."""
    def wrapped(*args, **kw):
        with tracer.span(span) as rec:
            result = func(*args, **kw)
            if rec is not None and on_exit is not None:
                on_exit(rec, args, result)
            return result

    wrapped.__wrapped__ = func
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("komodo_data_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is func:
                setattr(mod, attr, wrapped)


# --------------------------------------------------------------------------
# Spark counters
# --------------------------------------------------------------------------

_STAGE_SUMS = {
    "executorRunTime": "exec.run_ms",
    "executorCpuTime": "exec.cpu_ns",
    "jvmGcTime": "exec.gc_ms",
    "shuffleWriteBytes": "shuffle.write_bytes",
    "shuffleReadBytes": "shuffle.read_bytes",
    "shuffleFetchWaitTime": "shuffle.fetch_wait_ms",
    "diskBytesSpilled": "spill.disk_bytes",
    "inputBytes": "input_bytes",
    "numTasks": "tasks",
}


class SparkCounters:
    """Job, stage and storage counters of one Spark application, read from
    the local UI's REST API by job group. Each operation of a traced run
    runs under its own job group, so its jobs can be told apart."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    def settle(self, groups: list[str], timeout: float = 5.0) -> list[dict]:
        """REST job records of ``groups``, once every one has finished (the
        UI store is fed asynchronously by the listener bus)."""
        tracker = self.spark.sparkContext.statusTracker()
        ids = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        deadline = time.perf_counter() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in ids]
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (len(jobs) == len(ids) and done) or time.perf_counter() > deadline:
                return jobs
            time.sleep(0.02)

    def job_metrics(self, jobs: list[dict]) -> dict:
        """Sums over the stages of ``jobs``; skipped stages count nothing."""
        want = {s for j in jobs for s in j["stageIds"]}
        out = {v: 0 for v in _STAGE_SUMS.values()}
        out["stages"] = 0
        if not want:
            return out
        for st in self._get("/stages"):
            if st["stageId"] not in want or st["status"] != "COMPLETE":
                continue
            out["stages"] += 1
            for k, v in _STAGE_SUMS.items():
                out[v] += st.get(k, 0) or 0
        return out

    def held_bytes(self) -> int:
        """Bytes of cached or checkpointed blocks the application holds."""
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self._get("/storage/rdd"))


def job_seconds(jobs: list[dict], prefix: str = "") -> tuple[int, float]:
    """(count, summed wall seconds) of the jobs whose name starts with
    ``prefix``."""
    from datetime import datetime

    def ts(v):
        return datetime.strptime(v.replace("GMT", "+0000"),
                                 "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    sel = [j for j in jobs if j.get("name", "").startswith(prefix)]
    dur = sum(ts(j["completionTime"]) - ts(j["submissionTime"])
              for j in sel if j.get("completionTime"))
    return len(sel), dur


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times of the plan ``df`` last executed, from its
    ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --------------------------------------------------------------------------
# host and process
# --------------------------------------------------------------------------


def host_sample() -> dict:
    """Cumulative steal and total jiffies from /proc/stat, and the 1-min
    load average."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
    except OSError:
        return {}
    return {"total": sum(vals), "steal": vals[7] if len(vals) > 7 else 0,
            "load1": load1}


def host_report(pre: dict, post: dict, probes: list[float]) -> dict:
    """Steal share of CPU time over the run, the 1-min load at its end and
    the median of the ``probe`` timings. A run with 1% or more stolen, a
    load above twice the cores, or a probe a quarter slower than
    ``PROBE_REF_S`` (other tenants of the same cores, which steal does not
    count) is flagged as contaminated."""
    cal = median(probes)
    steal, load1 = 0.0, 0.0
    if pre and post:
        dt = max(1, post["total"] - pre["total"])
        steal = 100.0 * (post["steal"] - pre["steal"]) / dt
        load1 = post["load1"]
    return {"steal_pct": steal, "load1": load1, "probe_s": cal,
            "contaminated": steal >= 1.0 or load1 > 2 * CORES
            or cal > 1.25 * PROBE_REF_S}


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(file count, bytes) of the data files under ``path``, skipping
    Spark's hidden and underscore bookkeeping files."""
    n = size = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")) or not f.endswith(suffix):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


# --------------------------------------------------------------------------
# session set-up
# --------------------------------------------------------------------------


def isolate(work: str) -> None:
    """Keep every file Spark and Python write under ``work``: temp files,
    Spark local dirs, the JVM's tmpdir, the warehouse and Derby."""
    import shlex
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            f"-XX:-UsePerfData -Xms{DRIVER_MEM}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEM} "
        f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + opts)} "
        f"--conf {shlex.quote('spark.sql.warehouse.dir=' + os.path.join(work, 'warehouse'))} "
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.port=0 "
        "pyspark-shell"
    )


def release(spark) -> None:
    """Drop what the program's run left in the session: cached tables,
    every persisted or locally checkpointed RDD, and the model memo that
    references them; then collect garbage in Python, which releases the
    JVM objects Python held for the JVM's collector."""
    import gc

    from komodo_data_spark.operators import model_memo

    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    model_memo._MEMO.clear()
    gc.collect()


#: Median seconds of ``probe`` on the 4-core host the figures come from,
#: over the benchmark's own runs; a run whose probes are a quarter slower
#: is flagged.
PROBE_REF_S = 0.055


def probe() -> float:
    """Seconds of a fixed single-threaded pure-Python loop. It runs no
    Spark and no code of the program, so it gauges the host's speed (other
    tenants of the same cores) and not the program's state."""
    t0 = time.perf_counter()
    x = 0
    for i in range(400_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def new_session():
    """A session from the program's own factory, as its users get one."""
    from komodo_data_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
