"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. It writes the base
tables once under ``perfbench/.data`` and everything else under a per-run
directory in ``perfbench/.work`` that it removes at exit, starts Spark on
``local[4]`` through the program's own session factory, runs the workload,
checks its outputs and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing off;
``--trace 1`` wraps the layer calls in spans, reads Spark's counters after
every operation and reports the per-layer metrics instead (spans go to
``perfbench/.out``). ``--seconds`` sets how much work a run does: each
workload converts it into a fixed number of rounds or passes at its
nominal pace, so two commits given the same seconds do the same work.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: Timed set-ups per run, after one untimed; ``setup_s`` is their median.
SETUPS = 5
#: Host speed probes before the set-up and again after the checks.
PROBES = 5


def _metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from ``BENCHMARK.json``.
    Every traced run reports all per-layer metrics; a layer a workload does
    not exercise reads 0."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


class Context:
    """What a workload needs: the session, the tracer and counters, its
    work directory and the run's arguments."""

    def __init__(self, args, work: str, sf_dir: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.sf = args.sf
        self.work = work
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.spark = None
        self.counters = None
        self.stage: dict[str, float] = {}

    def group(self, name: str) -> None:
        """Run the following jobs under job group ``name`` (traced runs)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(name, name)

    def add_stage_metrics(self, m: dict) -> None:
        for k, v in m.items():
            self.stage[k] = self.stage.get(k, 0) + v


def _workloads():
    from corpus_pipeline import CorpusPipeline
    from serve_loop import ServeLoop

    return {w.name: w for w in (ServeLoop, CorpusPipeline)}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1", choices=("0.1", "0.001"),
                    help="base table scale; 0.001 is the self-check's")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import komodo_data_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: the program is not in {root}: {exc}", file=sys.stderr)
        return 2
    import datagen
    import harness

    e2e_units, layer_units = _metric_units()
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the finally
    _remove_stale_work()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    harness.isolate(work)
    sf_dir = datagen.write_tables(os.path.join(HERE, ".data"), args.sf)
    tracer = harness.Tracer(bool(args.trace))
    ctx = Context(args, work, sf_dir, tracer)
    wl = workloads[args.workload](ctx)
    spark = None
    try:
        host_pre = harness.host_sample()
        probes = [harness.probe() for _ in range(PROBES)]
        from pyspark import SparkContext

        phase = {"start": time.perf_counter()}
        SparkContext._ensure_initialized()  # JVM launch, not timed as set-up
        phase["jvm"] = time.perf_counter()
        setups = []
        for i in range(1 + SETUPS):  # the first, untimed, starts Spark up
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = ctx.spark = harness.new_session()
            wl.setup(spark)
            if i:
                setups.append(time.perf_counter() - t0)
        if tracer.enabled:
            ctx.counters = harness.SparkCounters(spark)
        phase["setup"] = time.perf_counter()
        wl.prepare()
        phase["prepare"] = time.perf_counter()
        tracer.spans.clear()
        t0 = time.perf_counter()
        with tracer.span("harness.run"):
            wl.run()
        wall = time.perf_counter() - t0
        rss_mb = harness.jvm_peak_rss_mb(spark)
        phase["run"] = time.perf_counter()
        harness.release(spark)
        wl.check()
        phase["check"] = time.perf_counter()
        probes += [harness.probe() for _ in range(PROBES)]
        host = harness.host_report(host_pre, harness.host_sample(), probes)
        e2e = dict(wl.metrics(), setup_s=harness.median(setups),
                   rss_peak_mb=rss_mb)
        if tracer.enabled:
            values = _layer_values(ctx, wl, e2e, wall, host, layer_units)
            units = layer_units
            tracer.dump(os.path.join(
                HERE, ".out", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            values, units = e2e, e2e_units
        names = list(phase)
        record = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "host": host, "setups": setups,
                  "probes": probes,
                  "phases": {b: phase[b] - phase[a]
                             for a, b in zip(names, names[1:])},
                  "ops": wl.ops, "metrics": values}
        _append_record(record)
        if host["contaminated"]:
            print(f"perfbench: contaminated run (steal {host['steal_pct']:.2f}%, "
                  f"load1 {host['load1']}, probe "
                  f"{host['probe_s']:.3f} s)", file=sys.stderr)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def _remove_stale_work() -> None:
    """Remove work directories left by runs that were killed."""
    root = os.path.join(HERE, ".work")
    for d in os.listdir(root) if os.path.isdir(root) else []:
        pid = d.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _append_record(record: dict) -> None:
    """Keep every run's host sample, phases and metrics in
    ``perfbench/.out/runs.jsonl``."""
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")


def _layer_values(ctx, wl, e2e: dict, wall: float, host: dict,
                  layer_units: dict) -> dict:
    """Per-layer metrics of a traced run; absent layers read 0."""
    from harness import CORES

    tr = ctx.tracer
    st = ctx.stage
    v = {k: 0.0 for k in layer_units}
    v.update({
        "exec.run_s": st.get("exec.run_ms", 0) / 1e3,
        "exec.cpu_s": st.get("exec.cpu_ns", 0) / 1e9,
        "exec.gc_s": st.get("exec.gc_ms", 0) / 1e3,
        "exec.busy_frac": st.get("exec.run_ms", 0) / 1e3 / (wall * CORES),
        "shuffle.write_bytes": st.get("shuffle.write_bytes", 0),
        "shuffle.read_bytes": st.get("shuffle.read_bytes", 0),
        "shuffle.fetch_wait_s": st.get("shuffle.fetch_wait_ms", 0) / 1e3,
        "spill.disk_bytes": st.get("spill.disk_bytes", 0),
        "host.steal_pct": host["steal_pct"],
        "host.load1": host["load1"],
        "host.probe_s": host["probe_s"],
        "trace.overhead_s": tr.overhead_s,
        "trace.spans": len(tr.spans),
        "trace.wall_s": wall,
        "trace.pass_s": e2e["pass_s"],
        "trace.op_s_p50": e2e["op_s_p50"],
    })
    v.update(wl.layer_metrics())
    selfs = tr.self_times()
    for name in layer_units:
        if name.startswith("self."):
            v[name] = selfs.get(name[len("self."):-len("_s")], 0.0)
    v["trace.self_sum_s"] = sum(selfs.values())
    return v


if __name__ == "__main__":
    sys.exit(main())
