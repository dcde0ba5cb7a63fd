"""Fast self-check of the benchmark on the ``sf0.001`` tables.

    python3 perfbench/selfcheck.py

Runs every workload of ``BENCHMARK.json`` with small inputs, once untraced
and once traced, and checks each result line: the exact keys, every
metric present with its unit, finite values, no failed operation, and
per-layer self times that add up to no more than the traced wall time.
It prints the tracing overhead, traced minus untraced, for each workload.
Exits 1 at the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"selfcheck: {workload} trace={trace} exited "
                         f"{out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(res: dict, wanted: list[dict], what: str) -> None:
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"selfcheck: {what}: keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        raise SystemExit(f"selfcheck: {what}: correct={res['correct']} "
                         f"failed={res['failed']} attempted={res['attempted']}")
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not math.isfinite(got["value"]):
            raise SystemExit(f"selfcheck: {what}: metric {m['name']} is {got}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        name = w["name"]
        plain = run(name, 0)
        check(plain, bench["end_to_end"], f"{name} untraced")
        traced = run(name, 1)
        check(traced, bench["per_layer"], f"{name} traced")
        lv = {k: v["value"] for k, v in traced["metrics"].items()}
        if lv["trace.self_sum_s"] > lv["trace.wall_s"] * 1.001:
            raise SystemExit(f"selfcheck: {name}: self times {lv['trace.self_sum_s']}"
                             f" exceed the wall time {lv['trace.wall_s']}")
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        print(f"{name}: ok; tracing overhead pass_s "
              f"{lv['trace.pass_s'] - e2e['pass_s']:+.3f} s, op_s_p50 "
              f"{lv['trace.op_s_p50'] - e2e['op_s_p50']:+.3f} s "
              f"(counter collection {lv['trace.overhead_s']:.3f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
