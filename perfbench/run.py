#!/usr/bin/env python3
"""Benchmark of the building-energy engine on its own workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload hvac_batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Workloads: hvac_batch, registry_sf0.1 (see perfbench/README.md for what
each measures and why).

A run generates its inputs from ``--seed`` under ``.perfbench/`` in the
working directory, sets up ``SETUP_ROUNDS`` times (session start and the
workload's own set-up through the package), runs the workload's
measured units, checks the outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off. With ``--trace 1`` the same units run under the tracer, the
spans go to ``.perfbench/trace-<workload>-<seed>.json``, and the metrics
are the per-layer ones; ``trace.unit_s`` minus an untraced run's
``unit_s`` is the tracing overhead seen end to end, ``trace.overhead_s``
the tracer's own time per unit. The exit code is 0 only when every
output check passed and no operation failed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

# each workload runs the parts named here in one process; a unit of the
# workload is one unit of every part, one after the other
WORKLOADS = {
    "hvac_batch": ["wl_hvac"],
    "registry_sf0.1": ["wl_registry", "wl_alerts"],
}
SETUP_ROUNDS = 3


class Workload:
    """The parts of a workload, driven as one: every hook calls each
    part's own in turn, with that part's state."""

    def __init__(self, parts: list[str]):
        self.parts = {p: importlib.import_module(p) for p in parts}

    def _each(self, hook: str):
        return [(p, getattr(m, hook)) for p, m in self.parts.items() if hasattr(m, hook)]

    def inputs(self, ctx) -> None:
        for _, fn in self._each("inputs"):
            fn(ctx)

    def prepare(self, spark, ctx) -> dict:
        return {p: fn(spark, ctx) for p, fn in self._each("prepare")}

    def prologue(self, spark, st) -> None:
        for p, fn in self._each("prologue"):
            fn(spark, st[p])

    def units(self, seconds: int) -> int:
        return max((fn(seconds) for _, fn in self._each("units")), default=1)

    def unit(self, spark, st, tracer, ops, i) -> None:
        for p, fn in self._each("unit"):
            fn(spark, st[p], tracer, ops, i)

    def check(self, spark, st, records: dict) -> list[str]:
        return [e for p, fn in self._each("check") for e in fn(spark, st[p], records)]

    def per_layer(self, tracer, st) -> dict:
        return {k: v for p, fn in self._each("per_layer") for k, v in fn(tracer, st[p]).items()}


def run_units(wl, spark, state, tracer, ops, n: int) -> list[float]:
    """Run ``n`` units; return the wall time of each completed unit. A
    unit whose operation raised is counted in ``ops`` and skipped."""
    walls = []
    for i in range(n):
        t0 = time.perf_counter()
        try:
            with tracer.span(harness.UNIT, unit=i):
                wl.unit(spark, state, tracer, ops, i)
        except Exception:
            harness.eprint(ops.errors[-1] if ops.errors else traceback.format_exc())
            continue
        walls.append(time.perf_counter() - t0)
    return walls


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    sys.path.insert(0, ROOT)
    # Python renders collected timestamps in local time; pin it to the
    # session time zone (UTC) so the checks compare like with like
    os.environ["TZ"] = "UTC"
    time.tzset()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = Workload(WORKLOADS[workload])
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_dir, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = {"seed": seed, "work": work}
    wl.inputs(ctx)  # the benchmark's own input files, not set-up of the program
    phases: dict[str, float] = {}
    clock = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - clock[0], 3)
        clock[0] = now

    spark = None
    try:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        spark, state, setup_s, setup_samples = harness.timed_setup(
            ROOT, tmp, SETUP_ROUNDS, lambda s: wl.prepare(s, ctx)
        )
        host = harness.host_fingerprint(spark)
        phase("setup")
        wl.prologue(spark, state)  # untimed warm-up
        phase("warm_up")
        tracer = harness.Tracer(spark, trace, f"{workload}-{seed}-{os.getpid()}")
        ops = harness.Ops()
        walls = run_units(wl, spark, state, tracer, ops, wl.units(seconds))
        memory = harness.memory_mb(spark)
        phase("units")
        unit_s = harness.median(walls) if walls else 0.0
        if trace:
            tracer.collect_counters()
            metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
            metrics.update(wl.per_layer(tracer, state))
            metrics["host.cpu_probe_ms"] = host["cpu_probe_ms"]
            metrics["trace.unit_s"] = unit_s
            metrics["trace.overhead_s"] = tracer.own_s / max(1, len(walls))
            tracer.write(
                os.path.join(out_dir, f"trace-{workload}-{seed}.json"),
                {"host": host, "per_layer": metrics},
            )
        else:
            metrics = {"setup_s": setup_s, "memory_mb": memory, "unit_s": unit_s}
        records: dict = {}
        # each failed check names one operation whose output was wrong
        wrong = wl.check(spark, state, records) if walls else ["no unit completed"]
        errors = ops.errors + wrong
        phase("check")
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    phase("stop")
    for e in errors:
        harness.eprint(f"CHECK FAILED: {e}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({"host": host, "workload": workload, "seed": seed,
                      "units": len(walls), "setup_samples_s": setup_samples,
                      "phases_s": phases, "records": records}))
    correct = not errors
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed + len(wrong),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(seed: int, seconds: int, trace: int) -> int:
    """Every workload, each in its own process, one after another."""
    worst = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        print(json.dumps({"workload": name, "exit": proc.returncode, "result": result}))
        worst = max(worst, proc.returncode)
    return worst


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, harness.PKG)):
        harness.eprint(f"perfbench: package {harness.PKG!r} not found under {ROOT}")
        return 2
    if a.workload == "all":
        return run_all(a.seed, a.seconds, a.trace)
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
