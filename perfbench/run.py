#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints progress on stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — every ``end_to_end`` metric of BENCHMARK.json with
``--trace 0``, every ``per_layer`` metric with ``--trace 1``. A full
record of the run (all numbers, steal trace summary, spans) is written
under perfbench/.runs/.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test sizes (no fingerprint check)")
    return ap.parse_args(argv)


def select_metrics(spec: list[dict], values: dict, required: bool) -> dict:
    """{name: {value, unit}} for every metric in ``spec``. End-to-end
    metrics (``required``) must all have been measured; a per-layer
    metric the run did not measure — its layer is not on this workload's
    path, its wrap target is gone, or its operations all failed (which
    the tally reports) — reads MISSING rather than a number."""
    from perfbench.workloads import MISSING

    out = {}
    for m in spec:
        name = m["name"]
        v = values.get(name)
        if v is None:
            if required:
                raise RuntimeError(f"end-to-end metric {name} not measured")
            v = MISSING
        out[name] = {"value": float(v), "unit": m["unit"]}
    return out


# a run must end within 180 s; past this, dump every thread's stack, kill
# the driver JVM (its Python workers exit with it) and exit non-zero
WATCHDOG_S = 170


def _watchdog() -> None:
    from pyspark import SparkContext

    faulthandler.dump_traceback(all_threads=True)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=10)
    os._exit(3)


def main(argv=None) -> int:
    args = parse_args(argv)
    timer = threading.Timer(WATCHDOG_S, _watchdog)
    timer.daemon = True
    timer.start()
    sys.path.insert(0, ROOT)
    import sparkrec  # noqa: F401  fails fast outside a full checkout

    from perfbench import inputs
    from perfbench.workloads import WORKLOADS, Run, execute

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    run = Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
              traced=bool(args.trace),
              sizes=inputs.TINY if args.tiny else inputs.FULL)
    t0 = time.perf_counter()
    execute(run)
    wall = time.perf_counter() - t0

    key = "per_layer" if run.traced else "end_to_end"
    values = run.layers if run.traced else run.e2e
    metrics = select_metrics(spec[key], values, required=not run.traced)
    result = {"correct": run.tally.correct, "attempted": run.tally.attempted,
              "failed": run.tally.failed, "metrics": metrics}

    record = {"workload": run.workload, "seed": run.seed,
              "seconds": run.seconds, "trace": args.trace,
              "run_wall_s": wall, "result": result, "end_to_end": run.e2e,
              "layers": run.layers, "notes": run.notes,
              "failures": run.tally.failures,
              "missing_spans": run.tracer.missing,
              "spans": run.tracer.dump()}
    out_dir = os.path.join(HERE, ".runs")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{run.workload}-s{run.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    steal = run.notes.get("steal", {})
    print(f"[perfbench] {run.workload} seed={run.seed} wall={wall:.1f}s "
          f"steal_mean={steal.get('steal_vcpu_mean', 0):.3f} "
          f"failures={run.tally.failures[:3]}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    timer.cancel()
    return 0


if __name__ == "__main__":
    sys.exit(main())
