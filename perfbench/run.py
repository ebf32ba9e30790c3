"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bfs_open --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The line before it carries the run's details: every
operation, the failure share and the host-noise probe.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = {
    "bfs_open": ("perfbench.crawl", "BfsOpen"),
    "polite_hosts": ("perfbench.crawl", "PoliteHosts"),
    "payload_curate": ("perfbench.payload", "PayloadCurate"),
}
# the layers a workload does not run itself get replayed on this in
# its traced run
SIDE = {
    "bfs_open": ("perfbench.payload", "TinyCorpus"),
    "polite_hosts": ("perfbench.payload", "TinyCorpus"),
    "payload_curate": ("perfbench.crawl", "TinyCrawl"),
}
SETUP_REPS = 3


def _load(spec):
    module, cls = spec
    return getattr(importlib.import_module(module), cls)


def timed_window(wl, tracer, seconds: float, keep_last: bool) -> list[dict]:
    """Closed loop, one operation at a time, until ``seconds`` have
    passed; at least one operation. An operation that raises counts as
    failed and ends the window."""
    ops = []
    deadline = time.monotonic() + seconds
    while True:
        try:
            op = wl.op(tracer)
        except Exception:
            traceback.print_exc()
            ops.append({"wall": None, "errors": ["raised"]})
            break
        ops.append(op)
        if time.monotonic() >= deadline:
            break
        wl.release(op)
    if ops[-1]["wall"] is not None and not keep_last:
        wl.release(ops[-1])
    return ops


def summary(ops: list[dict]) -> list[dict]:
    return [{"wall_s": o["wall"], "items": o.get("items"),
             "steps_s": o.get("steps", []), "errors": o["errors"]}
            for o in ops]


def run(args) -> dict:
    work = harness.prepare_process()
    try:
        import simplecrawler_spark  # noqa: F401  (absent → exit 1)

        spark = harness.build_spark(work)
        probes = [harness.host_probe()]
        wl = _load(WORKLOADS[args.workload])(spark, args.seed, work)
        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.monotonic()
            wl.setup()
            setups.append(time.monotonic() - t0)
        t0 = time.monotonic()
        wl.warm()
        warm_s = time.monotonic() - t0
        wl.prepare_oracle()

        # a traced run splits its measuring time between an untraced
        # and a traced window
        window = args.seconds / 2 if args.trace else args.seconds
        off = harness.Tracer(f"{args.workload}-{args.seed}", enabled=False)
        ops = timed_window(wl, off, window, keep_last=False)
        rss = harness.peak_rss_mb()
        probes.append(harness.host_probe())
        done = [o for o in ops if o["wall"] is not None]
        if not done:
            raise RuntimeError("no operation completed")
        detail = {"workload": args.workload, "seed": args.seed,
                  "setup_reps_s": setups, "warm_s": warm_s,
                  "ops": summary(ops)}
        if not args.trace:
            metrics = {
                "items_per_s": harness.median(
                    [o["items"] / o["wall"] for o in done]),
                "round_p50_s": harness.median(
                    [s for o in done for s in o["steps"]]),
                "setup_s": harness.median(setups),
                "driver_rss_mb": rss,
            }
            units = END_TO_END
        else:
            metrics, more = traced(args, spark, wl, work, done, window)
            ops += more
            probes.append(harness.host_probe())
            units = PER_LAYER
        failed = sum(1 for o in ops if o["errors"])
        detail["ops_failed_frac"] = failed / len(ops)
        detail["notes"] = wl.notes
        detail["host_probe_s"] = probes
        print(json.dumps(detail, default=str))
        return {"correct": failed == 0, "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u}
                            for k, u in units.items()}}
    finally:
        try:
            from pyspark.sql import SparkSession
            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
        finally:
            try:
                harness.stop_children()
            finally:
                harness.cleanup(work)


def traced(args, spark, wl, work, untraced: list[dict], window: float):
    """The traced window (event log attached, spans on), then the
    per-layer replays. Returns (metrics, every op it ran)."""
    from perfbench.sparklog import EventLog

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tr = harness.Tracer(run_id, enabled=True)
    log = EventLog(spark, os.path.join(work, "eventlog"))
    t0 = time.time() * 1000.0
    with tr.span("traced_window"):
        ops = timed_window(wl, tr, window, keep_last=True)
    t1 = time.time() * 1000.0
    log.close()
    done = [o for o in ops if o["wall"] is not None]
    if not done:
        raise RuntimeError("no traced operation completed")
    metrics = wl.layers(tr, done)
    metrics.update(log.task_totals(t0, t1))
    wl.release(done[-1])

    side = _load(SIDE[args.workload])(spark, args.seed, work)
    with tr.span("side"):
        side.setup()
        side.prepare_oracle()
        side_op = side.op(tr)
        metrics.update(side.layers(tr, [side_op]))
    side.release(side_op)

    # the untraced operations ran first, so JIT warm-up still under way
    # when they ran reads as lower tracing overhead
    metrics["trace_overhead_frac"] = (
        harness.median([o["wall"] for o in done])
        / harness.median([o["wall"] for o in untraced]) - 1.0)
    metrics["host.probe_s"] = harness.host_probe()
    tr.write(os.path.join(harness.STATE_DIR, "traces", f"{run_id}.json"))
    return metrics, ops + [side_op]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
