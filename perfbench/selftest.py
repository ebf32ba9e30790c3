"""Self-test of the benchmark's oracles at tiny sizes.

    python3 perfbench/selftest.py

For each workload shape, runs one operation as is and one whose output
is corrupted before the oracle sees it (a visited set missing one url,
one flipped ``pixels_ok``). The first must pass and the second must
fail, and the failure must show in the run's failure share exactly as
``run.py`` counts it. Exits non-zero on any mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench import harness  # noqa: E402
from perfbench.crawl import PoliteHosts, TinyCrawl  # noqa: E402
from perfbench.payload import TinyCorpus  # noqa: E402
from perfbench.run import timed_window  # noqa: E402


class TinyPolite(PoliteHosts):
    n_pages = 1_000
    n_hosts = 50


def drop_one_url(results):
    first = results.agg(F.min("url_norm")).first()[0]
    return results.where(F.col("url_norm") != first)


def flip_one_pixels_ok(validated):
    first = validated.agg(F.min("image_id")).first()[0]
    return validated.withColumn(
        "pixels_ok", F.when(F.col("image_id") == first, ~F.col("pixels_ok"))
        .otherwise(F.col("pixels_ok")))


CASES = [
    ("bfs_open", TinyCrawl, drop_one_url),
    ("polite_hosts", TinyPolite, drop_one_url),
    ("payload_curate", TinyCorpus, flip_one_pixels_ok),
]


def failed_frac(wl) -> tuple[float, list]:
    off = harness.Tracer("selftest", enabled=False)
    ops = timed_window(wl, off, 0, keep_last=False)
    return sum(1 for o in ops if o["errors"]) / len(ops), ops[-1]["errors"]


def check_benchmark_json() -> bool:
    """BENCHMARK.json lists exactly the metrics run.py prints."""
    import json

    from perfbench.metrics import END_TO_END, PER_LAYER

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ok = all({m["name"]: m["unit"] for m in bench[key]} == want
             for key, want in (("end_to_end", END_TO_END),
                               ("per_layer", PER_LAYER)))
    print(f"{'PASS' if ok else 'FAIL'} BENCHMARK.json metrics match "
          "metrics.py", flush=True)
    return ok


def main() -> int:
    bad = 0 if check_benchmark_json() else 1
    work = harness.prepare_process()
    try:
        spark = harness.build_spark(work)
        for name, cls, corrupt in CASES:
            wl = cls(spark, seed=7, work=work)
            wl.setup()
            wl.prepare_oracle()
            clean, errs = failed_frac(wl)
            wl.corrupt = corrupt
            broken, broken_errs = failed_frac(wl)
            ok = clean == 0.0 and broken == 1.0
            bad += not ok
            print(f"{'PASS' if ok else 'FAIL'} {name}: clean ops_failed_frac"
                  f" {clean} {errs}; corrupted ops_failed_frac {broken}"
                  f" {broken_errs}", flush=True)
        spark.stop()
    finally:
        try:
            harness.stop_children()
        finally:
            harness.cleanup(work)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
