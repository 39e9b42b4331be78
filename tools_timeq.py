"""Isolated per-query timing: clean session, bench-style warmup, median of N.

    python tools_timeq.py name [name ...]   # median-of-3 each

Mirrors bench.py's run_once (time from plan construction through noop write,
staged blocks released between samples) so numbers are comparable.
"""
from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from demo_apache_beam_spark.queries import REGISTRY
from demo_apache_beam_spark.session import get_spark
from demo_apache_beam_spark.sources.tables import load_table

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("timeq")
load_table(spark, sf_dir, "events").count()

from bench import _release_staged_blocks  # noqa: E402


def run_once(name: str) -> float:
    t0 = time.perf_counter()
    REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    _release_staged_blocks(spark)
    return wall


print("loadavg", round(os.getloadavg()[0], 2))
for name in sys.argv[1:]:
    samples = sorted(run_once(name) for _ in range(3))
    print(f"{samples[1]:8.3f}s  (min {samples[0]:.3f} max {samples[2]:.3f})  {name}", flush=True)
