"""Per-query orchestration profile: #jobs, #stages, #tasks, wall.

Counts are load-independent (scheduling structure, not timing) and expose
queries whose cost is many small jobs (localCheckpoints, count() probes,
store bootstraps) rather than real compute.

    python tools_r13_jobprofile.py [out.json] [name ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from demo_apache_beam_spark.queries import REGISTRY
from demo_apache_beam_spark.session import get_spark

out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/jobprofile.json"
names = sys.argv[2:] or list(REGISTRY)

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("jobprofile")
sc = spark.sparkContext

# warm like bench.py does
from demo_apache_beam_spark.sources.tables import load_table

load_table(spark, sf_dir, "events").count()

tracker = sc.statusTracker()
results = {}
for name in names:
    spec = REGISTRY[name]
    group = f"prof_{name}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        err = None
    except Exception as e:
        wall = time.perf_counter() - t0
        err = f"{type(e).__name__}: {e}"[:200]
    sc.setJobGroup("idle", "idle")
    jobs = tracker.getJobIdsForGroup(group)
    n_stages = 0
    n_tasks = 0
    for j in jobs:
        ji = tracker.getJobInfo(j)
        if ji is None:
            continue
        for s in ji.stageIds:
            si = tracker.getStageInfo(s)
            if si is not None:
                n_stages += 1
                n_tasks += si.numTasks
    results[name] = {
        "jobs": len(jobs),
        "stages": n_stages,
        "tasks": n_tasks,
        "wall": round(wall, 3),
        "err": err,
    }
    print(name, results[name], flush=True)

with open(out_path, "w") as f:
    json.dump(results, f, indent=1, sort_keys=True)
