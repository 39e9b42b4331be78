"""Capture .explain('formatted') for registry queries into plans/<tag>/.

    python tools_capture_plans.py <tag> <suffix> [name ...]

writes plans/<tag>/<name>_<suffix>.txt, e.g. suffix ``before`` on the parent
commit and ``after`` on the change. With no names, captures every registry query. Store-backed queries may run
store-build jobs on first touch; plans are captured after that (steady state,
the shape the bench times).
"""
from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

if len(sys.argv) < 3:
    sys.exit(__doc__)
tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]

from demo_apache_beam_spark.plans.inspect import explain_str
from demo_apache_beam_spark.queries import REGISTRY
from demo_apache_beam_spark.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
out_dir = os.path.join(REPO_ROOT, "plans", tag)
os.makedirs(out_dir, exist_ok=True)

spark = get_spark("plan-capture")

todo = names or list(REGISTRY)
for name in todo:
    spec = REGISTRY[name]
    try:
        df = spec.fn(spark, sf_dir)
        plan = explain_str(df)
    except Exception as e:  # capture the failure, keep going
        plan = f"ERROR building plan: {type(e).__name__}: {e}\n"
    with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
        f.write(plan)
    print(name, "ok" if not plan.startswith("ERROR") else "ERROR", flush=True)
