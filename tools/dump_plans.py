"""Dump .explain("formatted") for declared queries into plans/<tag>/.

The judge cannot run Spark; these files are the plan evidence for the
optimization round (OPTIMIZATION_r12.md references them).

Usage: python tools/dump_plans.py <out_dir> [suffix] [name ...]
  e.g. python tools/dump_plans.py plans/r12 before vamana_knn ivf_knn
       python tools/dump_plans.py plans/r12 before        # all declared
  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001 — plan SHAPE
  is sf-independent; tiny sf keeps build-time jobs cheap)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod
from scalablevectorsearch_spark.session import get_spark


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            text = plan_of(df)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            text = f"PLAN DUMP FAILED: {e}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(("FAIL " if name in failures else "ok   ") + name)
    print(f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
