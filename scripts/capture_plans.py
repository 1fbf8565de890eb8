"""Capture .explain("formatted") for named declared queries into
plans/r17/<query>_<tag>.txt — the optimization round's plan evidence
(guide §1: record the plan shape before and after every change).

Usage: python scripts/capture_plans.py <tag> <query> [query ...]
       python scripts/capture_plans.py <tag> --bench-set
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_SET, bench_session
from ray_beam_runner_spark.plans.explain import formatted_plan
from ray_beam_runner_spark.queries import QUERIES


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if "--bench-set" in names:
        names = [n for n in names if n != "--bench-set"] + list(BENCH_SET)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r17",
    )
    os.makedirs(out_dir, exist_ok=True)
    # bench.py's session profile so the captured plan is the benched plan
    spark = bench_session("capture_plans")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        p = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(p, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {p}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
