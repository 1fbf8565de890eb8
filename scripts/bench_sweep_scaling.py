"""Scaling leg for the sweep-line family (round-10 verdict ask #6): the
"no global window" claim, measured. Times the three sweep queries on the
scaled events replicas (.benchdata/x{N} built by bench_scaling.py) and
records events/s per leg — near-flat per-row cost across 10x/100x/1000x
growth is the evidence that the two-pass bucketed prefix sum scales
where the textbook global window cannot.

DuckDB runs the same oracle SQL per leg for reference: its timeline
query IS the single-stream global window (sum() OVER (ORDER BY t) over
every boundary point), i.e. exactly the plan shape the Spark side
refuses — so the ratio directly prices the distributed sweep against
the sequential sweep on identical files.

Usage: python scripts/bench_sweep_scaling.py [--mults 1,10,100] [--out BENCH_SWEEP_SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.bench_scaling import size_to_leg  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".benchdata"
)
SWEEP_SET = ("q_concurrency_global", "q_open_at_purchase", "q_cumulative_uniques")


def _pq(path: str) -> str:
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def _events_rows(data_dir: str) -> int:
    import duckdb

    return duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{_pq(f'{data_dir}/events.parquet')}')"
    ).fetchone()[0]


def time_duckdb(data_dir: str) -> dict[str, float]:
    import duckdb

    from ray_beam_runner_spark.queries import ORACLE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{_pq(f'{data_dir}/events.parquet')}')"
    )
    out = {}
    for name in SWEEP_SET:
        sql = ORACLE[name]
        con.execute(sql).df()  # warm
        t0 = time.perf_counter()
        con.execute(sql).df()
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def time_spark(data_dir: str, mult: int, warmups: int = 2, timed: int = 2) -> dict[str, float]:
    from ray_beam_runner_spark import get_spark
    from ray_beam_runner_spark.queries import QUERIES

    spark = get_spark(
        "bench-sweep-scaling", extra_conf={"spark.driver.maxResultSize": "8g"}
    )
    size_to_leg(spark, data_dir, ("events",), mult, {1: 4, 10: 8, 100: 32})
    out: dict[str, float] = {}
    for _ in range(warmups):
        for name in SWEEP_SET:
            len(QUERIES[name](spark, data_dir).toPandas())
    for _ in range(timed):
        for name in SWEEP_SET:
            t0 = time.perf_counter()
            len(QUERIES[name](spark, data_dir).toPandas())
            dt = round(time.perf_counter() - t0, 4)
            out[name] = min(out.get(name, dt), dt)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,10,100")
    ap.add_argument("--out", default="BENCH_SWEEP_SCALING.json")
    ap.add_argument("--skip-duck", action="store_true")
    args = ap.parse_args()
    results = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            results = json.load(f)
    for mult in [int(m) for m in args.mults.split(",")]:
        data_dir = SRC if mult == 1 else os.path.join(ROOT, f"x{mult}")
        if mult != 1 and not os.path.exists(os.path.join(data_dir, ".done")):
            print(f"[x{mult}] missing {data_dir} — run bench_scaling.py first", file=sys.stderr)
            continue
        rows = _events_rows(data_dir)
        leg = {"events_rows": rows}
        spark_t = time_spark(data_dir, mult)
        leg["spark"] = spark_t
        leg["spark_events_per_sec"] = {
            k: round(rows / v) for k, v in spark_t.items()
        }
        if not args.skip_duck:
            duck_t = time_duckdb(data_dir)
            leg["duckdb"] = duck_t
            leg["ratio_spark_over_duck"] = {
                k: round(spark_t[k] / duck_t[k], 3) for k in spark_t
            }
        results[f"x{mult}"] = leg
        print(f"[x{mult}] {json.dumps(leg)}", file=sys.stderr)
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
