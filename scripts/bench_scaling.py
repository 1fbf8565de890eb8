"""Scaling study: how the Spark/DuckDB ratio on the headline bench set
amortizes as data grows past Spark's per-job scheduling floor.

BASELINE.md compares the 5-query declared set at sf0.1, where the whole
corpus is ~16 MB and both engines finish in milliseconds of actual work —
at that size the comparison measures Spark's fixed per-job cost (~0.1 s
job scheduling on this VM, 2-3 jobs per query), not throughput. This
script quantifies the amortization claim with measurements instead of
hand-waving:

1. Builds scaled replicas of the five headline tables (lineitem, orders,
   customer, nation, events) by unioning N key-offset copies — keys are
   shifted per copy (new orderkeys/custkeys/userids) so join selectivity
   and group cardinalities scale the way a larger corpus would, not by
   inflating per-key group sizes.
2. Times DuckDB on the scaled dir: the BASELINE.md protocol (warm cache,
   second run timed), same oracle SQL the correctness gate uses.
3. Times Spark on the SAME files: the bench.py protocol (steady-state:
   3 warm-up sweeps for JIT, min of 2 timed sweeps).

Usage: python scripts/bench_scaling.py [--mults 10,100] [--out BENCH_SCALING.json]
Scaled data lands in /root/repo/.benchdata/x{N}/ (gitignored).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_SET  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".benchdata")
TABLES = ("lineitem", "orders", "customer", "nation", "events")

# per-table key columns to offset per replica copy (cardinality-preserving
# scale-up: every copy introduces NEW orders/customers/users). Columns in
# the same KEY DOMAIN (a PK and the FKs referencing it) must share ONE
# span, computed as the max over every member — per-table spans would
# shift orders.o_custkey by a different amount than customer.c_custkey
# whenever their maxima differ (customers with no orders), misaligning
# replica copies' foreign keys.
KEY_DOMAINS = {
    "orderkey": (("lineitem", "l_orderkey"), ("orders", "o_orderkey")),
    "custkey": (("orders", "o_custkey"), ("customer", "c_custkey")),
    "eventkey": (("events", "event_id"),),
    "userkey": (("events", "user_id"),),
}


def _domain_spans(con) -> dict[tuple[str, str], int]:
    """(table, column) -> shared per-copy offset span for its key domain."""
    out: dict[tuple[str, str], int] = {}
    for members in KEY_DOMAINS.values():
        span = max(
            con.execute(
                f"SELECT max({col}) + 1 FROM read_parquet('{SRC}/{tbl}.parquet')"
            ).fetchone()[0]
            for tbl, col in members
        )
        for member in members:
            out[member] = span
    return out


def build_scaled(mult: int) -> str:
    import duckdb

    out_dir = os.path.join(ROOT, f"x{mult}")
    done_marker = os.path.join(out_dir, ".done")
    if os.path.exists(done_marker):
        return out_dir
    # big legs chain off the largest already-built divisor (x1000 = 10
    # copies of x100, not a 1000-branch union re-read of the source)
    base_mult, base_dir = 1, SRC
    for m in sorted(
        int(d[1:]) for d in os.listdir(ROOT)
        if d.startswith("x") and d[1:].isdigit()
        and os.path.exists(os.path.join(ROOT, d, ".done"))
    ) if os.path.isdir(ROOT) else []:
        if m < mult and mult % m == 0:
            base_mult, base_dir = m, os.path.join(ROOT, f"x{m}")
    copies = mult // base_mult
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # per-copy span over the BASE dir = source-domain span * base_mult
    spans = {
        member: span * base_mult for member, span in _domain_spans(con).items()
    }
    for tbl in TABLES:
        src = _pq(f"{base_dir}/{tbl}.parquet")
        keys = {col: span for (t_, col), span in spans.items() if t_ == tbl}
        if not keys:  # small dims copy through unchanged
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) TO '{out_dir}/{tbl}.parquet' (FORMAT PARQUET)"
            )
            continue
        if copies <= 10 and base_mult == 1:
            parts = []
            for i in range(copies):
                sel = ", ".join(
                    [f"{k} + {i * keys[k]} AS {k}" if k in keys else k for k in _cols(con, src)]
                )
                parts.append(f"SELECT {sel} FROM read_parquet('{src}')")
            union = " UNION ALL ".join(parts)
            con.execute(f"COPY ({union}) TO '{out_dir}/{tbl}.parquet' (FORMAT PARQUET)")
            continue
        # large legs: one COPY per replica into a directory-table —
        # bounded memory (a monolithic union buffers the whole result
        # before the write) and the multi-file layout a corpus this
        # size would really have
        tdir = os.path.join(out_dir, f"{tbl}.parquet")
        os.makedirs(tdir, exist_ok=True)
        for i in range(copies):
            sel = ", ".join(
                [f"{k} + {i * keys[k]} AS {k}" if k in keys else k for k in _cols(con, src)]
            )
            con.execute(
                f"COPY (SELECT {sel} FROM read_parquet('{src}')) "
                f"TO '{tdir}/copy-{i:04d}.parquet' (FORMAT PARQUET)"
            )
    open(done_marker, "w").close()
    return out_dir


def _pq(path: str) -> str:
    """read_parquet-able form of a table path: the file itself, or a
    glob over a directory-table's part files."""
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def _cols(con, src) -> list[str]:
    return [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]


def time_duckdb(data_dir: str) -> dict[str, float]:
    import duckdb

    from ray_beam_runner_spark.queries import ORACLE

    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{_pq(f'{data_dir}/{tbl}.parquet')}')"
        )
    out = {}
    for name in BENCH_SET:
        sql = ORACLE[name]
        con.execute(sql).df()  # warm (page cache + plan)
        t0 = time.perf_counter()
        con.execute(sql).df()  # pandas materialization, symmetric with Spark's toPandas
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def size_to_leg(spark, data_dir: str, tables, mult: int, shuffle_by_mult: dict) -> None:
    """Size the session to the leg's input, the same way bench.py sizes
    sf0.1 (and a cluster deployment sizes shuffle partitions to its
    executors) — one fixed conf either starves the x1 leg with reduce
    tasks or scans the x100 leg too coarsely:
    - scan splits: biggest of ``tables`` / ~2 tasks per core, floored at
      bench.py's 2 MB; matches DuckDB's row-group parallelism on the
      same files.
    - shuffle partitions: ``shuffle_by_mult[mult]`` (64 past the map);
      scheduling cost dominates under ~50 MB of shuffle input, so grow
      with the leg instead of paying 32 reduce tasks on a 16 MB corpus."""

    def _sz(p: str) -> int:
        if os.path.isdir(p):
            return sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p))
        return os.path.getsize(p)

    paths = (os.path.join(data_dir, f"{t}.parquet") for t in tables)
    biggest = max(_sz(p) for p in paths if os.path.exists(p))
    split = max(2 * 1024 * 1024, biggest // 64)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_by_mult.get(mult, 64)))


def time_spark(data_dir: str, mult: int, warmups: int = 3, timed: int = 2) -> dict[str, float]:
    from ray_beam_runner_spark import get_spark
    from ray_beam_runner_spark.queries import QUERIES

    # q_window's result is row-proportional (top-3 per customer): at
    # x1000 the driver merge is >1 GiB of Arrow batches — raise the
    # collect cap (the materialization is the benchmark's protocol,
    # symmetric with DuckDB's .df())
    spark = get_spark(
        "bench-scaling", extra_conf={"spark.driver.maxResultSize": "8g"}
    )
    size_to_leg(spark, data_dir, TABLES, mult, {1: 4, 10: 8, 100: 16})
    out: dict[str, float] = {}
    for _ in range(warmups):
        for name in BENCH_SET:
            len(QUERIES[name](spark, data_dir).toPandas())
    for _ in range(timed):
        for name in BENCH_SET:
            t0 = time.perf_counter()
            len(QUERIES[name](spark, data_dir).toPandas())
            dt = round(time.perf_counter() - t0, 4)
            out[name] = min(out.get(name, dt), dt)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,10,100")
    ap.add_argument("--out", default="BENCH_SCALING.json")
    args = ap.parse_args()
    results = {}
    if os.path.exists(args.out):  # merge: keep legs from earlier runs
        with open(args.out) as f:
            results = json.load(f)
    for mult in [int(m) for m in args.mults.split(",")]:
        data_dir = SRC if mult == 1 else build_scaled(mult)
        duck = time_duckdb(data_dir)
        spark = time_spark(data_dir, mult)
        d_sum = round(sum(duck.values()), 4)
        s_sum = round(sum(spark.values()), 4)
        results[f"x{mult}"] = {
            "duckdb": duck,
            "spark": spark,
            "duckdb_sum": d_sum,
            "spark_sum": s_sum,
            "ratio": round(s_sum / d_sum, 2),
        }
        print(json.dumps({f"x{mult}": results[f"x{mult}"]}), flush=True)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=2)


if __name__ == "__main__":
    main()
