"""TPC-H-family scaling leg (round-11 verdict ask #5): the 22 TPC-H-
derived relational shapes are correctness-verified at sf0.01, but only
the 5 headline queries had x100/x1000 evidence — a join-order or plan
regression in the other 17 hides at tiny scale. This runs the full
family at x100 (the cached ~2.3 GB replica from bench_scaling) against
DuckDB on the SAME files and flags any query slower than 2x DuckDB.

Replica semantics: fact tables (lineitem/orders/customer) are the
key-offset x100 copies bench_scaling builds; dimension tables
(part/supplier/nation/region) copy through UNSCALED — scaled facts
reference the original dim keys, so per-dim-key fan-out grows with the
multiplier (each part matches ~100x more lineitems than at x1). That is
a deliberate stress: it punishes plans that fail to broadcast dims or
that put the fat side of a join on the build side.

Usage: python scripts/bench_tpch_scaling.py [--mult 100] [--out BENCH_TPCH_SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.bench_scaling import build_scaled, _pq, size_to_leg  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TPCH_SET = (
    "q_shipping_priority", "q_local_supplier_volume", "q_priority_counts",
    "q_returned_items", "q_promo_revenue", "q_volume_shipping",
    "q_order_exists", "q_top_supplier", "q_idle_rich_customers",
    "q_forecast_revenue", "q_market_share", "q_product_profit",
    "q_late_shipments", "q_order_count_dist", "q_small_qty_revenue",
    "q_large_volume_customer", "q_disjunctive_revenue",
    "q_waiting_supplier", "q_min_cost_supplier", "q_important_stock",
    "q_supplier_relationship", "q_excess_stock_supplier",
    "q_recent_ship_priority",
)
ALL_TABLES = ("lineitem", "orders", "customer", "nation", "region", "supplier", "part", "events")


def ensure_dims(data_dir: str) -> None:
    """Copy through the dimension tables bench_scaling's replica builder
    does not carry (part/supplier/region) — unscaled, see module doc."""
    for tbl in ("part", "supplier", "region"):
        dst = os.path.join(data_dir, f"{tbl}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(SRC, f"{tbl}.parquet"), dst)


def time_duckdb(data_dir: str) -> dict[str, float]:
    import duckdb

    from ray_beam_runner_spark.queries import ORACLE

    con = duckdb.connect()
    for tbl in ALL_TABLES:
        p = os.path.join(data_dir, f"{tbl}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{_pq(p)}')"
            )
    out = {}
    for name in TPCH_SET:
        sql = ORACLE[name]
        con.execute(sql).df()  # warm: page cache + plan
        t0 = time.perf_counter()
        con.execute(sql).df()
        out[name] = round(time.perf_counter() - t0, 4)
        print(f"[duck] {name} {out[name]}s", file=sys.stderr)
    return out


def _tuned_session(data_dir: str, mult: int):
    from ray_beam_runner_spark import get_spark

    spark = get_spark(
        "bench-tpch-scaling", extra_conf={"spark.driver.maxResultSize": "8g"}
    )
    size_to_leg(spark, data_dir, ALL_TABLES, mult, {1: 4, 10: 8, 100: 16})
    # Spark's SHIPPED broadcast threshold (10m), not the repo session's
    # tiny-scale 64m: at x100 the 1.5M-row customer table slips under
    # 64m and gets broadcast — measured 2.3x slower than the shuffle
    # join on q_local_supplier_volume (22.4s vs 9.9s min-of-2). On a
    # real cluster the deploy-default threshold makes the same call.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10m")
    return spark


def time_spark_both(data_dir: str, mult: int) -> tuple[dict, dict, dict, dict]:
    """Plain AND layout-ROUTED family sweeps, INTERLEAVED (round-15):
    sweep k times the plain set then the routed set in the same
    session, min per leg. The r14/early-r15 protocol timed the whole
    plain leg before the whole routed leg; on this shared 32-core box
    the legs drift 10-30% between their time slots, which painted the
    co-located custkey routes as 2x LOSSES that isolated re-measures
    flip to wins (q_order_count_dist routed 0.66 s vs plain 1.12 s,
    q_idle_rich_customers 0.75 vs 0.93). Interleaving pairs each
    plain/routed sample in time so drift hits both legs alike.

    Layouts: lineitem+orders co-bucketed on the order key, plus a
    SECONDARY orders layout on o_custkey and customer@c_custkey (the
    Iceberg second-sort-order pattern; the storage x2 is explicit in
    the recorded build seconds). route_query serves a layout only
    where the query plan earns it: key match + co-location pairing +
    the physical plan must drop an exchange (queries.route_query).
    Returns (plain timings, routed timings, per-query exchange counts
    + routed layout decisions, build seconds per layout)."""
    from ray_beam_runner_spark import queries as Q
    from ray_beam_runner_spark.plans.explain import count_exchanges
    from ray_beam_runner_spark.session import read_parquet_normalized
    from ray_beam_runner_spark.sources import bucketed as bkt

    spark = _tuned_session(data_dir, mult)
    base = os.path.join(data_dir, "_spj_family")
    n_buckets = 32
    # (table, bucket key, sort_within, parquet_block_size, subdir).
    # lineitem_by_shipdate is the round-15 SORT-ORDER layout: same
    # bucket key (so it can pair with orders), sorted within buckets by
    # l_shipdate with 4 MB row groups — route_query's footer probe
    # serves it only to queries whose shipdate range actually prunes
    # (q_recent_ship_priority, q_late_shipments); everything else keeps
    # the key-sorted layout's sort elision.
    layouts = (
        ("lineitem", ["l_orderkey"], None, None, "lineitem"),
        ("lineitem", ["l_orderkey"], ["l_shipdate"], 4 * 1024 * 1024,
         "lineitem_by_shipdate"),
        ("orders", ["o_orderkey"], None, None, "orders"),
        ("orders", ["o_orderkey"], ["o_orderdate"], 4 * 1024 * 1024,
         "orders_by_orderdate"),
        ("orders", ["o_custkey"], None, None, "orders_by_custkey"),
        ("customer", ["c_custkey"], None, None, "customer_by_custkey"),
    )
    build: dict[str, float] = {}
    for tbl, keys, sort_within, block, sub in layouts:
        d = os.path.join(base, sub)
        t0 = time.perf_counter()
        if not os.path.exists(d):
            # one schema-normalization path for BOTH legs (r14 ADVICE
            # #1): a ns-timestamp/NTZ column must not be served as
            # LONG/NTZ through the layout while the plain leg reads it
            # normalized
            bkt.write_bucketed(
                read_parquet_normalized(
                    spark, os.path.join(data_dir, f"{tbl}.parquet")
                ),
                d, keys, n_buckets,
                sort_by=sort_within, parquet_block_size=block,
            )
        build[sub] = round(time.perf_counter() - t0, 3)

    def _clear_table_cache():
        if hasattr(spark, "_rbrs_tables"):
            spark._rbrs_tables.clear()

    def _register():
        for tbl, _keys, _sort, _blk, sub in layouts:
            Q.register_layout(data_dir, tbl, os.path.join(base, sub))
        # the routed leg is "engine fully on": layouts AND catalog
        # statistics (round 16) — layout-served tables read bucketed
        # (path relations, reorder can't move them), router-plain
        # queries get CBO join reordering under route_query's per-query
        # acceptance gate (declared order pinned when a filtered
        # non-broadcastable relation would demote)
        t0 = time.perf_counter()
        Q.enable_stats(spark, data_dir)
        build.setdefault("stats_analyze", round(time.perf_counter() - t0, 3))
        _clear_table_cache()

    def _unregister():
        Q.clear_layouts()
        Q.disable_stats(spark, data_dir)
        _clear_table_cache()

    exchanges: dict[str, dict] = {}
    for name in TPCH_SET:  # plain-plan exchange counts first
        exchanges[name] = {"plain": count_exchanges(Q.QUERIES[name](spark, data_dir))}
    _register()
    try:
        # routing decisions + routed exchange counts; route_query
        # memoizes, but registration churn below clears the memo, so
        # capture the decisions now
        decisions: dict[str, dict] = {}
        hint_memo: dict[str, set] = {}
        reorder_memo: dict[str, dict] = {}
        for name in TPCH_SET:
            exchanges[name]["routed"] = count_exchanges(
                Q.route_query(spark, data_dir, name)
            )
            sel = Q._ROUTE_MEMO.get((os.path.abspath(data_dir), name), {})
            decisions[name] = dict(sel)
            hint_memo[name] = set(
                Q._ROUTE_HINTS.get((os.path.abspath(data_dir), name), set())
            )
            rr = Q._ROUTE_REORDER.get((os.path.abspath(data_dir), name))
            if rr is not None:
                reorder_memo[name] = dict(rr)
                exchanges[name]["cbo_reorder"] = (
                    "accepted" if rr["accepted"] else "declared order pinned"
                )
            exchanges[name]["layouts"] = sorted(
                os.path.basename(d) for d in sel.values()
            )
        plain_t: dict[str, float] = {}
        routed_t: dict[str, float] = {}
        for sweep in range(3):  # sweep 0 = warm-up (untimed)
            _unregister()
            for name in TPCH_SET:
                t0 = time.perf_counter()
                len(Q.QUERIES[name](spark, data_dir).toPandas())
                dt = round(time.perf_counter() - t0, 4)
                if sweep and (name not in plain_t or dt < plain_t[name]):
                    plain_t[name] = dt
            _register()
            # restore the memoized decisions so routed samples never
            # re-pay the probe plans
            for name in TPCH_SET:
                Q._ROUTE_MEMO[(os.path.abspath(data_dir), name)] = decisions[name]
                Q._ROUTE_HINTS[(os.path.abspath(data_dir), name)] = hint_memo[name]
                if name in reorder_memo:
                    Q._ROUTE_REORDER[(os.path.abspath(data_dir), name)] = (
                        reorder_memo[name]
                    )
            for name in TPCH_SET:
                t0 = time.perf_counter()
                len(Q.route_query(spark, data_dir, name).toPandas())
                dt = round(time.perf_counter() - t0, 4)
                if sweep and (name not in routed_t or dt < routed_t[name]):
                    routed_t[name] = dt
            print(f"[spark-both] sweep {sweep} done", file=sys.stderr)
    finally:
        _unregister()
    return plain_t, routed_t, exchanges, build


def time_spj(data_dir: str, mult: int, shuffled_q5_s: float, duck_q5_s: float) -> dict:
    """Storage-partitioned-join leg (round-12 verdict ask #2): write
    lineitem/orders ONCE as co-bucketed snapshot tables on the order
    key (sources/bucketed.py — the one-time layout cost a 100 TB fact
    table amortizes across every subsequent join), then time TPC-H Q5
    over the bucketed layout, where the lineitem x orders join runs
    with ZERO shuffle exchanges. Compared against the same session's
    shuffled plan (q_local_supplier_volume, the family's worst x100
    ratio) and DuckDB on the same logical data. Session confs come from
    _tuned_session (identical engine setup)."""
    from pyspark.sql import functions as F

    from ray_beam_runner_spark.plans.explain import count_exchanges
    from ray_beam_runner_spark.sources import bucketed as bkt

    spark = _tuned_session(data_dir, mult)
    base = os.path.join(data_dir, "_spj")
    li_dir = os.path.join(base, "lineitem")
    ord_dir = os.path.join(base, "orders")
    n_buckets = 32  # ~10^5 at 100 TB; one healthy task per bucket here
    t0 = time.perf_counter()
    if not os.path.exists(li_dir):
        bkt.write_bucketed(
            spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")).select(
                "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
            ),
            li_dir, ["l_orderkey"], n_buckets,
        )
        bkt.write_bucketed(
            spark.read.parquet(os.path.join(data_dir, "orders.parquet")).select(
                "o_orderkey", "o_custkey"
            ),
            ord_dir, ["o_orderkey"], n_buckets,
        )
    build_s = round(time.perf_counter() - t0, 3)

    def q5():
        lo = bkt.storage_partitioned_join(spark, li_dir, ord_dir, "l_orderkey")
        cust = spark.read.parquet(os.path.join(data_dir, "customer.parquet"))
        supp = spark.read.parquet(os.path.join(data_dir, "supplier.parquet"))
        nation = spark.read.parquet(os.path.join(data_dir, "nation.parquet"))
        region = spark.read.parquet(os.path.join(data_dir, "region.parquet")).filter(
            F.col("r_name") == "ASIA"
        )
        return (
            lo.join(cust, F.col("o_custkey") == cust.c_custkey)
            .join(
                supp,
                (F.col("l_suppkey") == supp.s_suppkey)
                & (cust.c_nationkey == supp.s_nationkey),
            )
            .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                    "revenue"
                )
            )
            .orderBy(F.col("revenue").desc())
        )

    # the fact-join core really is exchange-free (same in-query assert
    # as q_spj_local_supplier_volume)
    fact = bkt.storage_partitioned_join(spark, li_dir, ord_dir, "l_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    n_exch = count_exchanges(fact)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # ISOLATED fact-join experiment — the apples-to-apples the layout
    # is about: the SAME physical files joined (a) through the bucketed
    # catalog registration (scan reports HashPartitioning -> zero
    # exchanges) and (b) as plain parquet (planner must shuffle both
    # sides). Identical bytes, identical join, identical aggregate; the
    # difference IS the exchange + sort cost. The full-Q5 comparison
    # below additionally carries the dim joins' x100 fan-out, which the
    # layout does not address and whose noise can swamp the saving.
    from ray_beam_runner_spark.sources.bucketed import bucket_spec as _spec

    li_loc = os.path.join(li_dir, _spec(li_dir)["dir"])
    ord_loc = os.path.join(ord_dir, _spec(ord_dir)["dir"])

    def fact_agg(join_df):
        return join_df.agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )

    def fact_bucketed():
        return fact_agg(bkt.storage_partitioned_join(spark, li_dir, ord_dir, "l_orderkey"))

    def fact_plain():
        li = spark.read.parquet(li_loc)
        od = spark.read.parquet(ord_loc)
        return fact_agg(li.join(od, li.l_orderkey == od.o_orderkey))

    # the family's #2 offender shape (q_order_exists, 18.1x at x100) is
    # a semi-join of the same two tables — bucketing elides its
    # exchange identically
    def semi_agg(join_df):
        return join_df.agg(F.count(F.lit(1)).alias("n"))

    def fact_semi_bucketed():
        return semi_agg(
            bkt.storage_partitioned_join(
                spark, ord_dir, li_dir, "o_orderkey", how="left_semi"
            )
        )

    def fact_semi_plain():
        li = spark.read.parquet(li_loc)
        od = spark.read.parquet(ord_loc)
        return semi_agg(od.join(li, od.o_orderkey == li.l_orderkey, "left_semi"))

    timings: dict[str, float] = {}
    for label, fn in (
        ("fact_bucketed_s", fact_bucketed),
        ("fact_plain_s", fact_plain),
        ("semi_bucketed_s", fact_semi_bucketed),
        ("semi_plain_s", fact_semi_plain),
    ):
        fn().collect()  # warm
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn().collect()
            dt = round(time.perf_counter() - t0, 4)
            best = dt if best is None or dt < best else best
        timings[label] = best

    len(q5().toPandas())  # warm
    spj_s = None
    for _ in range(2):
        t0 = time.perf_counter()
        len(q5().toPandas())
        dt = round(time.perf_counter() - t0, 4)
        spj_s = dt if spj_s is None or dt < spj_s else spj_s
    print(
        f"[spj] build {build_s}s q5 {spj_s}s (shuffled {shuffled_q5_s}s) "
        f"fact bucketed {timings['fact_bucketed_s']}s vs plain {timings['fact_plain_s']}s",
        file=sys.stderr,
    )
    return {
        "query": "q_local_supplier_volume",
        "n_buckets": n_buckets,
        "fact_join_exchanges": n_exch,
        "bucketed_build_s": build_s,
        "fact_bucketed_s": timings["fact_bucketed_s"],
        "fact_plain_s": timings["fact_plain_s"],
        "fact_speedup": round(timings["fact_plain_s"] / timings["fact_bucketed_s"], 3),
        "semi_bucketed_s": timings["semi_bucketed_s"],
        "semi_plain_s": timings["semi_plain_s"],
        "semi_speedup": round(timings["semi_plain_s"] / timings["semi_bucketed_s"], 3),
        "spj_q5_s": spj_s,
        "shuffled_q5_s": shuffled_q5_s,
        "duckdb_q5_s": duck_q5_s,
        "speedup_vs_shuffled": round(shuffled_q5_s / spj_s, 3) if spj_s else None,
        "ratio_vs_duckdb": round(spj_s / duck_q5_s, 3) if duck_q5_s else None,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument("--out", default="BENCH_TPCH_SCALING.json")
    args = ap.parse_args()
    data_dir = build_scaled(args.mult)
    ensure_dims(data_dir)
    duck = time_duckdb(data_dir)
    spark, routed, exchanges, layout_build = time_spark_both(data_dir, args.mult)
    rows = []
    for name in TPCH_SET:
        ratio = round(spark[name] / duck[name], 3) if duck[name] else None
        rows.append(
            {
                "query": name,
                "duckdb_s": duck[name],
                "spark_s": spark[name],
                "ratio": ratio,
                "spark_routed_s": routed[name],
                "ratio_routed": round(routed[name] / duck[name], 3) if duck[name] else None,
                "exchanges_plain": exchanges[name]["plain"],
                "exchanges_routed": exchanges[name]["routed"],
                "routed_layouts": exchanges[name].get("layouts", []),
                "cbo_reorder": exchanges[name].get("cbo_reorder", "n/a"),
            }
        )
    flagged = [r["query"] for r in rows if r["ratio"] and r["ratio"] > 2.0]
    flagged_routed = [
        r["query"] for r in rows if r["ratio_routed"] and r["ratio_routed"] > 2.0
    ]
    spj = time_spj(
        data_dir,
        args.mult,
        spark["q_local_supplier_volume"],
        duck["q_local_supplier_volume"],
    )
    out = {
        "metric": "tpch_family_scaling",
        "mult": args.mult,
        "unit": "sec",
        "rows": rows,
        "spark_total_s": round(sum(spark.values()), 3),
        "spark_total_routed_s": round(sum(routed.values()), 3),
        "duckdb_total_s": round(sum(duck.values()), 3),
        "layout_build_s": layout_build,
        "flagged_over_2x": flagged,
        "flagged_over_2x_routed": flagged_routed,
        "storage_partitioned_join": spj,
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, args.out), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in (
        "metric", "mult", "spark_total_s", "spark_total_routed_s",
        "duckdb_total_s", "flagged_over_2x", "flagged_over_2x_routed",
    )}))


if __name__ == "__main__":
    main()
