"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Protocol follows BASELINE.md (as amended): warm session at JVM steady
state. The declared set is swept WARMUP_SWEEPS times un-timed (JVM JIT
compilation dominates the first sweeps: measured 11.0s -> 2.2s -> 1.6s ->
1.3s -> steady ~1.2s at sf0.1 — standard JMH practice for JVM engines).
Every query — headline AND extended (unified in round 8; the headline
set previously used a fixed 4-sweep min and absorbed ±14-47% scheduler
jitter the extended set no longer suffered) — then reports a
time-budgeted min: >=3 timed runs, and sub-second queries keep sampling
to ~2 s of timed data (cap $SPARK_GRAFT_MAX_RUNS, default 10) — on
those, scheduling jitter IS the runtime and a fixed-small-N min left
±16-39% tails between identical-code runs. The headline metric is the
sum over the declared set. The DuckDB baseline is likewise
warm-cache/second-run (BASELINE.md §2), so steady-state-vs-steady-state
is the like-for-like comparison. Measured repeatability of THIS
protocol (two identical-code runs, this VM): median |delta| ~8%,
tails to ~30% under external load — the residual is machine-level
throughput drift (multi-second execution-bound queries swing 28%
between runs), so treat single-round deltas under ~1.3x as noise and
trust direction only when it persists across rounds.
scripts/bench_scaling.py
measures how the ratio to DuckDB amortizes as data grows past the
per-job scheduling floor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ray_beam_runner_spark import get_spark
from ray_beam_runner_spark.queries import QUERIES

# The BASELINE.md declared set (headline metric = sum of these).
BENCH_SET = ("q_agg", "q_join", "q_window", "q_events_window", "q_distinct")
# Extended set: timed and reported, not part of the headline sum.
EXTRA_SET = (
    "q_gbk",
    "q_session_window",
    "q_asof_join",
    "q_returned_items",
    "q_moving_agg",
    "q_dedup_minhash_lsh",
    "q_similarity_topk",
    "q_text_stats",
    "q_quality_filter",
    "q_repetition",
    "q_forecast_revenue",
    "q_market_share",
    "q_recent_ship_priority",
    "q_decontaminate",
    "q_pii_scrub",
    "q_chunk_documents",
    "q_stratified_sample",
    "q_important_stock",
    # round 4
    "q_dedup_ngram_jaccard",
    "q_dedup_semantic",
    "q_collapse_repeats",
    "q_vocab_topk",
    "q_range_join",
    "q_dedup_spans",
    "q_token_entropy",
    "q_tfidf_keywords",
    "q_unigram_logppl",
    "q_decayed_engagement",
    "q_funnel",
    "q_retention_cohorts",
    "q_data_quality",
    # round 6
    "q_sequence_pack",
    "q_corpus_shuffle",
    "q_pmi_pairs",
    "q_bigram_logppl",
    "q_sketch_distinct",
    # round 7
    "q_sequence_pack_sharded",
    "q_multimodal_image",
    "q_multimodal_video",
    "q_bpe_pair_counts",
    "q_pagerank",
    "q_bigram_kn_logppl",
    # round 8
    "q_dedup_span_removal",
    "q_kmeans",
    "q_pq_topk",
    "q_snapshot_delete",
    "q_ivfpq_topk",
    "q_scd2",
    "q_temperature_mix",
    "q_sketch_freq",
    # round 9
    "q_snapshot_delete_dv",
    "q_dedup_phash",
    "q_quality_classifier",
    "q_trigram_kn_logppl",
    "q_sequence_pack_ffd",
    "q_ivfpq_incremental",
    # round 9 (late additions)
    "q_snapshot_merge_dv",
    "q_triangle_count",
    "q_split_leakage_safe",
    "q_chunk_cdc",
    "q_sketch_quantiles",
    "q_audio_frames",
    "q_hard_negatives",
    "q_chunk_shared",
    "q_dedup_phash_clusters",
    "q_text_bm25",
    # round 10
    "q_corpus_ivm",
    "q_snapshot_rename",
    "q_hybrid_search_rrf",
    "q_fuzzy_join",
    "q_incremental_fuzzy",
    "q_weighted_sample",
    "q_robust_outliers",
    "q_bfs_layers",
    "q_scd2_asof_enrich",
    "q_interval_join",
    "q_peak_concurrency",
    "q_concurrency_global",
    "q_open_at_purchase",
    "q_active_time",
    "q_active_time_global",
    "q_cumulative_uniques",
    "q_grouping_sets",
    # round 11 (q_ann_refit / q_incremental_minhash excluded by size:
    # both are multi-commit lifecycle demos — 43 s / 27 s at sf0.1,
    # ~3.5 min of bench budget for numbers that measure the demo's
    # commit count, not an operator's throughput; their wall time is
    # recorded every round by the ORACLE_SWEEP lane instead)
    "q_snapshot_widen",
    "q_snapshot_sync",
    "q_shortest_paths",
)


def run_query(fn, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    # Arrow-batched materialization: computes every column (count() would
    # let Catalyst prune the projections) without row-at-a-time py4j cost.
    n = len(df.toPandas())
    dt = time.perf_counter() - t0
    assert n >= 0
    return dt


def bench_cpus() -> int:
    """Effective core count: the bench is re-run at a lower
    $SPARK_GRAFT_CPUS to measure core-count response, so the profile
    derives from it and the JSON states what was actually used (r16
    verdict ask #2: without this a reader cannot distinguish "honored
    but floor-bound" from "ignored")."""
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.cpu_count() if cpus_env == "*" else int(cpus_env)


def bench_conf(cpus: int) -> dict[str, str]:
    """The tiny-input session profile (measured on this VM, headline set
    at sf0.1; BASELINE.md §4): these knobs size the plan to a ~16 MB
    corpus the same way shuffle partitions are sized to a cluster.
    Cluster deployments use the get_spark defaults (AQE on, 128m splits,
    2-3x cores shuffle partitions).
    - shuffle_partitions=4: 32 reduce tasks over 16 MB is scheduling
      overhead, not parallelism (0.88s -> 0.74s measured).
    - AQE off: runtime re-planning has per-stage fixed cost that only
      pays for itself when stage statistics can change the plan — at
      16 MB it cannot (skew/coalesce do nothing) but still costs ~8%.
    - constraintPropagation off: pure planning-time saver on multi-join
      trees (plan_total 62ms -> 36ms measured for the 5 queries).
    - maxPartitionBytes=2m: the scan stage otherwise runs as ONE task
      (16 MB < 128m split) leaving 31 cores idle (0.74s -> 0.63s).
    Split and shuffle scale with the core count BY CHOICE (identical to
    the historical constants at cpus >= 8, so rounds stay comparable):
    ~8 scan tasks / 4 reduce tasks fit any core count >= 8 at this
    corpus size; below 8 cores both shrink so no stage exceeds the
    cores available."""
    return {
        "spark.sql.shuffle.partitions": str(min(4, max(1, cpus))),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
        "spark.sql.files.maxPartitionBytes": (
            "2m" if cpus >= 8 else f"{max(2 * (8 // max(cpus, 1)), 2)}m"
        ),
    }


def bench_session(app_name: str, extra_conf: dict | None = None):
    """get_spark with bench_conf for this process's core count: the one
    session profile every measurement script shares with bench.py."""
    conf = {**bench_conf(bench_cpus()), **(extra_conf or {})}
    return get_spark(app_name, extra_conf=conf)


def budgeted_min(fn, spark, sf_dir) -> tuple[float, int, float]:
    """Variance-targeted min (r8 verdict ask #5, extending the r6/r7
    budgeted-min protocol): at least 3 timed runs, keep sampling
    sub-second queries until ~2 s of timed samples, and keep sampling
    ANY query until the min CONVERGES: the two smallest samples within
    SPARK_GRAFT_CONV_PCT (default 3%) of each other, cap
    SPARK_GRAFT_MAX_RUNS (default 10). Rationale, measured on this VM: a
    fixed sample count leaves the min estimator unconverged exactly on
    the queries where per-stage scheduling jitter IS the runtime,
    producing ±16-39% deltas on untouched code; gating on min-gap
    targets the variance directly instead of guessing a count. Returns
    (min, n_samples, min_gap) — the sample count and residual gap are
    emitted into the bench JSON so round-over-round drift is
    diagnosable per query."""
    from ray_beam_runner_spark.caches import release_tracked

    min_runs = max(1, int(os.environ.get("SPARK_GRAFT_EXTRA_RUNS", "3")))
    budget = float(os.environ.get("SPARK_GRAFT_EXTRA_BUDGET_SEC", "2.0"))
    conv = float(os.environ.get("SPARK_GRAFT_CONV_PCT", "3")) / 100.0
    cap = max(min_runs, int(os.environ.get("SPARK_GRAFT_MAX_RUNS", "10")))
    samples: list[float] = []
    while True:
        dt = run_query(fn, spark, sf_dir)
        release_tracked()  # drop operator-persisted intermediates
        spark.catalog.clearCache()  # isolate queries (no leaked persists)
        samples.append(dt)
        n, spent = len(samples), sum(samples)
        s = sorted(samples)
        gap = (s[1] - s[0]) / s[0] if n >= 2 else float("inf")
        if n >= cap:
            break
        if n >= min_runs and gap <= conv and (spent >= budget or s[0] >= 1.0):
            break
    s = sorted(samples)
    return round(s[0], 4), len(samples), round((s[1] - s[0]) / s[0], 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    cpus = bench_cpus()
    spark = bench_session("bench")

    from ray_beam_runner_spark.caches import release_tracked

    timings: dict[str, float] = {}
    samples_out: dict[str, int] = {}
    gaps_out: dict[str, float] = {}
    # 5 warm-up sweeps: the JIT curve at sf0.1 is still descending at 3
    # (measured 0.78s headline after 3+2 sweeps vs 0.69s after 5+4).
    warmup_sweeps = int(os.environ.get("SPARK_GRAFT_WARMUP_SWEEPS", "5"))
    headline = [n for n in BENCH_SET if n in QUERIES]
    for _ in range(warmup_sweeps):  # JVM JIT + page cache warm-up
        for name in headline:
            run_query(QUERIES[name], spark, sf_dir)
    for name in headline:
        timings[name], samples_out[name], gaps_out[name] = budgeted_min(
            QUERIES[name], spark, sf_dir
        )

    for name in (n for n in EXTRA_SET if n in QUERIES):
        fn = QUERIES[name]
        run_query(fn, spark, sf_dir)  # warm: plan cache + OS page cache
        release_tracked()
        timings[name], samples_out[name], gaps_out[name] = budgeted_min(fn, spark, sf_dir)

    total = round(sum(timings[n] for n in BENCH_SET if n in timings), 4)
    detail = {
        "metric": "bench_declared_set_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "samples": samples_out,
        "min_gap": gaps_out,
        "sf": sf,
        # Scaling-contract observability (r16 verdict ask #2): what the
        # session ACTUALLY ran with, so a low-core re-run is
        # distinguishable from an ignored $SPARK_GRAFT_CPUS.
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "max_partition_bytes": spark.conf.get("spark.sql.files.maxPartitionBytes"),
    }
    # Round-9 verdict ask #5: the one-line JSON outgrew the driver's 2 KB
    # stdout-tail capture (BENCH_r09 parsed: null). Emit the full record
    # first for humans/scripts, persist it to a detail file, and make
    # the FINAL line a compact (<2 KB) headline record so a tail-window
    # parse always sees a complete JSON object.
    # Round-11 verdict ask #7: every run (driver, judge, builder) used to
    # clobber the single BENCH_DETAIL.json, destroying round-over-round
    # per-query history. $SPARK_GRAFT_DETAIL_OUT names the output; the
    # default stays BENCH_DETAIL.json for tooling compatibility, but the
    # builder commits round-stamped copies (BENCH_DETAIL_r{N}.json).
    print(json.dumps(detail))
    detail_name = os.environ.get("SPARK_GRAFT_DETAIL_OUT", "BENCH_DETAIL.json")
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name),
            "w",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print(
        json.dumps(
            {
                "metric": "bench_declared_set_total",
                "value": total,
                "unit": "sec",
                "queries": {n: timings[n] for n in BENCH_SET if n in timings},
                "sf": sf,
                "cpus": cpus,
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "detail": detail_name,
            }
        )
    )


if __name__ == "__main__":
    main()
