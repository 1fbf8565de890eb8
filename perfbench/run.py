#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public API.

    python3 perfbench/run.py --workload pipeline_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. One client issues one op at a time and waits
for its result. The inputs are generated from the seed (and cached under
``.perfbench/``) before the clock starts; results are checked outside the
op timer. With ``--trace 0`` the last line of stdout carries the
end-to-end metrics, with ``--trace 1`` the per-layer ones; the line before
it holds the full record (every metric, sample counts, run environment).
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
# relational_x10 is not in BENCHMARK.json: see README.md.
WORKLOADS = ("pipeline_mix", "table_maintenance", "relational_x10")
SETUP_REPS = 3
# The metrics of the result line of an untraced run. The detail line
# holds the rest (latencies, peak RSS, space_amp).
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s"}
DETAIL_UNITS = {
    **END_TO_END,
    "op_geomean_ms": "ms",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "commit_p50_ms": "ms",
    "commit_p90_ms": "ms",
    "read_p50_ms": "ms",
    "read_p90_ms": "ms",
    "space_amp": "ratio",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.build_ms": "ms",
    "queries.jobs_per_op": "count",
    "queries.stages_per_op": "count",
    "queries.tasks_per_op": "count",
    "plans.plan_ms": "ms",
    "plans.exchanges_per_op": "count",
    "operators.exec_ms": "ms",
    "functions.text.exec_ms": "ms",
    "functions.similarity.exec_ms": "ms",
    "functions.clustering.exec_ms": "ms",
    "pipeline.build_ms": "ms",
    "pipeline.exec_ms": "ms",
    "pipeline.elements": "count",
    "caches.released_per_op": "count",
    "caches.release_ms": "ms",
    "streaming.start_ms": "ms",
    "streaming.batches_per_op": "count",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.drain_ms": "ms",
    "snapshots.upsert_ms": "ms",
    "snapshots.delete_ms": "ms",
    "snapshots.jobs_per_commit": "count",
    "snapshots.read_build_ms": "ms",
    "snapshots.read_exec_ms": "ms",
    "snapshots.files_live": "count",
    "snapshots.manifest_ms": "ms",
    "snapshots.pruned_frac": "ratio",
    "snapshots.rows_rewritten_per_changed_row": "ratio",
    "snapshots.compact_ms": "ms",
    "snapshots.vacuum_ms": "ms",
    "snapshots.bytes_written_per_commit": "bytes",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pct(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _latency(values: list[float], prefix: str) -> dict:
    """Median, and p90 where at least 100 samples support it, in ms."""
    out = {f"{prefix}_samples": len(values)}
    if values:
        out[f"{prefix}_p50_ms"] = statistics.median(values) * 1e3
    if len(values) >= 100:
        out[f"{prefix}_p90_ms"] = _pct(values, 0.9) * 1e3
    return out


def _rss_mb(pid: int | None) -> float:
    """Peak resident set of this process plus the JVM, in MB."""
    import resource

    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if pid:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024
    return mb


def _cpu_probe_ms() -> float:
    """Best of three timings of a fixed pure-Python loop. On a shared host
    single-core speed drifts by tens of percent, and this shows it."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        total = 0
        for i in range(300_000):
            total += i
        best = min(best, time.perf_counter() - t)
    return best * 1e3


def _environment(spark, seed: int, inputs: dict, start: dict) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm  # noqa: SLF001
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": start["loadavg"],
        "loadavg_end": os.getloadavg(),
        "cpu_probe_ms_start": start["cpu_probe_ms"],
        "cpu_probe_ms_end": _cpu_probe_ms(),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": seed,
        "inputs": inputs,
    }


class Session:
    """The engine's session as shipped (``get_spark()``), on ``local[nproc]``."""

    def __init__(self):
        from ray_beam_runner_spark import get_spark

        self._get = get_spark
        self.spark = get_spark()
        gateway = self.spark.sparkContext._gateway  # noqa: SLF001
        self.proc = getattr(gateway, "proc", None)

    def restart(self):
        self.spark.stop()
        self.spark = self._get()
        return self.spark

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway  # noqa: SLF001
        if gateway is not None:
            gateway.shutdown()
        if self.proc is not None:
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - the JVM did not exit in time
                self.proc.kill()
                self.proc.wait()


def _make_workload(name: str, ctx, seed: int):
    import data
    import workloads as W

    if name == "relational_x10":
        return W.RelationalX10(ctx), {}
    if name == "pipeline_mix":
        return W.PipelineMix(ctx), {}
    script = os.path.join(CACHE, "tm", f"seed{seed}")
    return W.TableMaintenance(ctx, script), {"tm_script": data.ensure_tm(CACHE, seed)}


def run(args) -> dict:
    import numpy as np

    import data
    from tracing import JobCounter, Tracer, stream_listener
    from workloads import Ctx

    start = {"loadavg": os.getloadavg(), "cpu_probe_ms": _cpu_probe_ms()}
    tables = "x10" if args.workload == "relational_x10" else "base"
    inputs = {tables: data.ensure_tables(CACHE, tables)}
    work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(None, tracer, {k: os.path.join(CACHE, k) for k in ("base", "x10")}, work)
    wl, more_inputs = _make_workload(args.workload, ctx, args.seed)
    inputs.update(more_inputs)
    wl.prepare()  # oracle results and models: input-derived, untimed

    # -- set-up: launch once, register inputs SETUP_REPS times, load, and
    # run the workload's untimed warm-up rounds of its own ops -------------
    t0 = time.perf_counter()
    session = Session()
    ctx.spark = session.spark
    launch_s = time.perf_counter() - t0
    reg = []
    try:
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            if rep:
                ctx.spark = session.restart()
            wl.setup()
            reg.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.load()
        load_s = time.perf_counter() - t
        rounds = wl.rounds(np.random.default_rng([args.seed, WORKLOADS.index(args.workload)]))
        t = time.perf_counter()
        warm = [_warm_op(op, tracer) for _ in range(wl.warmup_rounds) for op in next(rounds)]
        warmup_s = time.perf_counter() - t
        setup_s = launch_s + statistics.median(reg) + load_s + warmup_s
        tracer.add("session.start_s", launch_s)
        tracer.add("session.warmup_s", warmup_s)

        jobs = listener = None
        if tracer.enabled:
            jobs = JobCounter(ctx.spark)
            listener = stream_listener(tracer)
            ctx.spark.streams.addListener(listener)

        # -- timed closed loop ------------------------------------------------
        # A fixed number of whole rounds, sized to --seconds at the
        # workload's nominal round time, so every run does the same work.
        records = []  # (name, kind, seconds, ok)
        timed_rounds = max(1, round(args.seconds / wl.round_seconds))
        for ops in itertools.islice(rounds, timed_rounds):
            for op in ops:
                records.append(_run_op(op, len(records), tracer, jobs, listener))
        extra = {"timed_rounds": timed_rounds, **wl.extra()}
        peak = _rss_mb(session.proc.pid if session.proc else None)
        env = _environment(ctx.spark, args.seed, inputs, start)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    if tracer.enabled:
        tracer.dump(os.path.join(CACHE, f"trace-{args.workload}-seed{args.seed}.json"))
    return _report(args, records, warm, setup_s, reg, peak, extra, env, tracer)


def _warm_op(op, tracer) -> bool:
    """Run and check one untimed warm-up op, with tracing off."""
    enabled, tracer.enabled = tracer.enabled, False
    try:
        return bool(op.check(op.run()))
    except Exception:  # noqa: BLE001 - a failed warm-up op is counted
        traceback.print_exc()
        return False
    finally:
        tracer.enabled = enabled


def _run_op(op, op_id: int, tracer, jobs, listener):
    tracer.op_id = op_id
    if jobs is not None:
        jobs.begin(f"perfbench-op-{op_id}")
        batches = listener.batches
    t = time.perf_counter()
    try:
        res, ok = op.run(), True
    except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
        traceback.print_exc()
        res, ok = None, False
    dt = time.perf_counter() - t
    if jobs is not None:
        n_jobs, n_stages, n_tasks = jobs.end()
        if op.kind == "commit":
            tracer.add("snapshots.jobs_per_commit", n_jobs)
        elif op.kind in ("query", "pipeline"):
            tracer.add("queries.jobs_per_op", n_jobs)
            tracer.add("queries.stages_per_op", n_stages)
            tracer.add("queries.tasks_per_op", n_tasks)
        if listener.batches > batches:
            tracer.add("streaming.batches_per_op", listener.batches - batches)
    if ok:
        try:
            ok = bool(op.check(res))
        except Exception:  # noqa: BLE001 - a check that raises is a wrong result
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"perfbench: wrong result from op {op_id} ({op.name})", file=sys.stderr)
    if tracer.enabled:
        if ok and op.after is not None:
            op.after(res)
        for name in {s["name"] for s in tracer.spans if s["op"] == op_id}:
            tracer.add(f"{name}_ms", tracer.op_ms(op_id, name))
    return op.name, op.kind, dt, ok


def _report(args, records, warm, setup_s, reg, peak, extra, env, tracer) -> dict:
    lat = [r[2] for r in records]
    # Correctness covers the warm-up ops too; the metrics cover timed ops.
    attempted = len(records) + len(warm)
    failed_all = sum(not r[3] for r in records) + warm.count(False)
    wall = sum(lat)
    per_op = {
        name: statistics.median(r[2] for r in records if r[0] == name) * 1e3
        for name in sorted({r[0] for r in records})
    }
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "setup_s": setup_s,
        "setup_register_s": reg,
        "ops": len(records),
        "ops_per_s": len(records) / wall,
        **_latency(lat, "op"),
        # Every op name weighs the same, however long its ops take.
        "op_geomean_ms": statistics.geometric_mean(per_op.values()),
        "error_rate": failed_all / attempted,
        "peak_rss_mb": peak,
        "per_op_p50_ms": per_op,
        **extra,
        "env": env,
    }
    if args.workload == "table_maintenance":
        detail.update(_latency([r[2] for r in records if r[1] == "commit"], "commit"))
        detail.update(_latency([r[2] for r in records if r[1] == "read"], "read"))
    detail["units"] = {name: unit for name, unit in DETAIL_UNITS.items() if name in detail}
    if tracer.enabled:
        summary = tracer.summary({n for n, unit in PER_LAYER.items() if unit not in ("s", "ms")})
        detail["per_layer"] = summary
        detail["self_ms"] = tracer.self_times_ms()
        untraced = _untraced_geomean(args)
        if untraced:
            detail["tracing_overhead"] = detail["op_geomean_ms"] / untraced[0] - 1
            detail["tracing_overhead_vs"] = untraced[1]
        metrics = {
            name: {"value": summary.get(name, {}).get("value", 0.0), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
    else:
        _save_result(args, detail)
        metrics = {name: {"value": detail[name], "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps(detail, default=str))
    return {"correct": failed_all == 0, "attempted": attempted, "failed": failed_all, "metrics": metrics}


def _result_path(args, trace: int) -> str:
    return os.path.join(CACHE, "results", f"{args.workload}-seed{args.seed}-trace{trace}.json")


def _save_result(args, detail: dict) -> None:
    path = _result_path(args, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(detail, f, default=str)


def _untraced_geomean(args) -> tuple[float, str] | None:
    """``op_geomean_ms`` of the untraced run at this workload and seed, else
    the median over every cached untraced run of the workload, with its
    source."""
    path = _result_path(args, trace=0)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["op_geomean_ms"], f"untraced run, seed {args.seed}"
    pattern = os.path.join(CACHE, "results", f"{args.workload}-seed*-trace0.json")
    values = []
    for path in glob.glob(pattern):
        with open(path) as f:
            values.append(json.load(f)["op_geomean_ms"])
    if not values:
        return None
    return statistics.median(values), f"median of {len(values)} untraced runs"


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "ray_beam_runner_spark")):
        print(f"perfbench: no ray_beam_runner_spark package under {ROOT}", file=sys.stderr)
        return 2
    # Spark's Python workers import the package, Spark and Python scratch
    # files stay inside the checkout, and the session runs local[nproc].
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [ROOT, HERE]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
