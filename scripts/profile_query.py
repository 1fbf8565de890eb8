"""Where did a query's time and jobs go? For each named query, on the
bench.py session profile (bench_session):

1. the bench's budgeted-min wall (bench.budgeted_min, after one warm run,
   exactly as bench.py times the extended set);
2. one more run with the Spark event log on, listing its jobs in
   submission order: driver gap before the job, run time, stage count
   and the package call site of the DataFrame action that launched it,
   then the totals for job wall and driver gap, and the CPU the JVM's
   reaped child processes used during that run (``cutime + cstime`` of
   ``/proc/<jvm pid>/stat``; ``n/a`` without ``/proc``). Without
   Hadoop's native library the JVM forks ``chmod``/``readlink`` for
   local file permission and rename calls, and this is their cost.

Call sites ride the event log itself: every DataFrame action (and
writer / spark.sql call) is wrapped for the logged run so it sets the
job description to "<action> @ <file>:<line> (<function>)" of the
deepest ray_beam_runner_spark frame on the stack. Jobs launched outside
a wrapped action show their first stage's name in brackets.

A query's jobs are those submitted while its logged run was on the
wall clock, so jobs from streaming or other driver threads count too.
Job wall sums the jobs' run times (overlapping jobs count twice); a gap
is time with no job running.

Usage: python scripts/profile_query.py q_name [q_name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
and bench.py's budgeted-min knobs.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import tempfile
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import budgeted_min, bench_session, run_query  # noqa: E402
from ray_beam_runner_spark.queries import QUERIES  # noqa: E402


def _site() -> str:
    """Deepest package frame on the stack, else the action's caller."""
    stack = traceback.extract_stack()[:-2]  # drop _site and the wrapper
    pkg = [f for f in stack if "ray_beam_runner_spark" in f.filename]
    best = pkg[-1] if pkg else next(
        f for f in reversed(stack) if f"{os.sep}pyspark{os.sep}" not in f.filename
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return f"{os.path.relpath(best.filename, root)}:{best.lineno} ({best.name})"


@contextlib.contextmanager
def call_sites(sc):
    """Wrap the DataFrame actions so each sets the job description to
    its call site; nested actions (first -> head -> collect) keep the
    outermost one's description (per thread: foreachBatch callbacks run
    their actions on the streaming thread)."""
    from pyspark.sql import DataFrameWriter, SparkSession

    # Spark 4: instances are pyspark.sql.classic.dataframe.DataFrame,
    # whose own methods shadow a wrapper on the pyspark.sql.DataFrame
    # base class — wrap the classic class or every action is missed.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    local = threading.local()
    originals = []

    def wrap(cls, name):
        orig = getattr(cls, name)
        originals.append((cls, name, orig))

        def wrapped(self, *a, **k):
            if getattr(local, "active", False):
                return orig(self, *a, **k)
            local.active = True
            sc.setJobDescription(f"{name} @ {_site()}")
            try:
                return orig(self, *a, **k)
            finally:
                sc.setJobDescription(None)
                local.active = False

        setattr(cls, name, wrapped)

    for m in (
        "collect", "count", "first", "head", "toPandas", "foreach",
        "foreachPartition", "localCheckpoint", "checkpoint", "isEmpty",
        "tail", "toLocalIterator",
    ):
        wrap(DataFrame, m)
    for m in ("parquet", "save", "csv", "text", "json"):
        wrap(DataFrameWriter, m)
    wrap(SparkSession, "sql")
    try:
        yield
    finally:
        for cls, name, orig in originals:
            setattr(cls, name, orig)


def read_jobs(evdir: str) -> list[dict]:
    """Jobs of the one application logged in ``evdir``, in submission
    order: id, description, first-stage name, stage count,
    submission and completion ms."""
    (entry,) = os.listdir(evdir)
    path = os.path.join(evdir, entry)
    if os.path.isdir(path):  # rolling event log: a directory of parts
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")
        )
    else:
        files = [path]
    jobs: dict[int, dict] = {}
    for fp in files:
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    infos = ev.get("Stage Infos") or [{}]
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "desc": props.get("spark.job.description") or "",
                        "stage": min(infos, key=lambda s: s.get("Stage ID", 0)).get(
                            "Stage Name", ""
                        ),
                        "stages": len(ev.get("Stage IDs", [])),
                        "t0": ev["Submission Time"],
                        "t1": None,
                    }
                elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
    return [jobs[j] for j in sorted(jobs)]


def child_cpu_s(stat: str, hz: int) -> float:
    """Reaped-children CPU seconds (cutime + cstime, fields 16-17) of a
    ``/proc/<pid>/stat`` line. The command name (field 2) may hold spaces
    and parentheses, so fields are counted from its closing paren."""
    fields = stat[stat.rindex(")") + 2 :].split()  # fields[0] is field 3
    return (int(fields[13]) + int(fields[14])) / hz


def jvm_child_cpu_s(pid: int) -> float | None:
    """child_cpu_s of a live process; None where /proc is missing."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return child_cpu_s(f.read(), os.sysconf("SC_CLK_TCK"))
    except OSError:
        return None


def report(
    name: str, jobs: list[dict], t_start: float, t_end: float, child_cpu: float | None
) -> None:
    """Print one query's jobs; t_start/t_end bound the logged run in ms;
    child_cpu is the JVM's reaped-children CPU over it (None: n/a)."""
    prev = t_start
    tot_job = tot_gap = 0.0
    print(f"--- jobs for {name} (logged run {(t_end - t_start) / 1000:.3f}s) ---")
    for j in jobs:
        gap = max(0.0, (j["t0"] - prev) / 1000)
        run = (j["t1"] - j["t0"]) / 1000 if j["t1"] else float("nan")
        prev = max(prev, j["t1"] or prev)  # jobs may overlap
        tot_gap += gap
        tot_job += run if j["t1"] else 0.0
        site = j["desc"].split("\n")[0] or f"[{j['stage']}]"
        print(
            f"  job {j['id']:4d}  gap {gap:6.3f}s  run {run:7.3f}s  "
            f"stages {j['stages']:3d}  {site}"
        )
    tot_gap += max(0.0, (t_end - prev) / 1000)
    print(
        f"  TOTAL jobs={len(jobs)} stages={sum(j['stages'] for j in jobs)} "
        f"job wall {tot_job:.3f}s, driver gaps {tot_gap:.3f}s"
    )
    cpu = "n/a" if child_cpu is None else f"{child_cpu:.3f}s"
    print(f"  JVM reaped-children CPU {cpu}")


def profile(names: list[str], sf_dir: str, evdir: str) -> None:
    spark = bench_session(
        "profile_query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        },
    )
    from ray_beam_runner_spark.caches import release_tracked

    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    windows = {}
    for name in names:
        fn = QUERIES[name]
        run_query(fn, spark, sf_dir)  # warm: plan cache + OS page cache
        release_tracked()
        best, n, gap = budgeted_min(fn, spark, sf_dir)
        print(f"=== {name}: budgeted min {best:.4f}s ({n} samples, min gap {gap:.1%})")
        sys.stdout.flush()
        with call_sites(sc):
            c0 = jvm_child_cpu_s(jvm_pid)
            t0 = int(time.time() * 1000)  # event-log times are whole ms
            run_query(fn, spark, sf_dir)
            t1 = time.time() * 1000
            c1 = jvm_child_cpu_s(jvm_pid)
        release_tracked()
        spark.catalog.clearCache()
        windows[name] = (t0, t1, None if c0 is None or c1 is None else c1 - c0)

    spark.stop()  # flushes the event log
    jobs = read_jobs(evdir)
    for name in names:
        t0, t1, child_cpu = windows[name]
        report(name, [j for j in jobs if t0 <= j["t0"] <= t1], t0, t1, child_cpu)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with tempfile.TemporaryDirectory(prefix="rbrs_evlog_") as evdir:
        profile(sys.argv[1:], sf_dir, evdir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
