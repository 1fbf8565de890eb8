"""bench.py owns the one tiny-input session profile; every script under
scripts/ must import cleanly and take its session confs from it.

Nothing here builds a session: a builder .config() on the shared test
session would switch AQE off for every later test."""

import glob
import importlib
import os

import pytest

from bench import bench_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))


@pytest.mark.parametrize(
    "cpus,shuffle,split",
    [(1, "1", "16m"), (2, "2", "8m"), (4, "4", "4m"), (8, "4", "2m"), (32, "4", "2m")],
)
def test_bench_conf_derives_from_cores(cpus, shuffle, split):
    assert bench_conf(cpus) == {
        "spark.sql.shuffle.partitions": shuffle,
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
        "spark.sql.files.maxPartitionBytes": split,
    }


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports(path):
    # the module body only: every script keeps its work behind __main__
    importlib.import_module(f"scripts.{os.path.splitext(os.path.basename(path))[0]}")


def test_no_script_sets_aqe():
    offenders = [p for p in SCRIPTS if '"spark.sql.adaptive.enabled"' in open(p).read()]
    assert offenders == []


def test_child_cpu_parses_cutime_and_cstime():
    from scripts.profile_query import child_cpu_s, jvm_child_cpu_s

    # a command name with spaces and parentheses; utime/stime 500/60,
    # cutime/cstime 170/100 clock ticks
    stat = (
        "4242 (java (main) x) S 1 4242 4242 0 -1 4194560 9 0 0 0 "
        "500 60 170 100 20 0 42 0 1234 5678 90"
    )
    assert child_cpu_s(stat, 100) == 2.7
    assert child_cpu_s(stat, 10) == 27.0
    # a pid with no /proc entry reads as n/a, never a number
    assert jvm_child_cpu_s(2**31 - 1) is None


@pytest.mark.parametrize(
    "master,manager",
    [
        ("local[4]", "org.apache.spark.sql.execution.streaming.checkpointing."
         "FileSystemBasedCheckpointFileManager"),
        ("spark://cluster:7077", None),
    ],
)
def test_session_conf_checkpoint_manager(master, manager):
    # local masters rename checkpoint files in-process; cluster masters
    # keep Spark's default (FileContext: atomic no-overwrite rename)
    from ray_beam_runner_spark.session import session_conf

    conf = session_conf(master, 8)
    assert conf.get("spark.sql.streaming.checkpointFileManagerClass") == manager
    assert conf["spark.sql.shuffle.partitions"] == "8"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    # a caller's extra_conf still wins
    mine = {"spark.sql.streaming.checkpointFileManagerClass": "my.Manager",
            "spark.sql.shuffle.partitions": "2"}
    conf = session_conf(master, 8, mine)
    assert conf["spark.sql.streaming.checkpointFileManagerClass"] == "my.Manager"
    assert conf["spark.sql.shuffle.partitions"] == "2"


def test_session_conf_disables_dataframe_debugging():
    # PySpark 4's per-Column call-site capture costs py4j round trips on
    # every expression a query builds; the engine turns it off, and a
    # caller's extra_conf still wins
    from ray_beam_runner_spark.session import session_conf

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert session_conf("local[4]", 8)[key] == "false"
    assert session_conf("spark://cluster:7077", 8)[key] == "false"
    assert session_conf("local[4]", 8, {key: "true"})[key] == "true"
