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
