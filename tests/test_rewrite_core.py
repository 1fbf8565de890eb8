"""The shared copy-on-write rewrite commit behind MERGE, keyed DELETE,
DELETE WHERE and UPDATE WHERE: Spark jobs per commit, the fused-vs-
two-action detection gate, the Observation fallback and no-op residue."""

import contextlib
import os
import tempfile

from pyspark.sql import functions as F

from ray_beam_runner_spark.sources import snapshots as snap

_SCHEMA = "k int, v string"


def _tdir():
    return tempfile.mkdtemp(prefix="rbrs_core_")


def _table(spark, n=400, n_files=4, **kw):
    t = _tdir()
    snap.write_snapshot(
        spark.createDataFrame([(i, f"v{i}") for i in range(n)], _SCHEMA),
        t, n_files=n_files, **kw,
    )
    return t


def _rows(spark, t):
    return sorted((r.k, r.v) for r in snap.read_snapshot(spark, t).collect())


@contextlib.contextmanager
def _aqe_off(spark):
    # AQE runs each exchange as its own job, so job counts would measure
    # AQE internals instead of the commit's driver actions
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _jobs(spark, fn):
    """Spark jobs submitted while ``fn`` runs, by job-id range (streaming
    micro-batches run on the stream's own thread and job group)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001
    first = int(dag.nextJobId())
    fn()
    return int(dag.nextJobId()) - first


def test_jobs_per_commit(spark):
    """Pins the Spark jobs each rewrite commit launches on a small
    range-clustered table. The counts are exact: a change to the commit
    protocol that adds an action shows up here."""
    with _aqe_off(spark):
        t = _table(spark, cluster_by=["k"])
        upd = spark.createDataFrame([(5, "u5"), (7, "u7"), (1000, "new")], _SCHEMA)
        n_upsert = _jobs(spark, lambda: snap.upsert_snapshot(spark, t, upd, ["k"]))

        src = _tdir()
        ckpt = _tdir()
        spark.createDataFrame([(120, "c120"), (2000, "c2000")], _SCHEMA).write.parquet(
            os.path.join(src, "batch0")
        )
        stream = spark.readStream.schema(_SCHEMA).parquet(os.path.join(src, "batch0"))
        n_cdc = _jobs(
            spark,
            lambda: snap.stream_upsert(stream, t, ["k"], ckpt).awaitTermination(),
        )

        n_delete = _jobs(
            spark,
            lambda: snap.delete_where(
                spark, t, F.col("k").between(300, 310), key_range=("k", 300, 310)
            ),
        )
        keys = spark.createDataFrame([(210,), (211,)], "k int")
        n_delete_keys = _jobs(spark, lambda: snap.delete_keys(spark, t, keys, ["k"]))
        n_update = _jobs(
            spark,
            lambda: snap.update_where(
                spark, t, {"v": "'upd'"}, F.col("k").between(20, 25),
                key_range=("k", 20, 25),
            ),
        )

    want = {(i, f"v{i}") for i in range(400)}
    want -= {(5, "v5"), (7, "v7"), (120, "v120")}
    want |= {(5, "u5"), (7, "u7"), (1000, "new"), (120, "c120"), (2000, "c2000")}
    want = {r for r in want if not 300 <= r[0] <= 310 and r[0] not in (210, 211)}
    want = {(k, "upd" if 20 <= k <= 25 else v) for k, v in want}
    assert _rows(spark, t) == sorted(want)
    # upsert / keyed delete: phase-1 flag aggregate, two broadcast builds
    # (touched-file detection, key set), range-partition sample, write.
    # DELETE / UPDATE WHERE: one broadcast build (detection), sample,
    # write. The CDC batch is one upsert plus the stream's own jobs.
    got = {
        "upsert": n_upsert, "cdc": n_cdc, "delete_where": n_delete,
        "delete_keys": n_delete_keys, "update_where": n_update,
    }
    assert got == {
        "upsert": 5, "cdc": 5, "delete_where": 3, "delete_keys": 5,
        "update_where": 3,
    }


class _CountingObservation(snap.Observation):
    made = 0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        type(self).made += 1


class _UnreadyObservation(snap.Observation):
    """An Observation whose bounded probe never sees the metrics row, as
    when the observed subtree was pruned out of the executed plan."""

    def _on(self, df, *exprs):
        from types import SimpleNamespace

        out = super()._on(df, *exprs)
        self._jo = SimpleNamespace(
            getRowOrEmpty=lambda: SimpleNamespace(isEmpty=lambda: True)
        )
        return out


def _spy_observed(monkeypatch):
    """Records each bounded probe's result; None means the recompute
    fallback ran."""
    seen = []
    real = snap._observed

    def spy(obs, name):
        seen.append(real(obs, name))
        return seen[-1]

    monkeypatch.setattr(snap, "_observed", spy)
    return seen


def test_fuse_gate_ignores_stats_on_other_columns(spark, monkeypatch):
    """Stats that cover only a non-key column prune nothing, so the
    candidates are the whole table: MERGE and DELETE WHERE must fall
    back to the size caps and, above them, take the two-action form."""
    t = _tdir()
    snap.write_snapshot(
        spark.createDataFrame([(i, f"v{i}") for i in range(400)], _SCHEMA),
        t, stats_for=["v"], n_files=4,
    )
    assert len(snap.read_manifest(t, 1)["files"]) == 4
    monkeypatch.setattr(snap, "_FUSE_MAX_FILES", 2)
    _CountingObservation.made = 0
    monkeypatch.setattr(snap, "Observation", _CountingObservation)

    v = snap.upsert_snapshot(
        spark, t, spark.createDataFrame([(5, "u5"), (1000, "new")], _SCHEMA), ["k"]
    )
    m = snap.read_manifest(t, v)
    assert m["pruned_by_stats"] == 0 and len(m["rewrote"]) == 1
    v = snap.delete_where(
        spark, t, F.col("k").between(300, 310), key_range=("k", 300, 310)
    )
    m = snap.read_manifest(t, v)
    assert m["pruned_by_stats"] == 0 and len(m["rewrote"]) == 1
    assert _CountingObservation.made == 0

    want = {(i, f"v{i}") for i in range(400) if not 300 <= i <= 310}
    want = (want - {(5, "v5")}) | {(5, "u5"), (1000, "new")}
    assert _rows(spark, t) == sorted(want)

    # a clustered table's pruned candidates stay fused under the same caps
    t2 = _table(spark, cluster_by=["k"])
    snap.upsert_snapshot(spark, t2, spark.createDataFrame([(5, "u5")], _SCHEMA), ["k"])
    assert _CountingObservation.made == 1


def test_unread_observation_recomputes_touched_files(spark, monkeypatch):
    """A metrics row the bounded probe cannot read takes the recompute
    fallback; the commit is the same as with the observed list."""
    monkeypatch.setattr(snap, "Observation", _UnreadyObservation)
    seen = _spy_observed(monkeypatch)
    t = _table(spark, cluster_by=["k"])
    v = snap.upsert_snapshot(
        spark, t, spark.createDataFrame([(5, "u5"), (1000, "new")], _SCHEMA), ["k"]
    )
    m = snap.read_manifest(t, v)
    assert len(m["rewrote"]) == 1 and m["pruned_by_stats"] == 3
    v = snap.delete_where(spark, t, "k between 300 and 310", key_range=("k", 300, 310))
    assert len(snap.read_manifest(t, v)["rewrote"]) == 1
    assert seen == [None, None]
    want = {(i, f"v{i}") for i in range(400) if not 300 <= i <= 310}
    want = (want - {(5, "v5")}) | {(5, "u5"), (1000, "new")}
    assert _rows(spark, t) == sorted(want)


def test_pruned_observed_branch_takes_fallback(spark, monkeypatch):
    """A DELETE of every row folds the rewrite's filter to false, so the
    optimizer drops the scan and the observed detection branch with it:
    the metrics row never arrives and detection is recomputed."""
    seen = _spy_observed(monkeypatch)
    t = _table(spark, cluster_by=["k"])
    v = snap.delete_where(spark, t, "true")
    m = snap.read_manifest(t, v)
    assert seen == [None]
    assert sorted(m["rewrote"]) == sorted(snap.read_manifest(t, 1)["files"])
    assert snap.read_snapshot(spark, t).count() == 0
    assert snap.snapshot_rows(t) == 0


def test_runtime_empty_candidates_commit_correctly(spark, monkeypatch):
    """Shapes whose detection side is empty at runtime: candidates whose
    rows are all DV-deleted, and an empty batch. The sentinel row keeps
    the observed branch alive; either way the commit must be right."""
    t = _table(spark, cluster_by=["k"])
    snap.delete_where(spark, t, F.col("k").between(0, 99), dv=True)
    v = snap.upsert_snapshot(spark, t, spark.createDataFrame([(5, "u5")], _SCHEMA), ["k"])
    m = snap.read_manifest(t, v)
    assert m["rewrote"] == [] and m["pruned_by_stats"] == 3
    assert _rows(spark, t) == sorted({(5, "u5")} | {(i, f"v{i}") for i in range(100, 400)})

    t = _table(spark)  # no stats: every file is a candidate
    v = snap.upsert_snapshot(spark, t, spark.createDataFrame([], _SCHEMA), ["k"])
    m = snap.read_manifest(t, v)
    assert m["rewrote"] == [] and m["pruned_by_stats"] == 0
    assert _rows(spark, t) == sorted((i, f"v{i}") for i in range(400))


def _unreferenced_commit_dirs(t):
    live = {
        os.path.dirname(rel)
        for v in snap._versions(t)
        for rel in snap.read_manifest(t, v)["files"]
    }
    data = os.path.join(t, "data")
    return sorted(d for d in os.listdir(data) if os.path.join("data", d) not in live)


def test_noop_fused_commits_leave_no_residue(spark):
    """Fused commits that touch nothing delete their just-written commit
    dir instead of leaving it for vacuum."""
    t = _tdir()
    snap.write_snapshot(
        spark.createDataFrame([(2 * i, f"v{i}") for i in range(200)], _SCHEMA),
        t, cluster_by=["k"], n_files=4,
    )
    absent = spark.createDataFrame([(51,)], "k int")
    assert snap.delete_keys(spark, t, absent, ["k"]) == 1
    assert snap.delete_where(spark, t, "k = 51", key_range=("k", 51, 51)) == 1
    assert snap.update_where(spark, t, {"v": "'x'"}, "k = 51", key_range=("k", 51, 51)) == 1
    # a txn watermark still commits, without data
    v = snap.delete_where(
        spark, t, "k = 51", key_range=("k", 51, 51), txn_app="a", txn_version=1
    )
    m = snap.read_manifest(t, v)
    assert v == 2 and m["rewrote"] == [] and m["files"] == snap.read_manifest(t, 1)["files"]
    assert _unreferenced_commit_dirs(t) == []
    assert snap.vacuum(t, keep_last=1, orphan_ttl_seconds=0) == []


def test_failed_write_leaves_readers_on_old_version(spark):
    """A batch whose rewrite write fails mid-action publishes nothing;
    vacuum reclaims whatever the failed write left on disk."""
    import pytest

    t = _table(spark, cluster_by=["k"])
    boom = F.udf(lambda v: 1 // 0 if v else v, "string")
    upd = spark.createDataFrame([(5, "u5"), (1000, "new")], _SCHEMA).withColumn(
        "v", boom("v")
    )
    with pytest.raises(Exception, match="ZeroDivisionError"):
        snap.upsert_snapshot(spark, t, upd, ["k"])
    assert snap.latest_version(t) == 1
    assert _rows(spark, t) == sorted((i, f"v{i}") for i in range(400))
    snap.vacuum(t, keep_last=1, orphan_ttl_seconds=0)
    assert _unreferenced_commit_dirs(t) == []
    live = set(snap.read_manifest(t, 1)["files"])
    on_disk = {
        os.path.relpath(os.path.join(root, n), t)
        for root, _dirs, names in os.walk(os.path.join(t, "data"))
        for n in names
        if n.endswith(".parquet")
    }
    assert on_disk == live
