"""Similarity-search tests: exact brute-force baseline vs the LSH-bucketed
approximate path (recall), plus operator edge cases."""

import pytest
from pyspark.sql import functions as F

from ray_beam_runner_spark.functions.similarity import (
    cosine_pandas,
    cosine_topk,
    lsh_topk,
    random_hyperplane_buckets,
)
from ray_beam_runner_spark.session import read_parquet_normalized


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_parquet_normalized(spark, f"{sf_dir}/embeddings.parquet").cache()


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def test_cosine_topk_exact_properties(emb):
    out = cosine_topk(_queries(emb), emb.filter(F.col("vec_id") >= 8), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(8))
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)


def test_lsh_recall_vs_bruteforce(emb):
    corpus = emb.filter(F.col("vec_id") >= 8)
    q = _queries(emb)
    exact = {(r.q_id, r.vec_id) for r in cosine_topk(q, corpus, k=3).collect()}
    # 4 planes x 8 tables: per-table same-bucket prob ~p^4, overall
    # recall 1-(1-p^4)^8 — high for true neighbors even on near-random data
    approx = {
        (r.q_id, r.vec_id)
        for r in lsh_topk(q, corpus, dim=64, k=3, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"
    # every approx hit must be a real corpus vector with a valid score
    assert all(v >= 8 for _, v in approx)


def test_ivf_recall_vs_bruteforce(emb):
    from ray_beam_runner_spark.functions.similarity import ivf_fit, ivf_topk

    corpus = emb.filter(F.col("vec_id") >= 8)
    q = _queries(emb)
    exact = {(r.q_id, r.vec_id) for r in cosine_topk(q, corpus, k=3).collect()}
    # fit once, search with the pre-built index (the production pattern)
    model = ivf_fit(corpus, "embedding", n_cells=8)
    approx = {
        (r.q_id, r.vec_id)
        for r in ivf_topk(
            q, corpus, dim=64, k=3, n_cells=8, n_probe=4, model=model
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"
    assert all(v >= 8 for _, v in approx)
    # probing ALL cells makes IVF exhaustive: must equal brute force
    full = {
        (r.q_id, r.vec_id)
        for r in ivf_topk(
            q, corpus, dim=64, k=3, n_cells=8, n_probe=8, model=model
        ).collect()
    }
    assert full == exact


def test_bucket_determinism(emb):
    b1 = random_hyperplane_buckets(emb, "embedding", 64).select("vec_id", "bucket")
    b2 = random_hyperplane_buckets(emb, "embedding", 64).select("vec_id", "bucket")
    assert sorted(map(tuple, b1.collect())) == sorted(map(tuple, b2.collect()))


def test_cosine_pandas_matches_expression(spark):
    from ray_beam_runner_spark.functions.similarity import cosine_similarity_col

    df = spark.createDataFrame(
        [([1.0, 0.0, 2.0], [0.5, 1.0, -1.0]), ([0.1, 0.2, 0.3], [0.1, 0.2, 0.3])],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        F.round(cosine_pandas("a", "b"), 9).alias("p"),
        F.round(cosine_similarity_col(F.col("a"), F.col("b")), 9).alias("e"),
    ).collect()
    for r in rows:
        assert abs(r.p - r.e) < 1e-9


def test_blocked_cosine_pairs_equals_bruteforce(emb):
    # the declared q_dedup_embedding path: blocked GEMM must reproduce the
    # brute-force pair set EXACTLY (same ids, same rounded sims) — it is an
    # exact algorithm, not an approximation
    from ray_beam_runner_spark.functions.similarity import blocked_cosine_pairs

    sub = emb.filter(F.col("vec_id") < 120).select("vec_id", "embedding")
    a = sub.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    b = sub.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    brute = {
        (r.v1, r.v2, r.sim)
        for r in a.join(b, F.col("v1") < F.col("v2"))
        .select("v1", "v2", F.round(cosine_pandas(F.col("e1"), F.col("e2")), 6).alias("sim"))
        .filter(F.col("sim") >= 0.3)
        .collect()
    }
    blocked = {
        (r.v1, r.v2, r.sim)
        for r in blocked_cosine_pairs(sub, threshold=0.3, n_blocks=4).collect()
    }
    assert blocked == brute


def test_semdedup_pairs_subset_and_recall(emb):
    # cluster-first SemDeDup pair generation: every emitted pair must be a
    # member of the exact all-pairs result with the SAME rounded sim
    # (within-cell pairs are exact cosine — precision 1 by construction),
    # and recall vs exact must not collapse even on the gap-free corpus
    from ray_beam_runner_spark.functions.similarity import (
        blocked_cosine_pairs,
        semdedup_pairs,
    )

    sub = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    exact = {
        (r.v1, r.v2, r.sim)
        for r in blocked_cosine_pairs(sub, threshold=0.4, n_blocks=4).collect()
    }
    sd = {
        (r.v1, r.v2, r.sim)
        for r in semdedup_pairs(sub, threshold=0.4, n_cells=8, n_blocks=2).collect()
    }
    assert sd <= exact, f"semdedup emitted non-exact pairs: {sorted(sd - exact)[:5]}"
    if exact:
        recall = len(sd) / len(exact)
        # gap-free synthetic corpus is the worst case for cluster-first
        # recall; near-identical embeddings (the SemDeDup target regime)
        # co-cluster far more reliably than these mid-sim pairs
        assert recall >= 0.2, f"semdedup recall collapsed: {recall}"


def test_semdedup_groups_split_skewed_cell(emb):
    # one giant cell must fan out into block-pair GEMM tiles, not one task:
    # with a CONSTANT group column (the degenerate all-rows-in-one-cell
    # case) grouped blocked_cosine_pairs must still match exact — the
    # within-group block tiling is lossless
    from ray_beam_runner_spark.functions.similarity import blocked_cosine_pairs

    sub = emb.filter(F.col("vec_id") < 100).select("vec_id", "embedding")
    exact = {
        (r.v1, r.v2, r.sim)
        for r in blocked_cosine_pairs(sub, threshold=0.4, n_blocks=4).collect()
    }
    one_cell = {
        (r.v1, r.v2, r.sim)
        for r in blocked_cosine_pairs(
            sub.withColumn("cell", F.lit(0)),
            threshold=0.4,
            n_blocks=3,
            group_col="cell",
        ).collect()
    }
    assert one_cell == exact


def test_embedding_near_dup_lsh_recall(emb, spark, sf_dir):
    from ray_beam_runner_spark.functions.similarity import embedding_near_dup_pairs_lsh
    from ray_beam_runner_spark.queries import QUERIES

    exact = {(r.v1, r.v2) for r in QUERIES["q_dedup_embedding"](spark, sf_dir).collect()}
    lsh = {
        (r.v1, r.v2)
        for r in embedding_near_dup_pairs_lsh(emb, threshold=0.4).collect()
    }
    # every LSH pair is verified exact-cosine, so precision is 1 by
    # construction; recall must be high for sim>=0.4 pairs
    assert lsh <= exact or not exact
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.6, f"near-dup LSH recall collapsed: {recall}"


def test_quantize_int8_bounds_and_fidelity(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F

    from ray_beam_runner_spark.functions.similarity import quantize_int8
    from ray_beam_runner_spark.queries import t as load

    emb = load(spark, sf_dir, "embeddings").limit(100)
    q = quantize_int8(emb, "embedding")
    rows = q.select("embedding", "q_scale", "q_vec").collect()
    assert rows
    for r in rows:
        qv = np.array(r.q_vec)
        assert qv.min() >= -127 and qv.max() <= 127
        orig = np.array(r.embedding, dtype=np.float64)
        deq = qv * r.q_scale
        # per-dim error bound scale/2, and cosine fidelity after dequant
        assert np.max(np.abs(orig - deq)) <= r.q_scale * 0.5000001
        cos = deq @ orig / (np.linalg.norm(deq) * np.linalg.norm(orig))
        assert cos > 0.999


def test_ivf_index_persists_and_reloads_identically(spark, sf_dir, tmp_path):
    """ANN index lifecycle: the IVF coarse quantizer persists via Spark
    ML's native writer and a reloaded index assigns every vector to the
    same cell — incremental ingestion can reuse yesterday's index
    instead of refitting (fit once, probe forever)."""
    from pyspark.ml.clustering import KMeansModel

    from ray_beam_runner_spark.functions.similarity import ivf_assign, ivf_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = ivf_fit(emb, "embedding", n_cells=8)
    path = str(tmp_path / "ivf_index")
    model.write().overwrite().save(path)
    loaded = KMeansModel.load(path)
    a1 = {r.vec_id: r.cell for r in ivf_assign(model, emb, "embedding").collect()}
    a2 = {r.vec_id: r.cell for r in ivf_assign(loaded, emb, "embedding").collect()}
    assert a1 == a2 and len(a1) == emb.count()
    # the increment path: new vectors assigned by the LOADED index only
    inc = emb.limit(20).withColumn("vec_id", F.col("vec_id") + 10_000)
    a_inc = ivf_assign(loaded, inc, "embedding").select("vec_id", "cell")
    assert a_inc.count() == 20


# ---------------------------------------------------------------------------
# Fixed-iteration Lloyd k-means (functions.clustering)
# ---------------------------------------------------------------------------


def _py_lloyd(vecs: dict, k: int, n_iter: int) -> dict:
    """Independent naive Lloyd oracle: init = k smallest ids, argmin
    squared L2 with ties to lowest cell, (assign, update) x n_iter,
    final assign."""
    cent = {i: list(vecs[vid]) for i, vid in enumerate(sorted(vecs)[:k])}

    def best(e, cents):
        return min(
            (sum((x - y) * (x - y) for x, y in zip(e, c)), cell)
            for cell, c in cents.items()
        )[1]

    for _ in range(n_iter):
        assign = {vid: best(e, cent) for vid, e in vecs.items()}
        new = {}
        for cell in set(assign.values()):
            members = [vecs[vid] for vid, c in assign.items() if c == cell]
            # 9-dp centroid rounding mirrors the operator (summation-
            # order independence)
            new[cell] = [round(sum(col) / len(members), 9) for col in zip(*members)]
        cent = new
    return {vid: best(e, cent) for vid, e in vecs.items()}


def test_kmeans_lloyd_differential(spark):
    import random

    from ray_beam_runner_spark.functions.clustering import kmeans_lloyd

    rng = random.Random(7)
    vecs = {
        vid: [rng.gauss(vid % 3, 0.3) for _ in range(6)] for vid in range(40)
    }
    df = spark.createDataFrame(
        [(vid, e) for vid, e in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.cell for r in kmeans_lloyd(df, "vec_id", "embedding", k=4, n_iter=3).collect()}
    assert got == _py_lloyd(vecs, 4, 3)
    # clusters actually separate the three generating modes
    assert len(set(got.values())) >= 3


def test_kmeans_lloyd_edge_cases(spark):
    from ray_beam_runner_spark.functions.clustering import kmeans_lloyd

    # k > n: every vector seeds its own cluster and stays there
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [5.0, 5.0])], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.cell for r in kmeans_lloyd(df, "vec_id", "embedding", k=8, n_iter=2).collect()}
    assert got == {1: 0, 2: 1}
    # empty input: empty typed result
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = kmeans_lloyd(empty, "vec_id", "embedding", k=4, n_iter=1)
    assert out.columns == ["vec_id", "cell"] and out.count() == 0


def _py_pq(vecs: dict, m: int, k: int, n_iter: int):
    """Independent naive PQ oracle: per-subspace Lloyd (9-dp rounded
    means, ties to lowest cell), codes, and codebooks."""

    def lloyd(sub):
        cent = {i: list(sub[vid]) for i, vid in enumerate(sorted(sub)[:k])}

        def best(e, cents):
            return min(
                (sum((x - y) * (x - y) for x, y in zip(e, c)), cell)
                for cell, c in cents.items()
            )[1]

        for _ in range(n_iter):
            assign = {vid: best(e, cent) for vid, e in sub.items()}
            cent = {
                cell: [
                    round(sum(col) / n, 9)
                    for col in zip(*(sub[vid] for vid, c in assign.items() if c == cell))
                ]
                for cell in set(assign.values())
                for n in [sum(1 for c in assign.values() if c == cell)]
            }
        return cent, {vid: best(e, cent) for vid, e in sub.items()}

    d = len(next(iter(vecs.values()))) // m
    books, codes = {}, {vid: [] for vid in vecs}
    for j in range(m):
        sub = {vid: e[j * d : (j + 1) * d] for vid, e in vecs.items()}
        cb, asg = lloyd(sub)
        books[j] = cb
        for vid in vecs:
            codes[vid].append(asg[vid])
    return books, codes


def test_pq_fit_encode_differential(spark):
    import random

    from ray_beam_runner_spark.functions.clustering import pq_encode, pq_fit

    rng = random.Random(11)
    vecs = {vid: [rng.gauss(vid % 4, 0.4) for _ in range(8)] for vid in range(30)}
    df = spark.createDataFrame(
        [(vid, e) for vid, e in vecs.items()], "vec_id long, embedding array<double>"
    )
    books = pq_fit(df, "vec_id", "embedding", m=2, k=3, n_iter=2)
    codes = {r.vec_id: list(r.codes) for r in pq_encode(df, books, "vec_id", "embedding").collect()}
    exp_books, exp_codes = _py_pq(vecs, 2, 3, 2)
    assert codes == exp_codes
    got_books = {
        (r.j, r.cell): [round(x, 9) for x in r.c] for r in books.collect()
    }
    assert got_books == {
        (j, cell): c for j, cb in exp_books.items() for cell, c in cb.items()
    }


def test_pq_adc_ranks_by_reconstruction_distance(spark):
    # ADC against a well-separated corpus must put same-mode vectors
    # first: the query's nearest ADC neighbors share its generating mode
    import random

    from ray_beam_runner_spark.functions.clustering import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )
    from pyspark.sql import functions as SF

    rng = random.Random(3)
    rows = [(vid, [rng.gauss(3.0 * (vid % 2), 0.05) for _ in range(8)]) for vid in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(SF.col("vec_id") >= 4)
    queries = df.filter(SF.col("vec_id") < 4).select(
        SF.col("vec_id").alias("q_id"), SF.col("embedding").alias("q_vec")
    )
    books = pq_fit(corpus, "vec_id", "embedding", m=2, k=4, n_iter=2)
    codes = pq_encode(corpus, books, "vec_id", "embedding")
    top = pq_adc_topk(queries, codes, books, k=5).collect()
    assert {r.q_id for r in top} == {0, 1, 2, 3}
    for r in top:
        assert r.vec_id % 2 == r.q_id % 2  # same mode wins every slot
        assert r.rank <= 5


def test_pq_error_paths(spark):
    from ray_beam_runner_spark.functions.clustering import pq_encode, pq_fit

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(df, "vec_id", "embedding", m=2, k=2, n_iter=1)
    ok = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.0, 1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    books = pq_fit(ok, "vec_id", "embedding", m=2, k=2, n_iter=1)
    bad = spark.createDataFrame(
        [(1, [1.0] * 6)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="incompatible"):
        pq_encode(bad, books, "vec_id", "embedding")


def _py_lloyd_exact(vecs: dict, k: int, n_iter: int):
    """Pure-Python Lloyd with the engine's full ordering contract:
    squared L2 folded in index order from 0.0, ties to the lowest cell,
    NaN distances above +inf. Returns (centroids, final assignment)."""
    import math

    cent = {i: list(vecs[vid]) for i, vid in enumerate(sorted(vecs)[:k])}

    def best(e, cents):
        def key(cell):
            d = 0.0
            for x, y in zip(e, cents[cell]):
                d += (x - y) * (x - y)
            return (math.isnan(d), 0.0 if math.isnan(d) else d, cell)

        return min(cents, key=key)

    for _ in range(n_iter):
        assign = {vid: best(e, cent) for vid, e in vecs.items()}
        cent = {}
        for cell in sorted(set(assign.values())):
            members = [vecs[vid] for vid in sorted(vecs) if assign[vid] == cell]
            cent[cell] = [round(sum(col) / len(members), 9) for col in zip(*members)]
    return cent, {vid: best(e, cent) for vid, e in vecs.items()}


_NAN = float("nan")
# vids 0-2 seed the cells. Exact ties: [1, 0] is equidistant from seeds
# [0, 0] and [2, 0]; duplicates: seeds 3 and 4 (and members) repeat
# vectors, so a seed cell can lose every member; NaN: one component NaN
# gives NaN distances to every cell, which lose to any number.
_ADVERSARIAL = {
    "ties": {0: [0.0, 0.0], 1: [2.0, 0.0], 2: [1.0, 0.0], 3: [1.0, 0.0],
             4: [3.0, 0.0], 5: [-1.0, 0.0], 6: [1.0, 1.0], 7: [1.0, -1.0]},
    "duplicates": {0: [1.0, 1.0], 1: [1.0, 1.0], 2: [1.0, 1.0], 3: [4.0, 4.0],
                   4: [4.0, 4.0], 5: [1.0, 1.0], 6: [2.5, 2.5], 7: [4.0, 4.0]},
    "nan": {0: [0.0, 0.0], 1: [4.0, 4.0], 2: [_NAN, 1.0], 3: [1.0, 0.5],
            4: [3.5, 4.0], 5: [0.5, _NAN], 6: [4.0, 3.0], 7: [0.0, 1.0]},
}


def _same(a, b) -> bool:
    import math

    return len(a) == len(b) and all(
        x == y or (math.isnan(x) and math.isnan(y)) for x, y in zip(a, b)
    )


@pytest.mark.parametrize("case", sorted(_ADVERSARIAL))
@pytest.mark.parametrize("k", [3, 20])  # 20 > n: every vector seeds a cell
def test_lloyd_kernel_parity_on_adversarial_data(spark, case, k):
    from ray_beam_runner_spark.functions.clustering import kmeans_lloyd, pq_encode, pq_fit

    vecs = _ADVERSARIAL[case]
    df = spark.createDataFrame(
        [(vid, e) for vid, e in vecs.items()], "vec_id long, embedding array<double>"
    ).repartition(3)  # partial sums from several partitions
    got = {r.vec_id: r.cell for r in kmeans_lloyd(df, "vec_id", "embedding", k=k, n_iter=2).collect()}
    assert got == _py_lloyd_exact(vecs, k, 2)[1]
    # PQ: each 1-dim subspace is its own Lloyd run, trained in one pass
    books = pq_fit(df, "vec_id", "embedding", m=2, k=k, n_iter=2)
    codes = {r.vec_id: list(r.codes) for r in pq_encode(df, books, "vec_id", "embedding").collect()}
    fitted = {(r.j, r.cell): list(r.c) for r in books.collect()}
    want_codes = {vid: [] for vid in vecs}
    for j in range(2):
        cent, asg = _py_lloyd_exact({vid: e[j:j + 1] for vid, e in vecs.items()}, k, 2)
        assert {cell: fitted[(jj, cell)] for jj, cell in fitted if jj == j}.keys() == cent.keys()
        assert all(_same(fitted[(j, cell)], c) for cell, c in cent.items())
        for vid in vecs:
            want_codes[vid].append(asg[vid])
    assert codes == want_codes


def test_lloyd_kernel_empty_and_invalid_input(spark):
    from ray_beam_runner_spark.functions.clustering import kmeans_lloyd, pq_fit

    schema = "vec_id long, embedding array<double>"
    out = kmeans_lloyd(spark.createDataFrame([], schema), "vec_id", "embedding", k=3)
    assert out.collect() == []
    with pytest.raises(ValueError, match="empty corpus"):
        pq_fit(spark.createDataFrame([], schema), "vec_id", "embedding", m=2, k=2)
    bad = {
        "null vector": [(1, [1.0, 2.0]), (2, None)],
        "ragged": [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "null component": [(1, [1.0, 2.0]), (2, [None, 2.0])],
    }
    for rows in bad.values():
        df = spark.createDataFrame(rows, schema)
        with pytest.raises(ValueError, match="fixed-dimension"):
            kmeans_lloyd(df, "vec_id", "embedding", k=2)
        with pytest.raises(ValueError, match="fixed-dimension"):
            pq_fit(df, "vec_id", "embedding", m=2, k=2)


def test_lloyd_jobs_per_fit(spark):
    """Spark jobs per fit with AQE off (AQE runs each exchange as its own
    job). kmeans_lloyd(n_iter=2) + reading its result: 1 validation
    aggregate, 1 seed read, 1 per round, 1 final assignment = 5 (the
    SQL rounds it replaced took 7). pq_fit(n_iter=2): the same minus the
    assignment = 4 (the SQL rounds took 5)."""
    from ray_beam_runner_spark.functions.clustering import kmeans_lloyd, pq_fit

    df = spark.createDataFrame(
        [(vid, [float(vid % 5), float(vid % 3), 1.0, 0.5]) for vid in range(40)],
        "vec_id long, embedding array<double>",
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001

    def jobs(fn):
        first = int(dag.nextJobId())
        fn()
        return int(dag.nextJobId()) - first

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert jobs(lambda: kmeans_lloyd(df, "vec_id", "embedding", k=4, n_iter=2).collect()) == 5
        assert jobs(lambda: pq_fit(df, "vec_id", "embedding", m=2, k=4, n_iter=2)) == 4
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_ivfpq_recall_and_probe_semantics(spark):
    # composed IVF-PQ: with well-separated modes, probing ONE cell must
    # still retrieve same-mode neighbors (the coarse quantizer routes
    # the query to its mode's cell), and candidates never come from
    # unprobed cells
    import random

    from ray_beam_runner_spark.functions.clustering import ivfpq_index, ivfpq_topk
    from pyspark.sql import functions as SF

    rng = random.Random(5)
    rows = [
        (vid, [rng.gauss(4.0 * (vid % 2), 0.05) for _ in range(8)])
        for vid in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(SF.col("vec_id") >= 4)
    queries = df.filter(SF.col("vec_id") < 4).select(
        SF.col("vec_id").alias("q_id"), SF.col("embedding").alias("q_vec")
    )
    coarse, books, index = ivfpq_index(
        corpus, "vec_id", "embedding", n_cells=2, m=2, k=4, n_iter=2
    )
    # exhaustive probe == superset semantics: every query answered
    full = ivfpq_topk(queries, coarse, books, index, k=5).collect()
    assert {r.q_id for r in full} == {0, 1, 2, 3}
    for r in full:
        assert r.vec_id % 2 == r.q_id % 2  # same mode wins every slot
    # n_probe=1: identical answers here (the right cell is probed), and
    # all candidates share the probed cell
    one = ivfpq_topk(queries, coarse, books, index, k=5, n_probe=1).collect()
    assert sorted((r.q_id, r.vec_id, r.rank) for r in one) == sorted(
        (r.q_id, r.vec_id, r.rank) for r in full
    )
    cells = {r.vec_id: r.cell for r in index.collect()}
    for r in one:
        probed_cells = {cells[x.vec_id] for x in one if x.q_id == r.q_id}
        assert len(probed_cells) == 1  # one probe -> one cell's candidates


def test_pq_and_ivfpq_reject_bad_query_dims(spark):
    # wrong-dimension queries must error loudly, not slice-truncate or
    # null-pad garbage into the top ranks
    from ray_beam_runner_spark.functions.clustering import (
        ivfpq_index,
        ivfpq_topk,
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    books = pq_fit(corpus, "vec_id", "embedding", m=2, k=2, n_iter=1)
    codes = pq_encode(corpus, books, "vec_id", "embedding")
    bad_q = spark.createDataFrame(
        [(0, [1.0, 2.0])], "q_id long, q_vec array<double>"
    )
    with pytest.raises(ValueError, match="query vectors"):
        pq_adc_topk(bad_q, codes, books)
    coarse, b2, index = ivfpq_index(corpus, "vec_id", "embedding", n_cells=2, m=2, k=2)
    with pytest.raises(ValueError, match="query vectors"):
        ivfpq_topk(bad_q, coarse, b2, index)
    import pytest as _pt
    empty_books = books.filter("j < 0")
    with _pt.raises(ValueError, match="empty codebooks"):
        ivfpq_topk(
            spark.createDataFrame([(0, [1.0, 2.0, 3.0, 4.0])], "q_id long, q_vec array<double>"),
            coarse, empty_books, index,
        )


# ---------------------------------------------------------------------------
# Incremental ANN index maintenance (r8 verdict ask #3)
# ---------------------------------------------------------------------------


def _ann_tables(spark, sf_dir, tmp_path, tag):
    import os

    from ray_beam_runner_spark.functions.clustering import ivfpq_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    initial = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") % 3 != 0)).select(
        "vec_id", "embedding"
    )
    arriving = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") % 3 == 0)).select(
        "vec_id", "embedding"
    )
    coarse, books, idx0 = ivfpq_index(
        initial, "vec_id", "embedding", n_cells=4, m=2, k=4, n_iter=1
    )
    coarse = coarse.localCheckpoint(eager=True)
    books = books.localCheckpoint(eager=True)
    src = os.path.join(str(tmp_path), f"src_{tag}")
    idx = os.path.join(str(tmp_path), f"idx_{tag}")
    ckpt = os.path.join(str(tmp_path), f"ckpt_{tag}")
    return initial, arriving, coarse, books, idx0, src, idx, ckpt


def test_ivfpq_incremental_maintenance_equals_rebuild(spark, sf_dir, tmp_path):
    from ray_beam_runner_spark.functions.clustering import (
        ivfpq_encode,
        stream_maintain_ivfpq,
    )
    from ray_beam_runner_spark.sources import snapshots as snap

    initial, arriving, coarse, books, idx0, src, idx, ckpt = _ann_tables(
        spark, sf_dir, tmp_path, "eq"
    )
    snap.write_snapshot(initial, src, cluster_by=["vec_id"], n_files=4)
    snap.write_snapshot(idx0, idx, cluster_by=["vec_id"], n_files=4)

    def drain():
        feed = snap.read_snapshot_stream(spark, src, starting_version=2)
        q = stream_maintain_ivfpq(
            feed, idx, coarse, books, "vec_id", "embedding", ckpt
        )
        assert q.awaitTermination(300)

    # drain 1: ingest arrivals (updates one vector too: delete+insert
    # pair at one commit must net to the re-encoded insert)
    snap.upsert_snapshot(spark, src, arriving, ["vec_id"], cdc=True)
    drain()
    # drain 2: retract every 7th vector
    snap.delete_where(
        spark, src, (F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= 8), cdc=True
    )
    drain()

    def index_set(df):
        return {(r.vec_id, r.cell, tuple(r.codes)) for r in df.collect()}

    maintained = index_set(snap.read_snapshot(spark, idx))
    rebuilt = index_set(
        ivfpq_encode(
            snap.read_snapshot(spark, src), coarse, books, "vec_id", "embedding"
        )
    )
    assert maintained == rebuilt and maintained
    # deleted ids really retracted
    assert not any(v % 7 == 0 for v, _, _ in maintained)
    # replayed drain (same feed offsets already committed) is a no-op
    v_before = snap.latest_version(idx)
    drain()
    assert snap.latest_version(idx) == v_before


def test_ivfpq_incremental_rate_limited_catch_up(spark, sf_dir, tmp_path):
    # a backlog of several commits consumed under maxVersionsPerTrigger:
    # each START drains at most one version (python DS availableNow =
    # single batch), so catch-up takes several starts — the index must
    # converge to the rebuild all the same
    from ray_beam_runner_spark.functions.clustering import (
        ivfpq_encode,
        stream_maintain_ivfpq,
    )
    from ray_beam_runner_spark.sources import snapshots as snap

    initial, arriving, coarse, books, idx0, src, idx, ckpt = _ann_tables(
        spark, sf_dir, tmp_path, "rl"
    )
    snap.write_snapshot(initial, src, cluster_by=["vec_id"], n_files=4)
    snap.write_snapshot(idx0, idx, cluster_by=["vec_id"], n_files=4)
    # backlog: two merges + one delete = 3 unconsumed versions
    half1 = arriving.filter(F.col("vec_id") % 2 == 0)
    half2 = arriving.filter(F.col("vec_id") % 2 == 1)
    snap.upsert_snapshot(spark, src, half1, ["vec_id"], cdc=True)
    snap.upsert_snapshot(spark, src, half2, ["vec_id"], cdc=True)
    snap.delete_where(
        spark, src, (F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= 8), cdc=True
    )
    target_v = snap.latest_version(src)
    starts = 0
    while starts < 10:
        feed = snap.read_snapshot_stream(
            spark, src, starting_version=2, max_versions_per_trigger=1
        )
        q = stream_maintain_ivfpq(
            feed, idx, coarse, books, "vec_id", "embedding", ckpt
        )
        assert q.awaitTermination(300)
        starts += 1
        # stop once the index matches the rebuild (offsets caught up)
        maintained = {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in snap.read_snapshot(spark, idx).collect()
        }
        rebuilt = {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in ivfpq_encode(
                snap.read_snapshot(spark, src, version=target_v),
                coarse, books, "vec_id", "embedding",
            ).collect()
        }
        if maintained == rebuilt:
            break
    assert maintained == rebuilt
    assert starts >= 3  # the rate limit really bounded each start


def test_delete_keys_prunes_and_is_idempotent(spark, tmp_path):
    import os

    from ray_beam_runner_spark.sources import snapshots as snap

    t = os.path.join(str(tmp_path), "dk")
    df = spark.range(0, 200).selectExpr("cast(id as int) k", "id * 3 v")
    snap.write_snapshot(df, t, cluster_by=["k"], n_files=4)
    keys = spark.createDataFrame([(5,), (6,), (150,)], "k int")
    v2 = snap.delete_keys(spark, t, keys, ["k"], txn_app="dk", txn_version=1)
    m = snap.read_manifest(t, v2)
    # file-pruned: only the files containing the keys rewritten
    assert 0 < len(m["rewrote"]) < 4
    kept = {r.k for r in snap.read_snapshot(spark, t).collect()}
    assert kept == set(range(200)) - {5, 6, 150}
    # replayed txn: no-op
    assert snap.delete_keys(spark, t, keys, ["k"], txn_app="dk", txn_version=1) == v2
    # matching nothing without txn: metadata no-op
    none = spark.createDataFrame([(9999,)], "k int")
    assert snap.delete_keys(spark, t, none, ["k"]) == v2
    # matching nothing WITH a txn: watermark-only commit, content intact
    v3 = snap.delete_keys(spark, t, none, ["k"], txn_app="dk", txn_version=2)
    assert v3 == v2 + 1
    assert {r.k for r in snap.read_snapshot(spark, t).collect()} == kept
    assert snap.snapshot_rows(t) == len(kept)


def test_hard_negatives_excludes_dups_and_pairs(spark):
    from pyspark.sql import functions as F

    from ray_beam_runner_spark.functions.similarity import hard_negatives

    # anchor along e0; candidates: a near-identical copy (dup), a
    # same-direction-but-weaker (hard negative), orthogonals (easy)
    rows = [
        (100, [1.0, 0.0, 0.0, 0.0]),   # dup of the anchor (sim 1.0)
        (101, [0.9, 0.1, 0.0, 0.0]),   # hard negative (sim ~0.994) - still >= 0.98!
        (102, [0.5, 0.5, 0.0, 0.0]),   # sim ~0.707
        (103, [0.0, 1.0, 0.0, 0.0]),   # sim 0
        (104, [0.3, 0.0, 0.95, 0.0]),  # sim ~0.3
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "q_id long, q_vec array<double>"
    )
    got = {
        r.vec_id: r.rank
        for r in hard_negatives(anchors, corpus, k=3, dup_threshold=0.98).collect()
    }
    # 100 (sim 1.0) and 101 (sim 0.994) are above the dup cut; the rest rank
    assert 100 not in got and 101 not in got
    assert got == {102: 1, 104: 2, 103: 3}
    # explicit exclude pairs remove a candidate even below the cut
    excl = spark.createDataFrame([(1, 102)], "q_id long, vec_id long")
    got2 = {
        r.vec_id: r.rank
        for r in hard_negatives(
            anchors, corpus, k=3, dup_threshold=0.98, exclude=excl
        ).collect()
    }
    assert got2 == {104: 1, 103: 2}


def test_ivfpq_rerank_recovers_recall(spark):
    """Two-stage refine: exact re-scoring of the ADC shortlist lifts
    recall@10 above pure ADC at small n_probe (quantization distortion
    misranks; exact distances inside the shortlist do not), and the
    reranked distances match an independent numpy recompute."""
    import random

    from pyspark.sql import functions as SF

    from ray_beam_runner_spark.functions.clustering import (
        ivfpq_index,
        ivfpq_topk,
        ivfpq_topk_rerank,
    )

    rng = random.Random(11)
    dim, n_corpus, n_q, k = 8, 200, 4, 10
    corpus_rows = [
        (vid, [rng.gauss(1.5 * (vid % 4), 1.0) for _ in range(dim)])
        for vid in range(n_corpus)
    ]
    q_rows = [
        (qid, [rng.gauss(1.5 * (qid % 4), 1.0) for _ in range(dim)])
        for qid in range(n_q)
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(q_rows, "q_id long, q_vec array<double>")
    coarse, books, index = ivfpq_index(
        corpus, "vec_id", "embedding", n_cells=4, m=4, k=4, n_iter=2
    )

    def truth(qv):
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, cv)), vid)
            for vid, cv in corpus_rows
        )
        return [vid for _, vid in d[:k]], {vid: dd for dd, vid in d}

    truths = {qid: truth(qv) for qid, qv in q_rows}

    def recall(rows):
        hit = tot = 0
        for qid, (want, _) in truths.items():
            got = {r.vec_id for r in rows if r.q_id == qid}
            hit += len(got & set(want))
            tot += len(want)
        return hit / tot

    adc = ivfpq_topk(queries, coarse, books, index, k=k, n_probe=2).collect()
    rr = ivfpq_topk_rerank(
        queries, coarse, books, index, corpus, k=k, alpha=5, n_probe=2
    ).collect()
    r_adc, r_rr = recall(adc), recall(rr)
    # same probes, same candidate cells: rerank must not lose recall,
    # and with this seed the distortion gap is real
    assert r_rr >= r_adc
    assert r_rr > r_adc, (r_adc, r_rr)
    # exact distances: every reranked row matches numpy to 6dp, and the
    # per-query ordering is the exact ordering
    for r in rr:
        want = truths[r.q_id][1][r.vec_id]
        assert abs(r.dist - round(want, 6)) < 1e-9
    for qid in range(n_q):
        rows = sorted((r.rank, r.dist) for r in rr if r.q_id == qid)
        assert [d for _, d in rows] == sorted(d for _, d in rows)


def test_rrf_fuse_semantics(spark):
    """RRF ground truth by hand: doc in both lists sums both reciprocal
    terms; doc in one list contributes only its own; ties break by id;
    fewer than two inputs is an error."""
    from ray_beam_runner_spark.functions.search import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank int")
    got = {
        r.doc_id: (r.score, r.rank)
        for r in rrf_fuse([a, b], "doc_id", rrf_k=10, topk=10).collect()
    }
    exp_scores = {
        1: 1 / 11,            # only list a, rank 1
        2: 1 / 12 + 1 / 11,   # both lists
        3: 1 / 13,            # only list a
        4: 1 / 12,            # only list b
    }
    assert set(got) == set(exp_scores)
    for d, s in exp_scores.items():
        assert abs(got[d][0] - s) < 1e-9, (d, got[d], s)
    # fused order: 2 (0.174) > 1 (0.0909) > 4 (0.0833) > 3 (0.0769)
    assert [d for d, (_, rk) in sorted(got.items(), key=lambda kv: kv[1][1])] == [2, 1, 4, 3]
    # equal-score tie (same rank in disjoint singleton lists) breaks by id
    x = spark.createDataFrame([(7, 1)], "doc_id long, rank int")
    y = spark.createDataFrame([(5, 1)], "doc_id long, rank int")
    tied = rrf_fuse([x, y], "doc_id", rrf_k=10, topk=2).collect()
    assert [(r.doc_id, r.rank) for r in sorted(tied, key=lambda r: r.rank)] == [(5, 1), (7, 2)]
    with pytest.raises(ValueError, match="two ranked"):
        rrf_fuse([a], "doc_id")
    # topk cuts AFTER fusion
    assert {r.doc_id for r in rrf_fuse([a, b], "doc_id", rrf_k=10, topk=2).collect()} == {1, 2}
