"""Distributed k-means and product quantization with oracle-exact arithmetic.

The IVF/SemDeDup family trains its coarse quantizer with Spark ML KMeans
(`functions.similarity.ivf_fit` — sampled, convergence-based, fast), which
is NOT SQL-expressible, so those queries verify rows-only. This module is
the differential-testable twin: fixed-iteration Lloyd iteration (Lloyd,
"Least squares quantization in PCM", IEEE Trans. IT 1982) with
deterministic initialization, whose every round replays as SQL CTEs, as
PageRank does (`functions.graph.pagerank`). Product quantization (Jegou,
Douze, Schmid, "Product quantization for nearest neighbor search", IEEE
TPAMI 2011) runs the same Lloyd kernel per subspace: codebooks, codes and
asymmetric-distance (ADC) search, so the WHOLE compressed-ANN pipeline
is hash-checkable.

Every Lloyd round and every code assignment is ONE vectorized Arrow
kernel pass (Velox-style: the hot loop over columnar batches, not
interpreted per-row expressions). A round's ``mapInArrow`` over the
persisted corpus assigns every vector in every subspace and emits
per-partition (subspace, cell, dimension) partial sums and counts; one
small Spark reduction ``round(sum(s) / sum(n), 9)`` — ``avg``'s own
definition — gives the rounded centroids the SQL ``avg`` gave. The
kernel's arithmetic is the SQL fold's: squared L2 summed over dimensions
in index order from 0.0, ties to the lowest cell, NaN above +inf (the
order of Spark's ``min(struct(d, cell))``). The k x dim centroids ride
the next kernel's closure, as MLlib broadcasts its centers; the model
DataFrames are built once per fit.

Scale shape (100 TB): the corpus is persisted once (tracked) and read
once per round; only per-partition k x dim partials shuffle, and the
driver holds only model-sized centroids. PQ codes compress dim floats to
m small ints (64 x f32 -> m bytes here), which is what makes
billion-vector ANN fit in memory; ADC scores candidates with an m-term
codebook lookup instead of a dim-term dot product. Empty clusters follow
Lloyd convention: a cell that loses all members vanishes (k shrinks).

Formulations measured:
- SQL rounds (replaced): ``crossJoin(broadcast(cent))`` with an
  interpreted ``aggregate(zip_with(...))`` per (vector, centroid) pair,
  ``groupBy(vid)`` min, a join back, ``groupBy(cell)`` over dim ``avg``
  columns and a ``localCheckpoint``: 3 exchanges and a checkpoint per
  round. Driver-literal centroids in ``zip_with`` were 2x slower still
  (HOFs re-evaluate literal arguments per element) and a k x dim flat
  term chain 3.5x slower (codegen compile dominates).
- The kernel: ``q_kmeans`` 7 -> 5 jobs on the bench session and 15 -> 9
  on ``get_spark()``, where its warm time is about a third lower
  (CHANGES.md). It is not the rejected driver round trip, which
  re-injected each round's centroids through ``createDataFrame`` and
  still ran the SQL assignment join over them: no DataFrame is built
  per round.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "kmeans_lloyd",
    "pq_fit",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_index",
    "ivfpq_encode",
    "ivfpq_topk",
    "ivfpq_topk_rerank",
    "stream_maintain_ivfpq",
]


def _prepare(df: DataFrame, id_col: str, vec_col: str):
    """Persisted (vid, e::array<double>) frame + validated dimension.
    Loud error on NULL/ragged vectors or NULL components: a missing
    value has no squared distance. No rebalance of a partition-poor
    input: the vectorized kernel costs a Python task per partition, and
    on 500-2,000 vector inputs splitting one scan partition four ways
    made every ANN query slower (CHANGES.md)."""
    from ray_beam_runner_spark.caches import track

    v = track(
        df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("e"),
        )
    )
    stats = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("e")).alias("mn"),
        F.max(F.size("e")).alias("mx"),
        # size(NULL) is NULL, not -1, under ANSI: count NULLs directly
        F.max((F.col("e").isNull() | F.exists("e", lambda x: x.isNull())).cast("int")).alias("nulls"),
    ).first()
    if stats.n == 0:
        return v, 0
    if stats.mn is None or stats.mn < 1 or stats.mn != stats.mx or stats.nulls:
        v.unpersist()
        raise ValueError(
            "k-means requires non-null, fixed-dimension vectors; "
            f"observed size range [{stats.mn}, {stats.mx}]"
            + (", NULL vectors or components" if stats.nulls else "")
        )
    return v, stats.mx


# A quantizer is a list of (cells, centroids) per subspace: cell ids
# ascending (int64) and their (k, d_sub) float64 centroid rows.


def _nearest(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Row index into ``c`` of each row of ``x``'s nearest centroid:
    squared L2 folded over dimensions in index order from 0.0 (the SQL
    fold's arithmetic), ties to the lowest row, NaN above +inf."""
    d = np.zeros((len(x), len(c)))
    for i in range(c.shape[1]):
        diff = x[:, i, None] - c[None, :, i]
        d += diff * diff
    nan = np.isnan(d)
    d[nan] = np.inf
    hit = (d == d.min(axis=1, keepdims=True)) & ~nan
    hit[~hit.any(axis=1)] = True  # every distance NaN: all tie
    return hit.argmax(axis=1)


def _matrix(col, dim: int) -> np.ndarray:
    """(rows, dim) float64 matrix of an Arrow list<double> column."""
    return col.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)


def _residual(x: np.ndarray, coarse) -> tuple[np.ndarray, np.ndarray]:
    """(coarse cell, vector minus its cell centroid) per row."""
    cells, cent = coarse[0]
    a = _nearest(x, cent)
    return cells[a], x - cent[a]


def _split(x: np.ndarray, books: list):
    """(subspace j, x's column slice, cells, centroids) per subspace."""
    d = x.shape[1] // len(books)
    for j, (cells, cent) in enumerate(books):
        yield j, x[:, j * d:(j + 1) * d], cells, cent


def _lloyd(v: DataFrame, dim: int, books: list, n_iter: int, coarse=None) -> list:
    """``books`` after ``n_iter`` Lloyd rounds over ``v`` (its residuals
    against ``coarse`` when given), every subspace in the same pass."""
    import pyarrow as pa

    def partials(batches):
        sums = [np.zeros_like(cent) for _, cent in books]
        counts = [np.zeros(len(cent), np.int64) for _, cent in books]
        for b in batches:
            x = _matrix(b.column("e"), dim)
            if coarse is not None:
                x = _residual(x, coarse)[1]
            for j, xs, _, cent in _split(x, books):
                a = _nearest(xs, cent)
                counts[j] += np.bincount(a, minlength=len(cent))
                for i in range(xs.shape[1]):
                    sums[j][:, i] += np.bincount(a, weights=xs[:, i], minlength=len(cent))
        out = {"j": [], "cell": [], "i": [], "s": [], "n": []}
        for j, (cells, cent) in enumerate(books):
            live = counts[j] > 0
            k, d = int(live.sum()), cent.shape[1]
            out["j"].append(np.full(k * d, j, np.int32))
            out["cell"].append(np.repeat(cells[live], d))
            out["i"].append(np.tile(np.arange(d, dtype=np.int32), k))
            out["s"].append(sums[j][live].ravel())
            out["n"].append(np.repeat(counts[j][live], d))
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(c)) for c in out.values()], names=list(out)
        )

    for _ in range(n_iter):
        means = (
            v.mapInArrow(partials, "j int, cell long, i int, s double, n long")
            .groupBy("j", "cell", "i")
            .agg(F.round(F.sum("s") / F.sum("n"), 9).alias("c"))
            .toArrow()
        )
        j, cell, i, c = (means[n].to_numpy() for n in ("j", "cell", "i", "c"))
        order = np.lexsort((i, cell, j))
        j, cell, c = j[order], cell[order], c[order]
        d = dim // len(books)
        books = [
            (cell[j == s][::d], c[j == s].reshape(-1, d)) for s in range(len(books))
        ]
    return books


def _smallest(v: DataFrame, dim: int, k: int) -> np.ndarray:
    """(k, dim) vectors of the k smallest vids, in vid order."""
    rows = v.orderBy("vid").limit(k).collect()
    return np.array([r.e for r in rows], dtype=np.float64).reshape(-1, dim)


def _seed(x: np.ndarray, m: int) -> list:
    """Initial quantizer over rows ``x``: cell = rank - 1, m subspaces."""
    cells = np.arange(len(x), dtype=np.int64)
    d = x.shape[1] // m
    return [(cells, x[:, j * d:(j + 1) * d]) for j in range(m)]


def _encode(v: DataFrame, id_col: str, dim: int, books: list, coarse=None, codes=True):
    """One kernel pass: (id_col[, cell], codes) with cell = the coarse
    cell (when ``coarse`` is given) and codes[j] = nearest cell of
    subspace j; ``codes=False`` emits the one subspace's cell instead."""
    import pyarrow as pa

    schema = T.StructType([T.StructField(id_col, v.schema["vid"].dataType)])
    if coarse is not None:
        schema.add("cell", T.LongType())
    schema.add(*(("codes", T.ArrayType(T.LongType())) if codes else ("cell", T.LongType())))

    def kernel(batches):
        for b in batches:
            x = _matrix(b.column("e"), dim)
            cols = [b.column("vid")]
            if coarse is not None:
                cell, x = _residual(x, coarse)
                cols.append(pa.array(cell))
            got = np.stack([cells[_nearest(xs, cent)] for _, xs, cells, cent in _split(x, books)], 1)
            if codes:
                offsets = np.arange(0, got.size + 1, len(books), dtype=np.int32)
                cols.append(pa.ListArray.from_arrays(offsets, got.ravel()))
            else:
                cols.append(pa.array(got[:, 0]))
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return v.mapInArrow(kernel, schema)


def _frame(spark, books: list, keyed: bool = True) -> DataFrame:
    """The model DataFrame of a quantizer: (j, cell, c), or (cell, c).
    Built from Arrow, so it is a LocalRelation: reading it, broadcasts
    included, runs no Spark job."""
    import pyarrow as pa

    t = pa.table({
        "j": pa.array([j for j, (cells, _) in enumerate(books) for _ in cells], pa.int32()),
        "cell": pa.array(np.concatenate([cells for cells, _ in books])),
        "c": pa.array([row for _, cent in books for row in cent.tolist()], pa.list_(pa.float64())),
    })
    if keyed:
        return spark.createDataFrame(t, "j int, cell long, c array<double>")
    return spark.createDataFrame(t.drop(["j"]), "cell long, c array<double>")


def _collect_model(books: DataFrame, coarse: DataFrame | None = None):
    """(books, coarse) quantizers of model DataFrames in ONE collect:
    books per subspace j ascending, coarse as one subspace (None when
    not given)."""
    frame = books.select("j", "cell", "c")
    if coarse is not None:
        frame = frame.unionByName(coarse.select(F.lit(-1).alias("j"), "cell", "c"))
    by_j: dict = {}
    for r in frame.collect():
        by_j.setdefault(r.j, []).append((r.cell, list(r.c)))

    def quantizer(rows):
        rows.sort(key=lambda r: r[0])
        return (
            np.array([cell for cell, _ in rows], np.int64),
            np.array([c for _, c in rows], np.float64),
        )

    model = [quantizer(by_j[j]) for j in sorted(by_j) if j >= 0]
    return model, ([quantizer(by_j[-1])] if -1 in by_j else None)


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """Fixed-iteration Lloyd k-means over an embedding column. Returns
    (id_col, cell): each vector's cluster after ``n_iter``
    (assign, update) rounds and one final assignment against the final
    centroids.

    Deterministic by construction — what makes it ORACLE-EXPRESSIBLE:
    - init: the vectors of the ``k`` smallest ids, cell = rank - 1;
    - assignment: argmin squared L2 distance, ties to the lowest cell
      (Spark's min over (distance, cell) structs: NaN above +inf);
    - distances fold dimension-index order on both engines, so the
      double arithmetic agrees bit-for-bit;
    - centroid means round to 9 dp before the next round — the raw avg
      is only ulp-reproducible (partial-sum order is partition- and
      engine-dependent), so rounding is what pins the iteration, not
      luck.

    For the production ANN path use ``similarity.ivf_fit`` (Spark ML,
    sampled); this is the exact, differentially-checkable formulation.
    """
    v, dim = _prepare(df, id_col, vec_col)
    if dim == 0:
        v.unpersist()
        return v.select(F.col("vid").alias(id_col), F.lit(0).cast("long").alias("cell"))
    cent = _lloyd(v, dim, _seed(_smallest(v, dim, k), 1), n_iter)
    return _encode(v, id_col, dim, cent, codes=False)


def _sub(j: int, d_sub: int):
    """Subspace j's slice of the vector column (1-based, length d_sub)."""
    return F.slice("e", j * d_sub + 1, d_sub)


def _explode_subspaces(df: DataFrame, m: int, d_sub: int, keep=("vid",)) -> DataFrame:
    """(keep..., j, e): every subvector of every row in ONE
    projection + explode — the corpus is touched once per pass, not m
    times (the sequential per-subspace loop this replaced launched m
    independent job chains per Lloyd round)."""
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), _sub(j, d_sub).alias("e"))
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select(*keep, F.col("s.j").alias("j"), F.col("s.e").alias("e"))


def _check_query_vectors(q: DataFrame, dim: int, what: str) -> None:
    """Loud error on NULL/ragged/mis-sized QUERY vectors: the corpus
    goes through _prepare's check, but a wrong-dimension query would
    otherwise silently slice-truncate (too long) or null-pad distances
    and float garbage to the top ranks (too short / NULL)."""
    s = q.agg(F.min(F.size("e")).alias("mn"), F.max(F.size("e")).alias("mx")).first()
    if s.mn is None:
        return  # empty query set: vacuously fine
    if s.mn < 1 or s.mn != dim or s.mx != dim:
        raise ValueError(
            f"{what}: query vectors must be non-null {dim}-dim; "
            f"observed size range [{s.mn}, {s.mx}]"
        )


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
) -> DataFrame:
    """Train product-quantization codebooks: the vector splits into
    ``m`` contiguous subspaces and each gets its own deterministic
    Lloyd codebook of ``k`` centroids (Jegou et al. 2011 §II), all m
    trained in lockstep (one corpus pass per round). Returns
    (j, cell, c) — an m x k x (dim/m) table, MODEL-sized,
    broadcastable. dim must divide evenly by m (loud error
    otherwise)."""
    v, dim = _prepare(df, id_col, vec_col)
    if dim == 0:
        v.unpersist()
        raise ValueError("pq_fit on an empty corpus")
    if dim % m:
        v.unpersist()
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    books = _lloyd(v, dim, _seed(_smallest(v, dim, k), m), n_iter)
    return _frame(df.sparkSession, books)


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Encode vectors against fitted codebooks: (id_col, codes) where
    codes[j] = argmin cell of subspace j (ties to lowest cell), in j
    order. The codebooks are collected once (model-sized); the corpus
    is encoded in one kernel pass."""
    v, dim = _prepare(df, id_col, vec_col)
    books, _ = _collect_model(codebooks)
    m = len(books)
    sizes = [cent.shape[1] for _, cent in books]
    if m == 0 or dim == 0 or dim % m or any(sz != dim // m for sz in sizes):
        v.unpersist()
        raise ValueError(
            f"pq_encode: dim {dim} incompatible with {m} codebooks of "
            f"subspace sizes {sizes}"
        )
    return _encode(v, id_col, dim, books)


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    code_id: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query's distance to an
    encoded vector is the j-ordered sum of squared L2 distances from
    the query's subvectors to the vector's codebook entries (Jegou et
    al. 2011 §III) — an m-term lookup per candidate instead of a
    dim-term dot product, the economics of compressed billion-vector
    search.

    Scale shape: the (q x m x k) distance table is tiny and broadcast;
    candidates are scored by ONE join on (j, cell) against the exploded
    codes and one map-side-combinable per-(query, vector) fold. The
    fold runs in j order (array_sort before aggregate) and the result
    rounds to ``round_digits`` with rank ties broken by id — the same
    cross-engine determinism recipe as q_similarity_topk. Returns
    (q_id, vec_id, adc, rank), rank <= k."""
    from pyspark.sql import Window as W

    mrow = codebooks.agg(F.max("j")).first()[0]
    if mrow is None:
        raise ValueError("pq_adc_topk: empty codebooks")
    m = int(mrow) + 1
    d_sub = codebooks.select(F.size("c")).first()[0]
    q = queries.select(
        F.col(query_id).alias("vid"),
        F.col(query_vec).cast("array<double>").alias("e"),
    )
    _check_query_vectors(q, m * d_sub, "pq_adc_topk")
    # (qid, j, cell, dp): query subvector -> codebook entry partial dist
    qparts = (
        _explode_subspaces(q, m, d_sub)
        .join(F.broadcast(codebooks.select("j", "cell", "c")), "j")
        .select(
            F.col("vid").alias("qid"),
            "j",
            "cell",
            F.aggregate(
                F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dp"),
        )
    )
    cand = codes.select(
        F.col(code_id).alias("vid"), F.posexplode("codes").alias("j", "cell")
    )
    scored = (
        cand.join(F.broadcast(qparts), ["j", "cell"])
        .groupBy("qid", "vid")
        .agg(F.array_sort(F.collect_list(F.struct("j", "dp"))).alias("jd"))
        .select(
            "qid",
            "vid",
            F.round(
                F.aggregate(
                    F.transform("jd", lambda s: s["dp"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_digits,
            ).alias("adc"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("adc"), F.col("vid"))
    return (
        scored.select(
            F.col("qid").alias(query_id),
            F.col("vid").alias(code_id),
            "adc",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 1,
):
    """Build a composed IVF-PQ index (FAISS IVFPQ, Jegou et al. 2011
    §IV): a deterministic Lloyd COARSE quantizer partitions the corpus
    into cells, and a product quantizer trained on the RESIDUALS
    (vector minus its cell centroid — far lower variance than raw
    vectors, so the same code budget quantizes much finer) compresses
    each vector to m codes. Returns (coarse, books, index):
    coarse = (cell, c), books = (j, cell, c) over residual subspaces,
    index = (id_col, cell, codes). All three stages reuse the
    deterministic Lloyd kernel (the PQ rounds take each residual inside
    the kernel — one corpus pass per round for all m subspaces), so the
    whole index is reproducible and oracle-expressible.

    Scale shape: coarse and books are model-sized and ride the kernel's
    closure; the corpus is read once per round and once for the index,
    and no vector ever shuffles — only cell-keyed partial sums do."""
    v, dim = _prepare(df, id_col, vec_col)
    if dim == 0:
        v.unpersist()
        raise ValueError("ivfpq_index on an empty corpus")
    if dim % m:
        v.unpersist()
        raise ValueError(f"ivfpq_index: dim {dim} not divisible by m={m}")
    x0 = _smallest(v, dim, max(n_cells, k))
    coarse = _lloyd(v, dim, _seed(x0[:n_cells], 1), n_iter)
    seed = _seed(_residual(x0[:k], coarse)[1], m)
    books = _lloyd(v, dim, seed, n_iter, coarse)
    spark = df.sparkSession
    index = _encode(v, id_col, dim, books, coarse)
    return _frame(spark, coarse, keyed=False), _frame(spark, books), index


def _encode_ivfpq(df: DataFrame, model, id_col: str, vec_col: str, m: int | None):
    """ivfpq_encode against an already collected (books, coarse) model."""
    books, coarse = model
    if not books:
        raise ValueError("ivfpq_encode: empty codebooks")
    m = m or len(books)
    v, dim = _prepare(df, id_col, vec_col)
    if dim == 0:
        v.unpersist()
        raise ValueError("ivfpq_encode on an empty corpus")
    if dim % m:
        v.unpersist()
        raise ValueError(f"ivfpq_encode: dim {dim} not divisible by m={m}")
    if coarse is None or coarse[0][1].shape[1] != dim or m != len(books) or any(
        cent.shape[1] != dim // m for _, cent in books
    ):
        v.unpersist()
        raise ValueError(f"ivfpq_encode: quantizer incompatible with dim {dim}, m={m}")
    return _encode(v, id_col, dim, books, coarse)


def ivfpq_encode(
    df: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    id_col: str,
    vec_col: str,
    m: int | None = None,
) -> DataFrame:
    """Encode vectors against a FROZEN IVF-PQ quantizer: coarse-cell
    assignment, residual, per-subspace code argmin — the index stage of
    :func:`ivfpq_index` factored out so NEW vectors arriving after the
    fit get (cell, codes) from the same quantizer with identical
    arithmetic. This is the ingestion half of incremental ANN index
    maintenance (a 100 TB embeddings pipeline fits the quantizer once
    on a sample, then encodes every incoming batch against it — FAISS
    add-after-train). Returns (id_col, cell, codes). The quantizer is
    collected in one job; ``m`` (subspace count) defaults to the
    codebooks' and must match it when given."""
    return _encode_ivfpq(df, _collect_model(books, coarse), id_col, vec_col, m)


def stream_maintain_ivfpq(
    feed: DataFrame,
    index_dir: str,
    coarse: DataFrame,
    books: DataFrame,
    id_col: str,
    vec_col: str,
    checkpoint_dir: str,
    app_id: str | None = None,
):
    """Maintain an IVF-PQ index TABLE from an embeddings change feed
    (r8 verdict ask #3): each micro-batch nets its deltas per id (an
    update's delete+insert pair collapses to the insert; a later
    version wins), encodes surviving inserts against the FROZEN
    quantizer (:func:`ivfpq_encode`), MERGEs them into the index
    snapshot table, and retracts pure deletes via
    :func:`sources.snapshots.delete_keys`. Both commits carry
    (app, batch) transaction ids, so replayed batches are
    manifest-detected no-ops — exactly-once index state on top of the
    feed's checkpointed version offsets.

    Scale shape: per trigger the corpus is never touched — only the
    batch's vectors are encoded (one kernel pass) and only
    the index files containing affected ids are rewritten (file-pruned
    keyed MERGE/DELETE). An index maintained across N drains equals
    the index rebuilt from scratch with the same quantizer
    (tests/test_similarity.py::test_ivfpq_incremental_maintenance)."""
    import os as _os

    from pyspark.sql import Window as W

    from ray_beam_runner_spark.sources import snapshots as snap

    app = app_id or f"ivfpq:{_os.path.basename(_os.path.abspath(index_dir))}"
    # the quantizer is frozen: collect it once at stream construction,
    # not once per micro-batch
    model = _collect_model(books, coarse)
    if not model[0]:
        raise ValueError("stream_maintain_ivfpq: empty codebooks")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = W.partitionBy(id_col).orderBy(
            F.col("_commit_version").desc(),
            F.when(F.col("_change") == "insert", 1).otherwise(0).desc(),
        )
        # persist the NETTED frame, not the raw batch: the per-id window
        # feeds the insert/delete counts, the encode, and the retraction
        # — unpersisted it would recompute per consumer
        last = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        try:
            counts = dict(
                last.groupBy("_change").count().collect()
            )  # one job for both branch decisions
            if counts.get("insert"):
                ins = last.filter(F.col("_change") == "insert").select(id_col, vec_col)
                enc = _encode_ivfpq(ins, model, id_col, vec_col, None)
                snap.upsert_snapshot(
                    spark, index_dir, enc, [id_col],
                    txn_app=app, txn_version=batch_id,
                )
            if counts.get("delete"):
                dels = last.filter(F.col("_change") == "delete").select(id_col)
                snap.delete_keys(
                    spark, index_dir, dels, [id_col],
                    txn_app=f"{app}#del", txn_version=batch_id,
                )
        finally:
            last.unpersist()

    return (
        feed.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def refit_ivfpq(
    spark,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    coarse_dir: str,
    books_dir: str,
    index_dir: str,
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 1,
    sample_mod: int | None = None,
) -> dict:
    """Re-train the IVF-PQ quantizer on the CURRENT corpus and swap the
    index to it — the distribution-drift answer for a long-lived corpus
    whose frozen quantizer (correct for incremental consistency,
    corpus.py) has gone stale. FAISS's retrain-and-add analog, done as
    table commits:

    1. FIT on the current vectors (optionally a deterministic hash
       sample — ``sample_mod=N`` keeps ids where xxhash64(id) % N == 0,
       the 100 TB path: quantizer quality needs a sample, not a scan);
    2. COMMIT the new coarse/books tables, then read them back so the
       encode uses exactly the committed quantizer bytes;
    3. RE-ENCODE the whole corpus in ONE partition-parallel pass
       (:func:`ivfpq_encode` — one kernel pass, the corpus
       never shuffles);
    4. COMMIT the re-encoded index LAST, carrying (a) the parent
       index's txn watermarks so the streaming maintainer's
       exactly-once dedupe survives the swap, and (b) ``ann:coarse`` /
       ``ann:books`` PINS naming the quantizer versions this index was
       encoded against.

    The index commit is the single atomicity point: a reader that
    resolves the triple through :func:`load_ivfpq` (index manifest →
    pinned quantizer versions) can never observe a mixed-generation
    quantizer/index pair, no matter how the three commits interleave
    with its reads. A maintainer drain AFTER the refit encodes new
    batches against the pinned tables, so maintained-after-refit equals
    rebuilt-from-scratch (tests/test_similarity.py). Returns
    {"coarse": v, "books": v, "index": v} — the committed versions."""
    from ray_beam_runner_spark.sources import snapshots as snap

    fit_df = vectors
    if sample_mod is not None and sample_mod > 1:
        sampled = vectors.filter(
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string"), F.lit(0x5EED)),
                F.lit(sample_mod),
            )
            == 0
        )
        # a tiny corpus can sample to nothing — fall back to the full
        # set rather than raising from an empty fit
        fit_df = vectors if sampled.isEmpty() else sampled
    coarse_new, books_new, _ = ivfpq_index(
        fit_df, id_col, vec_col, n_cells=n_cells, m=m, k=k, n_iter=n_iter
    )
    snap.write_snapshot(coarse_new, coarse_dir)
    snap.write_snapshot(books_new, books_dir)
    vc = snap.latest_version(coarse_dir)
    vb = snap.latest_version(books_dir)
    coarse_t = snap.read_snapshot(spark, coarse_dir, version=vc)
    books_t = snap.read_snapshot(spark, books_dir, version=vb)
    enc = ivfpq_encode(vectors, coarse_t, books_t, id_col, vec_col, m=m)
    prev = snap.latest_version(index_dir)
    txns: dict = {}
    if prev is not None:
        txns.update(snap.read_manifest(index_dir, prev).get("txns", {}))
    txns.update({"ann:coarse": int(vc), "ann:books": int(vb)})
    snap.write_snapshot(enc, index_dir, cluster_by=[id_col], n_files=2, txns=txns)
    return {"coarse": vc, "books": vb, "index": snap.latest_version(index_dir)}


def load_ivfpq(
    spark, coarse_dir: str, books_dir: str, index_dir: str,
    index_version: int | None = None,
):
    """Resolve a CONSISTENT (coarse, books, index) triple: read the
    index's manifest first and open the quantizer tables at the
    versions its ``ann:coarse``/``ann:books`` txn pins name. Readers
    interleaving with :func:`refit_ivfpq` therefore see either the old
    generation whole or the new generation whole — never a new index
    decoded against old codebooks or vice versa. Pre-pinning indexes
    (no txn entries) fall back to latest-everything.

    ``index_version`` pins the INDEX itself (e.g. a cascade read
    epoch's vector entry — corpus.read_corpus): the quantizer then
    resolves through THAT version's pins, so an epoch-pinned ANN search
    is generation-consistent even after a later refit swapped the live
    quantizer."""
    from ray_beam_runner_spark.sources import snapshots as snap

    vi = index_version if index_version is not None else snap.latest_version(index_dir)
    if vi is None:
        raise FileNotFoundError(f"load_ivfpq: no index at {index_dir}")
    t = snap.read_manifest(index_dir, vi).get("txns", {})
    vc = t.get("ann:coarse")
    vb = t.get("ann:books")
    coarse = snap.read_snapshot(
        spark, coarse_dir, version=int(vc) if vc is not None else None
    )
    books = snap.read_snapshot(
        spark, books_dir, version=int(vb) if vb is not None else None
    )
    index = snap.read_snapshot(spark, index_dir, version=vi)
    return coarse, books, index


def ivfpq_topk_rerank(
    queries: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    index: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    alpha: int = 4,
    n_probe: int | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    index_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage ANN search (production IVF-PQ, FAISS's refine step):
    stage 1 shortlists ``k * alpha`` candidates per query by
    residual-ADC (:func:`ivfpq_topk` — compressed-domain, probe-bound),
    stage 2 re-scores ONLY those candidates with EXACT squared-L2
    against the original vectors and keeps the true top-``k`` of the
    shortlist. Re-ranking recovers the recall that PQ quantization
    distortion costs at small ``n_probe``: the ADC ordering inside the
    shortlist is approximate, the exact ordering is not.

    Scale shape: the corpus is touched only by one semi-join pruned to
    the shortlist ids (``vectors`` clustered by id makes that a
    file-pruned point read; the shortlist itself is queries x k x
    alpha rows, broadcastable) — never a corpus scan, never an
    all-pairs score. Returns (query_id, index_id, dist, rank) with
    rank <= k, ties by (dist, id)."""
    from pyspark.sql import Window as W

    if alpha < 1:
        raise ValueError(f"ivfpq_topk_rerank: alpha must be >= 1, got {alpha}")
    shortlist = ivfpq_topk(
        queries, coarse, books, index, k=k * alpha, n_probe=n_probe,
        query_id=query_id, query_vec=query_vec, index_id=index_id,
        round_digits=round_digits,
    ).select(F.col(query_id).alias("qid"), F.col(index_id).alias("vid"))
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).cast("array<double>").alias("qe"),
    )
    v = vectors.select(
        F.col(index_id).alias("vid"), F.col(vec_col).cast("array<double>").alias("ve")
    )
    # candidates-only corpus read: the shortlist id set is tiny -> the
    # semi-join broadcasts, and a corpus clustered by id file-prunes
    cv = v.join(
        F.broadcast(shortlist.select("vid").distinct()), "vid", "left_semi"
    )
    scored = (
        shortlist.join(cv, "vid")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "vid",
            F.round(
                F.aggregate(
                    F.zip_with("qe", "ve", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_digits,
            ).alias("dist"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("dist"), F.col("vid"))
    return (
        scored.select(
            F.col("qid").alias(query_id),
            F.col("vid").alias(index_id),
            "dist",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    queries: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    index: DataFrame,
    k: int = 5,
    n_probe: int | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    index_id: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ search: rank coarse cells per query by centroid distance,
    probe the ``n_probe`` nearest (None = all — the exhaustive-probe
    gating mode, where the result is pure residual-ADC and therefore
    oracle-checkable), subtract the probed centroid from the query, and
    score that cell's candidates by the j-ordered residual-ADC fold.
    Candidates in unprobed cells never join a query partial — probe
    semantics fall out of the (cell, j, code) equi-join. Returns
    (q_id, vec_id, adc, rank), rank <= k (ties: adc then id)."""
    from pyspark.sql import Window as W

    # ONE scalar probe for both codebook constants (m and d_sub were
    # two separate driver actions — two scheduler round-trips for two
    # numbers from the same model-sized frame)
    mrow = books.agg(
        F.max("j").alias("mj"), F.max(F.size("c")).alias("ds")
    ).first()
    if mrow.mj is None:
        raise ValueError("ivfpq_topk: empty codebooks")
    m = int(mrow.mj) + 1
    d_sub = mrow.ds
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).cast("array<double>").alias("e"),
    )
    _check_query_vectors(
        q.select(F.col("qid").alias("vid"), "e"), m * d_sub, "ivfpq_topk"
    )
    qcell = q.crossJoin(F.broadcast(coarse)).select(
        "qid",
        "cell",
        F.aggregate(
            F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("cd"),
    )
    if n_probe is not None:
        w = W.partitionBy("qid").orderBy(F.col("cd"), F.col("cell"))
        qcell = (
            qcell.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= n_probe)
            .drop("_r")
        )
    qres = (
        qcell.join(q, "qid")
        .join(
            F.broadcast(
                coarse.withColumnRenamed("c", "cc").withColumnRenamed("cell", "pcell")
            ),
            F.col("cell") == F.col("pcell"),
        )
        .select("qid", "cell", F.zip_with("e", "cc", lambda x, y: x - y).alias("e"))
    )
    qparts = (
        _explode_subspaces(qres, m, d_sub, keep=("qid", "cell"))
        .join(
            F.broadcast(books.select("j", F.col("cell").alias("code"), "c")),
            "j",
        )
        .select(
            "qid",
            "cell",
            "j",
            "code",
            F.aggregate(
                F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dp"),
        )
    )
    cand = index.select(
        F.col(index_id).alias("vid"), "cell", F.posexplode("codes").alias("j", "code")
    )
    scored = (
        cand.join(F.broadcast(qparts), ["cell", "j", "code"])
        .groupBy("qid", "vid")
        .agg(F.array_sort(F.collect_list(F.struct("j", "dp"))).alias("jd"))
        .select(
            "qid",
            "vid",
            F.round(
                F.aggregate(
                    F.transform("jd", lambda s: s["dp"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_digits,
            ).alias("adc"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("adc"), F.col("vid"))
    return (
        scored.select(
            F.col("qid").alias(query_id),
            F.col("vid").alias(index_id),
            "adc",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )
