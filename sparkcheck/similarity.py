"""Similarity search over embedding columns (array<float>).

Scale design:
- **cosine()** is a pure higher-order-function fold (zip_with + aggregate)
  — JVM-side, sequential left-fold in doubles, so the arithmetic is
  bit-reproducible across engines (the DuckDB oracle folds in the same
  order).
- **brute_force_topk** is the exact baseline: queries x corpus cross join.
  Correct at any scale only when |queries| is small; the corpus side stays
  partitioned and the query side is broadcast, so it is one narrow scan of
  the corpus (no shuffle of the big side) + a per-partition top-k
  (window) — at 10^12 rows the global top-k per query is a
  groupBy(query) of per-partition candidates, which AQE coalesces.
- **sign-LSH (random hyperplanes)** is the approximate scale path: b
  deterministic pseudo-random hyperplanes (xxhash64-derived coefficients,
  no RNG state to ship) → b-bit signature per vector → bucket join on
  signature prefix; only same-bucket pairs are scored. One narrow scan to
  sign, one bucket-balanced shuffle.
- **ivf_topk** (IVF-flat): k-means-lite centroids picked deterministically,
  vectors assigned to nearest centroid once (narrow), queries probe the
  n_probe nearest centroid partitions only — the classic trade of recall
  for a corpus-fraction scan.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf resolves 'pd.Series' hints
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Default scorer for the cosine hot loops (BENCH/scorer_bench.py findings):
#   "hof"   — higher-order-function fold (zip_with + aggregate): JVM-side but
#             INTERPRETED and allocation-bound; its sequential left-fold is
#             bit-reproducible against the DuckDB oracle (oracle-parity mode).
#   "numpy" — Arrow-batched pandas_udf in float64. Two variants:
#             * query-matrix scoring (top-k paths): the tiny query side is a
#               driver-side closure matrix; Arrow moves ONE corpus vector per
#               scored pair and numpy row-gathers the query — measured faster
#               than the fold at >=1M pairs (see BENCH/BASELINE.md).
#             * generic two-array pair scoring: Arrow must move BOTH vectors
#               per pair; the transfer dominates and the fold WINS (measured
#               0.73x at 8M pairs) — so symmetric pair paths (near-dup
#               verify) default to "hof".
#             numpy's pairwise summation differs from the sequential fold by
#             O(1e-16) relative — identical after the 6-dp rounding every
#             consumer applies (A/B value-hash-verified vs the oracles).
DEFAULT_TOPK_SCORER = "numpy"
DEFAULT_PAIR_SCORER = "hof"
# max queries collected to the driver for the closure-matrix path
MAX_CLOSURE_QUERIES = 10_000


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in doubles (oracle-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine_batch_udf():
    """Vectorized cosine: float64 np.einsum over each Arrow batch (whole
    batch in one BLAS-free numpy pass — no per-row Python). Requires
    equal-length vectors within a batch (ragged input raises)."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("double")
    def cos_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        av = np.stack(a.to_numpy()).astype(np.float64, copy=False)
        bv = np.stack(b.to_numpy()).astype(np.float64, copy=False)
        num = np.einsum("ij,ij->i", av, bv)
        den = np.sqrt(np.einsum("ij,ij->i", av, av)) * np.sqrt(
            np.einsum("ij,ij->i", bv, bv)
        )
        return pd.Series(num / den)

    return cos_udf


def cosine(a: Column, b: Column, scorer: str | None = None) -> Column:
    """Pairwise cosine similarity; scorer picks the hot-loop implementation
    (see the scorer notes above — generic two-array pairs default to the
    "hof" fold because Arrow transfer of both vectors dominates)."""
    if (scorer or DEFAULT_PAIR_SCORER) == "numpy":
        return _cosine_batch_udf()(a, b)
    return dot(a, b) / (norm(a) * norm(b))


def _query_matrix_udf(qmap: dict):
    """cos(c_vec, Q[q_id]) with the query matrix as a driver-side closure:
    Arrow moves only the corpus vector + the query id per scored pair, and
    each batch is two float64 einsums + a row gather (no per-row Python).
    Float math matches cosine(): dot / (|q| * |c|)."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    ids = list(qmap)
    qmat = np.asarray([qmap[i] for i in ids], dtype=np.float64)
    qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
    index = {i: j for j, i in enumerate(ids)}

    @pandas_udf("double")
    def score(c_vec: pd.Series, q_id: pd.Series) -> pd.Series:
        cv = np.stack(c_vec.to_numpy()).astype(np.float64, copy=False)
        rows = q_id.map(index).to_numpy()
        num = np.einsum("ij,ij->i", qmat[rows], cv)
        den = qnorm[rows] * np.sqrt(np.einsum("ij,ij->i", cv, cv))
        return pd.Series(num / den)

    return score


def _gemm_topk_scores(
    corpus: DataFrame,
    qmap: dict,
    id_col: str,
    vec_col: str,
    k: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cos): every corpus vector scored against ALL
    queries in one zero-copy Arrow pass.

    mapInArrow reads each batch's list column as its flat contiguous buffer
    (no per-row object loop), computes the whole batch x queries cosine
    block as a single float64 matmul, and — when ``k`` is given — emits only
    each query's batch-local top candidates. The corpus vector crosses the
    JVM/Python boundary ONCE regardless of |queries| (the pair-join
    formulation moves it |queries| times and re-stacks per pair — measured
    0.7x of the plain fold; this gemm form wins 2.6x on scoring, see
    BENCH/BASELINE.md), and the downstream global top-k window ranks
    thousands of candidates instead of |corpus| x |queries| rows.

    Pruning is a guaranteed superset of the final top-k: the batch keeps
    every row with cos >= (k+1-th batch score - 1e-6). The +1 covers the
    query's own row (filtered later); the 1e-6 slack covers any half-up /
    half-even disagreement between numpy and Spark's F.round at the 6-dp
    boundary, and all rounding-induced ties at the cut survive because the
    threshold sits a full rounding step below the cut value. Final scores
    are re-rounded and re-ranked by Spark, so emitted values and order are
    identical to the unpruned plan."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    ids = list(qmap)
    qmat = np.asarray([qmap[i] for i in ids], dtype=np.float64)
    qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
    dim = qmat.shape[1]
    id_dtype = dict(corpus.dtypes)[id_col]

    def score_batches(batches):
        nq = len(ids)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            nid = batch.column(0)
            flat = batch.column(1).flatten()
            cv = np.asarray(flat, dtype=np.float64).reshape(n, dim)
            num = cv @ qmat.T  # (n, nq) float64 gemm
            cn = np.sqrt(np.einsum("ij,ij->i", cv, cv))
            cos = num / (cn[:, None] * qnorm[None, :])
            if k is not None and n > k + 1:
                kth = np.partition(cos, n - (k + 1), axis=0)[n - (k + 1)]
                keep = cos >= (kth - 1e-6)[None, :]
                rows, cols = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [
                        nid.take(pa.array(rows)),
                        pa.array(cols.astype(np.int32)),
                        pa.array(cos[rows, cols]),
                    ],
                    names=["neighbor_id", "q_idx", "cos"],
                )
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    nid.take(pa.array(np.repeat(np.arange(n, dtype=np.int64), nq))),
                    pa.array(np.tile(np.arange(nq, dtype=np.int32), n)),
                    pa.array(cos.reshape(-1)),
                ],
                names=["neighbor_id", "q_idx", "cos"],
            )

    from .sources import ensure_parallelism

    narrow = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    )
    scored = narrow.mapInArrow(
        score_batches, f"neighbor_id {id_dtype}, q_idx int, cos double"
    )
    qid_arr = F.array(*[F.lit(i) for i in ids])
    return scored.select(
        F.element_at(qid_arr, F.col("q_idx") + 1).alias("query_id"),
        "neighbor_id",
        F.round(F.col("cos"), 6).alias("cos"),
    )


def _collect_query_map(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cause: str = "scorer='numpy'",
    remedy: str = "partition the query set or use scorer='hof'",
) -> dict:
    """The query side as {id: vector} on the driver; over the cap the
    error names the caller's option that needs it (``cause``) and what
    the caller can do instead (``remedy``)."""
    rows = queries.select(id_col, vec_col).limit(MAX_CLOSURE_QUERIES + 1).collect()
    if len(rows) > MAX_CLOSURE_QUERIES:
        raise ValueError(
            f"{cause} collects the query side to the driver and is capped at "
            f"{MAX_CLOSURE_QUERIES} queries; {remedy}"
        )
    return {r[id_col]: [float(x) for x in r[vec_col]] for r in rows}


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str | None = None,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, cos). The small query
    side is broadcast so the corpus scan is shuffle-free; ranking uses the
    cosine rounded to 6 dp with neighbor-id tie-break, making the result set
    deterministic across engines and partitionings."""
    if (scorer or DEFAULT_TOPK_SCORER) == "numpy":
        qmap = _collect_query_map(queries, id_col, vec_col)
        scored = _gemm_topk_scores(corpus, qmap, id_col, vec_col, k=k).where(
            F.col("query_id") != F.col("neighbor_id")
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        scored = c.join(
            F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
        ).select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec"), "hof"), 6).alias("cos"),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str | None = None,
) -> DataFrame:
    """Exact embedding near-dup pairs (cos >= threshold) — O(n^2) oracle /
    verification stage; pair discovery at scale goes through sign-LSH."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb"), scorer), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (memory-bounded ANN at corpus scale)
# ---------------------------------------------------------------------------


def _quantize_expr(vec_col: "str | Column") -> Column:
    """Symmetric per-vector int8 codes: q_i = round(127·x_i / max|x|) as a
    tinyint array (all-zero vectors quantize to all-zero codes). Pure
    Column HOFs — quantization runs JVM-side inside codegen, and the
    integer codes are bit-identical on any engine that rounds half away
    from zero (Spark and DuckDB both do)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    return F.when(
        mx > 0,
        F.transform(
            v,
            lambda x: F.round(x.cast("double") * F.lit(127.0) / mx).cast("tinyint"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
    impl: str = "hof",
) -> DataFrame:
    """Per-vector symmetric int8 quantization of an embedding column:
    ``out_col`` = tinyint codes q_i = round(127·x_i / max|x|), ``scale_col``
    = max|x|/127 so x ≈ q·scale. The memory lever for embedding ops at
    corpus scale: a float32×64 embedding column over 10^12 docs is
    ~256 TB of vector payload — int8 codes are 64 TB, cross every shuffle
    and Arrow boundary 4× cheaper, and (unlike floats) make downstream
    dot products ALL-INTEGER, hence bit-exact on any engine. Max absolute
    quantization error per component is scale/2 (≤0.4% of the vector's
    max component); `quantized_topk` measures the end-to-end ranking
    effect. No reference analog (GX has no embedding ops).

    ``impl="hof"`` (default) quantizes with Column HOFs — the
    oracle-replayable path, but higher-order functions are interpreted
    per element. ``impl="arrow"`` is the ingest path: one mapInArrow
    numpy pass (measured ~6x on 1Mx64, local[8]), rounding half-away-from-zero
    exactly like Spark's round(), so both impls emit IDENTICAL codes
    (differential test); only the output column order differs from the
    input projection (id-and-vector first)."""
    if impl == "arrow":
        import numpy as np  # noqa: PLC0415
        import pyarrow as pa  # noqa: PLC0415

        in_cols = df.columns
        first = df.select(vec_col).where(F.col(vec_col).isNotNull()).take(1)
        if not first:
            # empty input (or all-NULL vectors): nothing to size the
            # batches with — the HOF path handles both shapes lazily
            return quantize_embeddings(df, vec_col, out_col, scale_col, "hof")
        dim = len(first[0][0])
        vec_idx = in_cols.index(vec_col)

        def quant_batches(batches):
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                arr = batch.column(vec_idx)
                valid = np.asarray(arr.is_valid())
                all_valid = bool(valid.all())

                def quantize(xv):
                    mx = np.abs(xv).max(axis=1)
                    safe = np.where(mx > 0, mx, 1.0)
                    # (x * 127) / mx in that order — the HOF computes
                    # x*127.0/mx left-to-right, and a fused 127/mx factor
                    # can differ in the last ulp, flipping a .5 code
                    scaled = (xv * 127.0) / safe[:, None]
                    # half away from zero, matching Spark round()
                    # (np.round is half-even, disagrees at exact .5)
                    q = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
                    return np.where(mx[:, None] > 0, q, 0.0).astype(np.int8), mx

                if all_valid:  # ingest hot path: zero per-row python
                    xv = np.asarray(arr.flatten(), dtype=np.float64).reshape(
                        n, dim
                    )
                    q, mx = quantize(xv)
                    codes = pa.array(list(q), type=pa.list_(pa.int8()))
                    scales = pa.array(mx / 127.0)
                else:
                    # NULL vector rows: flatten() drops their slots, so a
                    # blind reshape would misalign every following row —
                    # compute on the valid subset and scatter back (NULL
                    # codes/scale for NULL vectors, like the HOF path)
                    nv = int(valid.sum())
                    q_full = np.zeros((n, dim), dtype=np.int8)
                    mx_full = np.zeros(n, dtype=np.float64)
                    if nv:
                        xv = np.asarray(
                            arr.drop_null().flatten(), dtype=np.float64
                        ).reshape(nv, dim)
                        q, mx = quantize(xv)
                        q_full[valid] = q
                        mx_full[valid] = mx
                    codes = pa.array(
                        [q_full[i] if valid[i] else None for i in range(n)],
                        type=pa.list_(pa.int8()),
                    )
                    scales = pa.array(
                        [mx_full[i] / 127.0 if valid[i] else None for i in range(n)],
                        type=pa.float64(),
                    )
                yield pa.RecordBatch.from_arrays(
                    list(batch.columns) + [codes, scales],
                    names=in_cols + [out_col, scale_col],
                )

        schema = ", ".join(f"{c} {t}" for c, t in df.dtypes)
        return df.mapInArrow(
            quant_batches,
            f"{schema}, {out_col} array<tinyint>, {scale_col} double",
        )
    if impl != "hof":
        raise ValueError(f"impl must be 'hof' or 'arrow', got {impl!r}")
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    return df.withColumn(out_col, _quantize_expr(vec_col)).withColumn(
        scale_col, (mx / F.lit(127.0)).cast("double")
    )


def _qdot(a: Column, b: Column) -> Column:
    """Integer dot product of two tinyint code arrays, exact (bigint
    accumulator; 127²·dim ≪ 2^63). Sequential left fold, mirrored
    term-for-term by the DuckDB oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("int") * y.cast("int")).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Top-k by int8-quantized cosine: (query_id, neighbor_id, qcos, rank)
    — `brute_force_topk`'s memory-bounded sibling. Both sides are
    quantized (`quantize_embeddings`), scored by the integer dot
    q_a·q_b / (√(q_a·q_a)·√(q_b·q_b)), rounded 6 dp with the neighbor-id
    tie-break. Because the codes and dots are exact integers, the
    result is deterministic across engines, partitionings, and scorer
    implementations — only the final divide/√/round touch floats, and
    those are IEEE-correctly-rounded everywhere.

    ``codes`` skips corpus-side quantization: pass a stored
    (id_col, qvec) frame (written once by `quantize_embeddings`) and the
    scan reads ~68 B/row of codes instead of 256 B/row of floats plus an
    interpreted per-element HOF — the at-scale shape, where quantization
    is an ingest-time write, not a query-time transform.

    ``scorer="numpy"`` (default): int8 codes cross Arrow once per corpus
    vector — 4× less transfer than the float path — and each batch is
    one BLAS gemm over integer-valued float64 (exact, |dot| ≪ 2^53).
    ``scorer="hof"``: the Column fold the DuckDB oracle replays
    term-for-term. A differential test asserts both produce identical
    rows."""
    qcorpus = (
        codes.select(F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("qb"))
        if codes is not None
        else quantize_embeddings(corpus, vec_col).select(
            F.col(id_col).alias("neighbor_id"),
            F.col("qvec").alias("qb"),
        )
    )
    qqueries = quantize_embeddings(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qa")
    )
    # zero-norm vectors (all-zero codes) have no cosine direction: a 0/0
    # NaN would rank FIRST under Spark's desc ordering and be dropped or
    # kept depending on batch pruning — exclude them as queries AND as
    # neighbors on every path so results stay batch/partition-invariant
    resolved = scorer or DEFAULT_TOPK_SCORER
    if resolved not in ("numpy", "hof"):
        raise ValueError(f"scorer must be 'numpy' or 'hof', got {scorer!r}")
    qcorpus = qcorpus.where(F.exists("qb", lambda x: x != 0))
    qqueries = qqueries.where(F.exists("qa", lambda x: x != 0))
    if resolved == "numpy":
        import numpy as np  # noqa: PLC0415
        import pyarrow as pa  # noqa: PLC0415

        rows = qqueries.limit(MAX_CLOSURE_QUERIES + 1).collect()
        if len(rows) > MAX_CLOSURE_QUERIES:
            raise ValueError(
                f"scorer='numpy' collects the query side to the driver and "
                f"is capped at {MAX_CLOSURE_QUERIES} queries; partition the "
                "query set or use scorer='hof'"
            )
        ids = [r["query_id"] for r in rows]
        if not ids:  # every query was zero-norm: nothing to score
            return corpus.sparkSession.createDataFrame(
                [],
                f"query_id {dict(queries.dtypes)[id_col]}, "
                f"neighbor_id {dict(corpus.dtypes)[id_col]}, "
                "qcos double, rank int",
            )
        # float64 carries every int8 product/sum EXACTLY (|dot| <=
        # 127^2*dim << 2^53) and buys the BLAS dgemm an integer-dtype
        # matmul doesn't get in numpy (int64 @ int64 is a slow fallback
        # loop, measured >10x) — the arithmetic stays integer-exact
        qmat = np.asarray([r["qa"] for r in rows], dtype=np.float64)
        qn = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
        dim = qmat.shape[1]
        id_dtype = dict(corpus.dtypes)[id_col]

        def score_batches(batches):
            nq = len(ids)
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                nid = batch.column(0)
                cv = np.asarray(batch.column(1).flatten(), dtype=np.float64).reshape(
                    n, dim
                )
                num = cv @ qmat.T  # integer-exact in float64 (see qmat note)
                cn = np.sqrt(np.einsum("ij,ij->i", cv, cv))
                cos = num / (cn[:, None] * qn[None, :])
                if n > k + 1:
                    # guaranteed top-k superset per batch (same guard as
                    # _gemm_topk_scores: +1 covers the query's own row,
                    # 1e-6 covers 6-dp rounding ties at the cut)
                    kth = np.partition(cos, n - (k + 1), axis=0)[n - (k + 1)]
                    keep = cos >= (kth - 1e-6)[None, :]
                    rows_, cols_ = np.nonzero(keep)
                    yield pa.RecordBatch.from_arrays(
                        [
                            nid.take(pa.array(rows_)),
                            pa.array(cols_.astype(np.int32)),
                            pa.array(cos[rows_, cols_]),
                        ],
                        names=["neighbor_id", "q_idx", "qcos"],
                    )
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        nid.take(
                            pa.array(np.repeat(np.arange(n, dtype=np.int64), nq))
                        ),
                        pa.array(np.tile(np.arange(nq, dtype=np.int32), n)),
                        pa.array(cos.reshape(-1)),
                    ],
                    names=["neighbor_id", "q_idx", "qcos"],
                )

        from .sources import ensure_parallelism

        narrow = ensure_parallelism(qcorpus)
        scored = narrow.mapInArrow(
            score_batches, f"neighbor_id {id_dtype}, q_idx int, qcos double"
        )
        qid_arr = F.array(*[F.lit(i) for i in ids])
        scored = scored.select(
            F.element_at(qid_arr, F.col("q_idx") + 1).alias("query_id"),
            "neighbor_id",
            F.round(F.col("qcos"), 6).alias("qcos"),
        ).where(F.col("query_id") != F.col("neighbor_id"))
    else:
        na = _qdot(F.col("qa"), F.col("qa"))
        nb = _qdot(F.col("qb"), F.col("qb"))
        scored = qcorpus.join(
            F.broadcast(qqueries), F.col("query_id") != F.col("neighbor_id")
        ).select(
            "query_id",
            "neighbor_id",
            F.round(
                _qdot(F.col("qa"), F.col("qb")).cast("double")
                / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
                6,
            ).alias("qcos"),
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qcos", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — 8-byte codes for ANN at corpus scale
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    sample_cap: int = 65536,
    dim: int | None = None,
) -> "list[list[list[float]]]":
    """Train PQ codebooks: the vector space is split into ``m`` contiguous
    subspaces and each gets ``k`` centroids, so a vector encodes to m
    small codes — at m=8, k=16 that is 8 codes of 4 bits: the 32×
    compression step under int8's 4× (a float32×64 corpus at 10^12 docs
    is ~256 TB; PQ codes are 8 TB and fit a RAM tier no float layout
    can). Returns ``codebooks[m][j] = centroid j of subspace m`` as plain
    float lists.

    ``refine_iters=0`` (default) returns the SEED codebooks: subspace
    slices of the k lowest-id vectors — fully deterministic and
    replayable in SQL (the oracle strategy shared with `ivf_topk`'s seed
    centroids). ``refine_iters>0`` runs that many driver-side Lloyd
    rounds per subspace over a deterministic hash-sample of at most
    ``sample_cap`` vectors (the standard train-on-sample PQ recipe —
    faiss does the same): empty clusters keep their seed, ties go to the
    lowest centroid id, all arithmetic is float64, so refined codebooks
    are still bit-reproducible at any parallelism.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m={m}")
    sub = dim // m
    seeds = [
        [float(x) for x in r[vec_col]]
        for r in corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .collect()
    ]
    if len(seeds) < k:
        raise ValueError(f"pq_codebooks: need >= {k} vectors, got {len(seeds)}")
    books = [
        [seeds[j][mi * sub : (mi + 1) * sub] for j in range(k)] for mi in range(m)
    ]
    if refine_iters <= 0:
        return books
    import numpy as np  # noqa: PLC0415

    from .sampling import hash_fraction  # noqa: PLC0415

    n = corpus.count()
    frac = min(1.0, sample_cap / max(n, 1))
    samp = corpus.where(hash_fraction(id_col, "pqtrain") < frac)
    x = np.asarray(
        [r[vec_col] for r in samp.select(vec_col).collect()], dtype=np.float64
    )
    for mi in range(m):
        xs = x[:, mi * sub : (mi + 1) * sub]
        cb = np.asarray(books[mi], dtype=np.float64)
        for _ in range(refine_iters):
            # ||x-c||^2 expanded; ties -> lowest centroid id via argmin
            d = (
                np.einsum("ij,ij->i", xs, xs)[:, None]
                - 2.0 * xs @ cb.T
                + np.einsum("ij,ij->i", cb, cb)[None, :]
            )
            assign = np.argmin(d, axis=1)
            for j in range(k):
                mask = assign == j
                if mask.any():
                    cb[j] = xs[mask].mean(axis=0)
        books[mi] = [[float(v) for v in row] for row in cb]
    return books


def _pq_subspace_dists(xs, cb):
    """(n, k) squared distances of subvectors ``xs`` to codebook ``cb``,
    accumulated SEQUENTIALLY over dimensions — the same left-fold order
    as the SQL oracle's per-dimension fold, so every low bit matches and
    argmin ties resolve identically on both engines. Driver-side only;
    the executor closures carry their own nested copy (a module-global
    reference would make cloudpickle demand sparkcheck on every worker's
    import path — the closures must stay self-contained for
    spark-submit --py-files-free consumers)."""
    import numpy as np  # noqa: PLC0415

    n, sub = xs.shape
    kk = cb.shape[0]
    acc = np.zeros((n, kk), dtype=np.float64)
    for i in range(sub):
        diff = xs[:, i, None] - cb[None, :, i]
        acc += diff * diff
    return acc


def pq_encode(
    corpus: DataFrame,
    codebooks: "list[list[list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode every vector to its m-code PQ code (one nearest-centroid id
    per subspace, ties to the lowest id). Codes are ``array<tinyint>``
    when every codebook has ≤ 128 centroids, else ``array<smallint>``
    (k = 256, the standard 8-bit PQ, needs 0..255 which int8 cannot
    hold — a silent wraparound there would corrupt every distance); the
    element width is chosen from the codebooks so stored codes stay as
    small as the configuration allows. One mapInArrow pass: the float
    vector crosses Arrow once and leaves as m small ints; at Iceberg
    scale the codes column is written next to the vectors and every
    downstream ANN scan reads ~m bytes/row instead of 256 B/row."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    m = len(codebooks)
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub = cbs[0].shape[1]
    dim = m * sub
    kmax = max(cb.shape[0] for cb in cbs)
    if kmax > 32767:
        raise ValueError(f"pq_encode: {kmax} centroids per subspace > int16")
    np_dtype, pa_type, sql_type = (
        (np.int8, pa.int8(), "tinyint")
        if kmax <= 128
        else (np.int16, pa.int16(), "smallint")
    )
    id_dtype = dict(corpus.dtypes)[id_col]

    def encode_batches(batches):
        # nested twin of _pq_subspace_dists: sequential dim fold; kept
        # inside the closure so workers need no sparkcheck import
        def subspace_dists(xs, cb):
            acc = np.zeros((xs.shape[0], cb.shape[0]), dtype=np.float64)
            for i in range(xs.shape[1]):
                diff = xs[:, i, None] - cb[None, :, i]
                acc += diff * diff
            return acc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            xv = np.asarray(batch.column(1).flatten(), dtype=np.float64).reshape(
                n, dim
            )
            codes = np.empty((n, m), dtype=np_dtype)
            for mi in range(m):
                d = subspace_dists(xv[:, mi * sub : (mi + 1) * sub], cbs[mi])
                codes[:, mi] = np.argmin(d, axis=1)  # first (lowest) index wins
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(list(codes), type=pa.list_(pa_type))],
                names=[id_col, out_col],
            )

    narrow = corpus.select(id_col, vec_col)
    return narrow.mapInArrow(
        encode_batches, f"{id_col} {id_dtype}, {out_col} array<{sql_type}>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_k: int | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC) over PQ codes:
    (query_id, neighbor_id, adist, rank), ranked by ascending
    reconstruction distance adist = Σ_m ||q_m − C_m[code_m(x)]||²
    (neighbor-id tie-break). Each query precomputes an m×k lookup table
    of subspace distances (float64, driver-side closure); scoring a
    corpus vector is then m table gathers + (m−1) adds — no float vector
    is read at all once codes exist. The Arrow pass moves only the
    m-byte codes; LUT sums accumulate in subspace order, matching the
    SQL oracle's ordered list fold bit-for-bit.

    ``rerank_k`` turns on the standard two-stage recipe: ADC shortlists
    the best ``rerank_k`` candidates per query (codes only), then ONLY
    those nq × rerank_k rows join back to their float vectors for an
    exact sequential-fold L2 re-rank — output (query_id, neighbor_id,
    dist, rank) with exact distances, recall bounded only by whether the
    true top-k made the shortlist. At corpus scale this composes with
    `ivf_assign` exactly like a classic IVF-PQ index: route to probes,
    ADC-scan the probe partitions' code columns, re-rank the shortlist."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    m = len(codebooks)
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub = cbs[0].shape[1]
    rows = queries.select(id_col, vec_col).limit(MAX_CLOSURE_QUERIES + 1).collect()
    if len(rows) > MAX_CLOSURE_QUERIES:
        raise ValueError(
            f"pq_topk collects the query side to the driver and is capped "
            f"at {MAX_CLOSURE_QUERIES} queries; partition the query set"
        )
    ids = [r[id_col] for r in rows]
    qmat = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    nq = len(ids)
    # LUT[q, m, j] = ||q_m - C_m[j]||^2, sequential dim fold (see
    # _pq_subspace_dists) so it equals the oracle's per-dim fold exactly
    lut = np.stack(
        [
            _pq_subspace_dists(qmat[:, mi * sub : (mi + 1) * sub], cbs[mi])
            for mi in range(m)
        ],
        axis=1,
    )
    # at scale the codes are written ONCE (pq_encode at ingest) and every
    # query scans the stored 8-B/row column; pass them via ``codes``
    codes_df = (
        codes.select(id_col, "pq_code")
        if codes is not None
        else pq_encode(corpus, codebooks, id_col, vec_col)
    )
    id_dtype = dict(corpus.dtypes)[id_col]

    s_keep = rerank_k or k

    def adc_batches(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            nid = batch.column(0)
            codes = np.asarray(batch.column(1).flatten(), dtype=np.int64).reshape(
                n, m
            )
            # sequential adds in subspace order — same order as the
            # oracle's list(d ORDER BY m) left fold
            score = np.zeros((n, nq), dtype=np.float64)
            for mi in range(m):
                score += lut[:, mi, :][:, codes[:, mi]].T
            if n > s_keep + 1:
                kth = np.partition(score, s_keep, axis=0)[s_keep]
                keep = score <= (kth + 1e-6)[None, :]
                rows_, cols_ = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [
                        nid.take(pa.array(rows_)),
                        pa.array(cols_.astype(np.int32)),
                        pa.array(score[rows_, cols_]),
                    ],
                    names=["neighbor_id", "q_idx", "adist"],
                )
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    nid.take(pa.array(np.repeat(np.arange(n, dtype=np.int64), nq))),
                    pa.array(np.tile(np.arange(nq, dtype=np.int32), n)),
                    pa.array(score.reshape(-1)),
                ],
                names=["neighbor_id", "q_idx", "adist"],
            )

    from .sources import ensure_parallelism

    scored = ensure_parallelism(codes_df).mapInArrow(
        adc_batches, f"neighbor_id {id_dtype}, q_idx int, adist double"
    )
    qid_arr = F.array(*[F.lit(i) for i in ids])
    scored = scored.select(
        F.element_at(qid_arr, F.col("q_idx") + 1).alias("query_id"),
        "neighbor_id",
        F.round(F.col("adist"), 6).alias("adist"),
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank_k or k))
        .select("query_id", "neighbor_id", "adist", "rank")
    )
    if rerank_k is None:
        return shortlist
    return _exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)


def _exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact L2 re-rank of an ADC shortlist — the single shared
    implementation behind pq_topk(rerank_k=...) and ivfpq_topk: only the
    shortlist (nq × rerank_k rows) reads float vectors again, via an
    id-keyed join against the corpus, then a sequential-fold exact L2
    (dim order — the order _pq_oracle's replay folds in; ONE copy of
    this expression exists precisely so Spark and the oracle can never
    drift apart) and a final candidate-sized (dist ASC, neighbor_id)
    window."""
    cand = shortlist.select("query_id", "neighbor_id")
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("__qv"),
            F.col("__nv"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        cand.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", F.round(dist, 6).alias("dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


# ---------------------------------------------------------------------------
# Sign-LSH (random hyperplanes)
# ---------------------------------------------------------------------------


DEFAULT_EMBEDDING_DIM = 64


def plane_coeffs(n_planes: int, dim: int = DEFAULT_EMBEDDING_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane coefficients in [-0.5, 0.5):
    coeff[p][d] = int(md5(f"{p}|{d}")[:4 hex], 16) / 65536 - 0.5.

    Computed once at plan-build time and shipped as literal arrays (a few
    hundred doubles — negligible plan size), so (a) every executor sees
    identical planes with no RNG state, (b) the hot loop does ZERO hashing
    per row, and (c) any engine (the DuckDB oracle included) reproduces the
    exact floats by embedding the same literals."""
    import hashlib  # noqa: PLC0415

    return [
        [
            int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:4], 16) / 65536.0 - 0.5
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def sign_lsh_signature(
    vec_col: Column, n_planes: int = 16, dim: int = DEFAULT_EMBEDDING_DIM
) -> Column:
    """n_planes-bit signature as an int Column; bit p = sign of the
    projection of the vector on pseudo-random plane p. Pure higher-order
    functions over literal coefficient arrays — one pass over the array per
    plane, no explode, no shuffle, no per-row hashing."""
    coeffs = plane_coeffs(n_planes, dim)
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        carr = F.array(*[F.lit(c) for c in coeffs[p]])
        # coalesce: vectors shorter than dim zip against nulls — treat the
        # missing dimensions as zeros instead of null-poisoning the fold
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                carr,
                lambda x, y: F.coalesce(x.cast("double") * y, F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def with_probe_signatures(
    df: DataFrame,
    vec_col: str,
    n_planes: int,
    n_probe: int,
    dim: int = DEFAULT_EMBEDDING_DIM,
    sig_name: str = "sig",
    probes_name: str = "probes",
) -> DataFrame:
    """``df`` + signature column + ``probes`` array<long> of n_probe bucket
    signatures computed EXECUTOR-side: the base signature plus flips of the
    (n_probe-1) lowest-|projection| planes — the same multi-probe rule as
    ``lsh_probe_signatures`` but as plan columns, for the symmetric
    pair-discovery case where "queries" are the whole corpus and a
    driver-side probe map would mean collecting it.

    The projections are materialized once in an inner select (Catalyst's
    CollapseProject cost check keeps multiply-referenced non-cheap aliases
    in their own projection), so the per-plane fold runs once per row even
    though sig, ranking, and flips all read it."""
    coeffs = plane_coeffs(n_planes, dim)

    def _proj(p: int) -> Column:
        carr = F.array(*[F.lit(c) for c in coeffs[p]])
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                carr,
                lambda x, y: F.coalesce(x.cast("double") * y, F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    inner = df.select(
        "*", *[_proj(p).alias(f"__pr_{p}") for p in range(n_planes)]
    )
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"__pr_{p}") > 0,
                F.shiftleft(F.lit(1).cast("long"), p),
            ).otherwise(F.lit(0).cast("long"))
        )
    with_sig = inner.select("*", sig.alias(sig_name))
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(F.col(f"__pr_{p}")).alias("m"),
                    F.lit(1 << p).cast("long").alias("mask"),
                )
                for p in range(n_planes)
            ]
        )
    )
    flips = F.slice(ranked, 1, max(0, n_probe - 1))
    probes = F.concat(
        F.array(F.col(sig_name)),
        F.transform(
            flips,
            lambda x: F.col(sig_name).cast("long").bitwiseXOR(x["mask"]),
        ),
    )
    return with_sig.select(
        *df.columns, sig_name, probes.alias(probes_name)
    )


def lsh_probe_signatures(
    qmap: dict,
    n_planes: int,
    n_probe: int = 1,
    dim: int = DEFAULT_EMBEDDING_DIM,
) -> dict:
    """qid -> [signature, neighbor signatures...] (n_probe total) for
    multi-probe LSH. The extra probes flip the signature bits whose
    projections have the SMALLEST magnitude — the planes the query sits
    closest to, i.e. the buckets its near neighbors most likely fell into
    (classic multi-probe LSH). Projections use the same sequential float64
    fold as sign_lsh_signature, so driver- and executor-computed signatures
    agree bit-for-bit."""
    coeffs = plane_coeffs(n_planes, dim)
    out = {}
    for qid, vec in qmap.items():
        projs = []
        for p in range(n_planes):
            acc = 0.0
            cp = coeffs[p]
            for d in range(min(len(vec), dim)):
                acc += float(vec[d]) * cp[d]
            projs.append(acc)
        sig = 0
        for p, pr in enumerate(projs):
            if pr > 0:
                sig |= 1 << p
        flip_order = sorted(range(n_planes), key=lambda p: abs(projs[p]))
        sigs = [sig] + [sig ^ (1 << p) for p in flip_order[: max(0, n_probe - 1)]]
        out[qid] = sigs
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose LSH signature
    matches one of the query's n_probe bucket signatures. Single-probe is
    one bucket-hash join; multi-probe multiplies recall by also probing the
    buckets across the query's lowest-margin hyperplanes (the probe list is
    computed driver-side per query and broadcast — still ONE join, the
    corpus is never re-signed or rescanned).

    Scoring default is the JVM fold, NOT the Arrow path: bucketing exists
    precisely to make the scored-candidate set small (|corpus| x nq /
    2^n_planes), and at that volume a pandas-UDF stage pays more in Python
    worker startup than the fold costs in compute (measured: a 32-task
    warm pandas-UDF stage ~5s vs ~1.3s all-JVM on this box). Pass
    scorer="numpy" when probing wide (few planes, many probes) where the
    candidate volume approaches a brute-force scan."""
    from .sources import ensure_parallelism

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        sign_lsh_signature(F.col(vec_col), n_planes).alias("sig"),
    )
    use_numpy = scorer == "numpy"
    qmap = None
    if use_numpy or n_probe > 1:
        causes = ["scorer='numpy'"] * use_numpy + [f"n_probe={n_probe}"] * (n_probe > 1)
        fixes = ["use the default scorer"] * use_numpy + ["lower n_probe to 1"] * (n_probe > 1)
        qmap = _collect_query_map(
            queries, id_col, vec_col, " with ".join(causes),
            "partition the query set or " + " and ".join(fixes),
        )
    if n_probe > 1:
        id_dtype = dict(corpus.dtypes)[id_col]
        pairs = [
            (qid, int(s))
            for qid, sigs in lsh_probe_signatures(qmap, n_planes, n_probe).items()
            for s in sigs
        ]
        q_sig = corpus.sparkSession.createDataFrame(
            pairs, f"query_id {id_dtype}, sig long"
        )
    else:
        q_sig = queries.select(
            F.col(id_col).alias("query_id"),
            sign_lsh_signature(F.col(vec_col), n_planes).alias("sig"),
        )
    if use_numpy:
        score_udf = _query_matrix_udf(qmap)
        scored = c.join(F.broadcast(q_sig), on="sig").where(
            F.col("query_id") != F.col("neighbor_id")
        ).select(
            "query_id",
            "neighbor_id",
            F.round(score_udf(F.col("c_vec"), F.col("query_id")), 6).alias("cos"),
        )
    else:
        q_full = q_sig.join(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
            ),
            on="query_id",
        )
        scored = c.join(F.broadcast(q_full), on="sig").where(
            F.col("query_id") != F.col("neighbor_id")
        ).select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec"), "hof"), 6).alias("cos"),
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def lsh_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 10_000,
    scorer: str | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Embedding near-dup pair DISCOVERY at scale: sign-LSH bucket the
    corpus (one narrow signature pass), self-join within buckets only, then
    filter by exact cosine — the bucketed analog of
    ``cosine_near_duplicates`` (which stays the O(n^2) oracle stage).

    Recall: two vectors with cosine c collide on all n_planes bits with
    probability (1 - acos(c)/pi)^n_planes — at c=0.9 and 12 planes ~0.66
    single-probe. ``n_probe > 1`` lifts recall by ALSO hashing every vector
    into the buckets across its (n_probe-1) lowest-margin hyperplanes
    (executor-side multi-probe, ``with_probe_signatures``): a pair is
    scored when either side's probe list hits the other's base bucket, so
    a single flipped bit between two near-dups no longer hides the pair.
    Cost: the probe side of the join grows n_probe-fold (the base side and
    the signature pass don't), plus one distinct over the narrow candidate
    id-pair frame; measured pair recall@c=0.9 on a seeded perturbed-copy
    corpus (150 pairs, 12 planes) rises 0.687 -> 0.947 at n_probe=2
    (test_lsh_neardup_multiprobe_recall).

    ``max_bucket`` drops degenerate buckets (e.g. all-zero vectors) before
    the self-join — the quadratic-hot-key guard, same as dedup's max_df."""
    from .sources import ensure_parallelism

    corpus = ensure_parallelism(corpus)  # signature folds are map work
    if n_probe <= 1:
        sig = corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            sign_lsh_signature(F.col(vec_col), n_planes).alias("sig"),
        )
        if max_bucket is not None:
            keep = (
                sig.groupBy("sig")
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") <= max_bucket)
                .select("sig")
            )
            sig = sig.join(keep, on="sig", how="inner")
        a, b = sig.alias("a"), sig.alias("b")
        return (
            a.join(b, on="sig")
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.round(cosine(F.col("a.v"), F.col("b.v"), scorer), 6).alias("cos"),
            )
            .where(F.col("cos") >= threshold)
        )

    # multi-probe: signature + probe list in ONE pass over the vectors
    sigp = with_probe_signatures(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        "v", n_planes, n_probe,
    )
    if max_bucket is not None:
        keep = (
            sigp.groupBy("sig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket)
            .select("sig")
        )
        sigp = sigp.join(keep, on="sig", how="inner")
    sigp = sigp.localCheckpoint(eager=True)  # signatures computed once
    probe = sigp.select(
        F.col("id").alias("pid"), F.explode("probes").alias("psig")
    )
    base = sigp.select(F.col("id").alias("bid"), "sig")
    # narrow candidate id pairs; distinct collapses the (a hits b, b hits a)
    # symmetry and repeated probe hits before any vector is touched again
    cand = (
        probe.join(base, probe["psig"] == base["sig"])
        .where(F.col("pid") != F.col("bid"))
        .select(
            F.least("pid", "bid").alias("id_a"),
            F.greatest("pid", "bid").alias("id_b"),
        )
        .distinct()
    )
    va = sigp.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = sigp.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb"), scorer), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF-flat
# ---------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic seed centroids: the n_centroids lowest-id vectors,
    collected to the driver (tiny — n_centroids rows) and re-shipped as
    plan literals. A k-means refinement would iterate this list; the seed
    pick keeps the assignment reproducible for the oracle."""
    rows = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    for r in rows:
        if r["v"] is None or any(x is None for x in r["v"]):
            raise ValueError(
                f"seed vector has null elements or vectors shorter than "
                f"the embedding dimension — {vec_col!r} must be "
                f"fixed-width and null-free (clean the column before "
                f"clustering)"
            )
    return [(cid, [float(x) for x in r["v"]]) for cid, r in enumerate(rows)]


def _nearest_centroid(vec_col: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """centroid_id of the nearest centroid by cosine — a pure per-row argmax
    over literal centroid arrays: array_max of (cos, -centroid_id) structs,
    ties to the lowest id. ZERO shuffle and zero corpus replication — the
    previous formulation cross-joined the corpus with the centroid table and
    ran a row_number window partitioned by vec_id, i.e. shuffled a
    n_centroids-times-replicated corpus; this one is a narrow map."""
    return (-_nearest_centroid_scored(vec_col, centroids)["neg_cid"]).cast(
        "int"
    )


def _arrow_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    with_cos: bool = False,
) -> DataFrame:
    """Centroid assignment as one mapInPandas gemm pass: each Arrow batch
    computes sims = V @ C.T / (|V| |C|) in float64 and takes the row
    argmax (np.argmax returns the FIRST maximal index — the same
    lowest-id tie-break as the fold argmax on exact ties, e.g. duplicate
    centroids). The production-scale alternative to the literal-fold
    argmax: the fold is bit-replayable by a SQL oracle but interpreted
    and allocation-bound (thread-scales poorly — BENCH/BASELINE.md HOF
    findings), and its flat-codegen rewrite explodes Catalyst's tree at
    k*dim ("Code grows beyond 64 KB" + minutes of optimizer time,
    measured). The gemm differs from the fold only in summation order
    (last-ulp); a near-tie closer than ~1e-15 cosine could flip — use
    the default fold path when exact cross-engine replay of the
    assignment is required (the oracle gate does)."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql.types import (  # noqa: PLC0415
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cmat = np.array([cvec for _, cvec in centroids], dtype=np.float64)
    cids = np.array([cid for cid, _ in centroids], dtype=np.int32)
    cnorm = np.sqrt(np.einsum("ij,ij->i", cmat, cmat))
    # fresh StructType — StructType.add mutates, and df.schema is the
    # DataFrame's cached object
    fields = list(df.schema.fields) + [
        StructField("centroid_id", IntegerType())
    ]
    if with_cos:
        fields.append(StructField("c_cos", DoubleType()))
    schema = StructType(fields)

    def assign(batches):
        for pdf in batches:
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            sims = v @ cmat.T
            sims /= np.outer(np.sqrt(np.einsum("ij,ij->i", v, v)), cnorm)
            best = np.argmax(sims, axis=1)
            out = pdf.assign(centroid_id=cids[best])
            if with_cos:
                out = out.assign(c_cos=sims[np.arange(len(best)), best])
            yield out

    return df.mapInPandas(assign, schema)


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str | None = None,
    assign_impl: str = "arrow",
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Assign every vector to its nearest centroid. Returns
    (centroids list, assigned DataFrame(corpus + centroid_id)). One narrow
    scan; at Iceberg scale the assignment would be written once and the
    table re-clustered by centroid_id (the IVF index build).

    ``scorer`` is accepted for signature symmetry. ``assign_impl``
    picks the argmax implementation: "arrow" (default) is the
    mapInPandas gemm (_arrow_assign) — the scale path, measured 2.2-3x
    faster per core than the fold and better thread-scaling on the
    200k-vector scaling leg; "fold" is the literal-fold Column form —
    interpreted per row × k centroids, but bit-identical to the SQL
    oracle's replay, the right choice wherever cross-engine
    reproducibility of the assignment is part of the contract (the
    __spark_entry__ gate queries pass it explicitly). A differential
    test asserts the two agree on every assignment."""
    centroids = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    narrow = corpus.select(F.col(id_col), F.col(vec_col))
    if assign_impl == "arrow":
        assigned = _arrow_assign(narrow, centroids, vec_col)
    elif assign_impl == "fold":
        assigned = narrow.select(
            F.col(id_col),
            F.col(vec_col),
            _nearest_centroid(F.col(vec_col), centroids).alias("centroid_id"),
        )
    else:
        raise ValueError(
            f"assign_impl must be 'fold' or 'arrow', got {assign_impl!r}"
        )
    return centroids, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str | None = None,
    assign_impl: str = "arrow",
) -> DataFrame:
    """IVF-flat ANN: per query, score only vectors assigned to the n_probe
    nearest centroids — scans ~n_probe/n_centroids of the corpus. The probe
    list is a per-row top-n over the literal centroid array (sort_array +
    slice — no join, no shuffle); the only join is corpus-side
    assigned ⋈ broadcast(probes). ``assign_impl`` picks the corpus
    assignment path (see ivf_assign; "fold" for oracle bit-replay)."""
    centroids, assigned = ivf_assign(
        corpus, n_centroids, id_col, vec_col, scorer=scorer,
        assign_impl=assign_impl,
    )
    scored_structs = [
        F.struct(
            cosine(F.col("q_vec"), F.array(*[F.lit(x) for x in cvec]), "hof").alias("c_cos"),
            F.lit(-cid).alias("neg_cid"),
        )
        for cid, cvec in centroids
    ]
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .select(
            "query_id",
            "q_vec",
            F.explode(
                F.slice(
                    F.sort_array(F.array(*scored_structs), asc=False),
                    1,
                    n_probe,
                )
            ).alias("probe"),
        )
        .select("query_id", "q_vec", (-F.col("probe.neg_cid")).cast("int").alias("centroid_id"))
    )
    if (scorer or DEFAULT_TOPK_SCORER) == "numpy":
        score_udf = _query_matrix_udf(_collect_query_map(queries, id_col, vec_col))
        scored = assigned.join(
            F.broadcast(probes.drop("q_vec")), on="centroid_id"
        ).where(F.col("query_id") != F.col(id_col)).select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(score_udf(F.col(vec_col), F.col("query_id")), 6).alias("cos"),
        )
    else:
        scored = assigned.join(F.broadcast(probes), on="centroid_id").where(
            F.col("query_id") != F.col(id_col)
        ).select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("q_vec"), F.col(vec_col), "hof"), 6).alias("cos"),
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: "list[list[list[float]]]",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    rerank_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "arrow",
    index: DataFrame | None = None,
) -> DataFrame:
    """The classic IVF-PQ stack as one operator: coarse-route each query
    to its ``n_probe`` nearest centroids (`ivf_assign` partitions the
    corpus once — at Iceberg scale the codes table is written clustered
    by centroid_id), ADC-score ONLY the probe partitions' PQ codes, and
    optionally exact-re-rank the shortlist (``rerank_k``, as in
    `pq_topk`). The scan is ~n_probe/n_centroids of a codes column that
    is already 32× smaller than the floats — the combination that makes
    10^12-vector ANN tractable: 8 TB of codes, 1/4 probed, floats only
    touched for nq × rerank_k rows.

    ``index`` skips the per-call assignment + encode entirely: pass the
    stored (id_col, centroid_id, pq_code) frame built ONCE by
    :func:`ivfpq_index` at ingest, and only the probe-partition codes
    are ever read — without it every call re-scans the full float corpus
    twice before the probe filter discards most of the work.

    Per-pair scoring moves only the m-byte code + the query id through
    Arrow (a pandas UDF gathering from the per-query LUT closure), with
    the same sequential subspace-order adds as `pq_topk`, so with
    ``n_probe == n_centroids`` the output EQUALS `pq_topk` row-for-row
    (the differential test). Output columns match `pq_topk`:
    (query_id, neighbor_id, adist, rank), or ``dist`` when re-ranked."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    m = len(codebooks)
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub = cbs[0].shape[1]
    rows = queries.select(id_col, vec_col).limit(MAX_CLOSURE_QUERIES + 1).collect()
    if len(rows) > MAX_CLOSURE_QUERIES:
        raise ValueError(
            f"ivfpq_topk collects the query side to the driver and is "
            f"capped at {MAX_CLOSURE_QUERIES} queries; partition the query set"
        )
    ids = [r[id_col] for r in rows]
    qmat = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    lut = np.stack(
        [
            _pq_subspace_dists(qmat[:, mi * sub : (mi + 1) * sub], cbs[mi])
            for mi in range(m)
        ],
        axis=1,
    )
    qid_index = {i: j for j, i in enumerate(ids)}

    @pandas_udf("double")
    def adc_score(codes: "pd.Series", q_id: "pd.Series") -> "pd.Series":
        c = np.stack(codes.to_numpy()).astype(np.int64)
        r = q_id.map(qid_index).to_numpy()
        acc = np.zeros(len(r), dtype=np.float64)
        for mi in range(m):  # sequential subspace-order adds (see pq_topk)
            acc += lut[r, mi, c[:, mi]]
        return pd.Series(acc)

    if index is not None:
        centroids = ivf_centroids(corpus, n_centroids, id_col, vec_col)
        coded = index.select(
            F.col(id_col).alias("neighbor_id"), "centroid_id", "pq_code"
        )
    else:
        centroids, assigned = ivf_assign(
            corpus, n_centroids, id_col, vec_col, assign_impl=assign_impl
        )
        codes_df = pq_encode(
            assigned.select(id_col, vec_col), codebooks, id_col, vec_col
        )
        coded = assigned.select(
            F.col(id_col).alias("neighbor_id"), "centroid_id"
        ).join(
            codes_df.select(F.col(id_col).alias("neighbor_id"), "pq_code"),
            "neighbor_id",
        )
    # probe list per query: per-row top-n over the literal centroid array
    # (sort_array + slice — no join, no shuffle), exactly like ivf_topk
    scored_structs = [
        F.struct(
            cosine(F.col("q_vec"), F.array(*[F.lit(x) for x in cvec]), "hof").alias(
                "c_cos"
            ),
            F.lit(-cid).alias("neg_cid"),
        )
        for cid, cvec in centroids
    ]
    probes = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .select(
            "query_id",
            F.explode(
                F.slice(F.sort_array(F.array(*scored_structs), asc=False), 1, n_probe)
            ).alias("probe"),
        )
        .select("query_id", (-F.col("probe.neg_cid")).cast("int").alias("centroid_id"))
    )
    scored = (
        coded.join(F.broadcast(probes), "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(adc_score(F.col("pq_code"), F.col("query_id")), 6).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank_k or k))
        .select("query_id", "neighbor_id", "adist", "rank")
    )
    if rerank_k is None:
        return shortlist
    return _exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)


def ivfpq_index(
    corpus: DataFrame,
    codebooks: "list[list[list[float]]]",
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "arrow",
) -> DataFrame:
    """Build the stored IVF-PQ index frame (id, centroid_id, pq_code) in
    one pass over the float corpus — write it partitioned/clustered by
    ``centroid_id`` at ingest, then every `ivfpq_topk(index=...)` call
    reads only the probe partitions' ~m-byte codes and never touches
    the float vectors (except the optional re-rank join). Deterministic
    for a fixed corpus + codebooks, so the index is reproducible at any
    parallelism."""
    _, assigned = ivf_assign(
        corpus, n_centroids, id_col, vec_col, assign_impl=assign_impl
    )
    codes_df = pq_encode(
        assigned.select(id_col, vec_col), codebooks, id_col, vec_col
    )
    return assigned.select(id_col, "centroid_id").join(codes_df, id_col)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster, then near-dup within clusters)
# ---------------------------------------------------------------------------


def _cluster_pair_drops(
    comparable: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    group_col: str = "centroid_id",
) -> DataFrame:
    """Within-cluster near-duplicate ids via a per-cluster BLOCKED numpy
    gemm (applyInPandas): each cluster's vectors cross the Arrow boundary
    ONCE, rows compare against all lower-id rows in 512-row blocks
    (peak block memory 512 * |cluster| doubles — ~400 MB at the 100k
    max_cluster cap), cosines round to 6dp before the threshold so the
    verdict matches the fold-arithmetic oracle (same round-absorbs-ulp
    contract as the mapInArrow ANN scorer). Replaces the fold-cosine
    self-join pair stage, which materialized sum(|cluster|^2) vector
    pairs through interpreted HOFs — measured 19 s vs ~1 s at sf0.1."""
    import numpy as np  # noqa: PLC0415

    def drops(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({id_col: ids[:0]})
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
        norms = np.sqrt(np.einsum("ij,ij->i", v, v))
        dropped = np.zeros(m, dtype=bool)
        block = 512
        for s in range(1, m, block):
            e = min(s + block, m)
            # rows s..e-1 against ALL columns 0..e-2, masked to j < i
            sims = v[s:e] @ v[: e - 1].T
            sims /= np.outer(norms[s:e], norms[: e - 1])
            sims = np.round(sims, 6)
            hit = sims >= threshold
            col_idx = np.arange(e - 1)
            for r in range(e - s):
                i = s + r
                if hit[r, col_idx < i].any():
                    dropped[i] = True
        return pd.DataFrame({id_col: ids[dropped]})

    out_schema = f"{id_col} long"
    return comparable.groupBy(group_col).applyInPandas(drops, out_schema)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = 100_000,
    scorer: str | None = None,
    pair_impl: str = "arrow",
    assign_impl: str = "arrow",
    max_split_depth: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (cf. Abbas et al. 2023): cluster the corpus (IVF assignment against
    deterministic seed centroids — ``ivf_centroids``), compare pairs only
    WITHIN a cluster, and drop every vector that has a lower-id
    near-duplicate (cosine >= threshold) in its cluster. Lowest id is the
    canonical keeper — the same deterministic argmin rule as
    ``drop_duplicate_passages``, so the result is reproducible across
    runs, engines, and cluster sizes. Returns
    (id, centroid_id, kept boolean) over the full corpus; filter on kept
    for the surviving set, or anti-filter for the removal audit.

    Scale shape: the all-pairs comparison SemDeDup's semantics demand is
    confined to clusters — candidate volume is sum(|cluster|^2), not
    n^2. The default ``pair_impl="arrow"`` scores each cluster with one
    blocked numpy gemm (vectors cross the Arrow boundary once, shuffled
    on centroid_id only); ``pair_impl="join"`` keeps the pure-DataFrame
    fold-cosine self-join for differential testing — identical verdicts
    (both round to 6dp before the threshold), ~20x slower at sf0.1.
    ``max_cluster`` is the quadratic-hot-key guard (same role as
    lsh_near_duplicates' max_bucket): a cluster exceeding it is
    RE-CLUSTERED in place — ivf_assign re-runs within the oversize
    cluster at higher k (2·⌈n/max_cluster⌉ sub-centroids, recursing up
    to ``max_split_depth`` levels) so its dense region still gets
    deduplicated instead of being silently kept whole. A group that a
    split cannot break (e.g. >max_cluster bit-identical vectors, where
    every seed ties) is kept whole after the depth cap and reported via
    a warning — the honest residue of the quadratic guard. Sub-cluster
    membership only ever *narrows* comparison scope (SemDeDup's
    cluster-approximation hierarchy), it never invents false drops.
    The kept flag falls out of one left-anti join on the dropped-id
    frame; the vector payload crosses one exchange per split level
    (the cluster-key group shuffle), never an all-pairs join."""
    _, assigned = ivf_assign(
        corpus, n_centroids, id_col, vec_col, scorer=scorer,
        assign_impl=assign_impl,
    )
    # the assignment feeds three consumers (the cap count, the pair
    # stage, the final kept join); localCheckpoint pins one materialized
    # copy so the argmax (gemm or 16-fold) runs ONCE (same pattern as
    # lsh_near_duplicates' signature frame). The production analog is
    # ivf_assign's documented write-once/re-cluster step.
    assigned = assigned.localCheckpoint(eager=False)
    # comparison groups start as the top-level clusters; oversize groups
    # are recursively re-clustered (never silently kept whole)
    work = assigned.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id").cast("string").alias("__ckey"),
    )
    if max_cluster is not None:
        import math as _math
        import warnings as _warnings

        oversize: list | None = None  # None = never checked (depth 0)
        for _depth in range(max_split_depth):
            sizes = work.groupBy("__ckey").agg(F.count(F.lit(1)).alias("__n"))
            oversize = [
                (r["__ckey"], int(r["__n"]))
                for r in sizes.where(F.col("__n") > max_cluster).collect()
            ]
            if not oversize:
                break
            pieces = [
                work.join(
                    sizes.where(F.col("__n") <= max_cluster).select("__ckey"),
                    "__ckey",
                    "left_semi",
                )
            ]
            for ckey, n in oversize:
                sub = work.where(F.col("__ckey") == ckey).select(
                    F.col(id_col), F.col(vec_col)
                )
                k2 = max(2, min(64, 2 * _math.ceil(n / max_cluster)))
                cents = ivf_centroids(sub, k2, id_col, vec_col)
                if assign_impl == "arrow":
                    subas = _arrow_assign(sub, cents, vec_col).withColumnRenamed(
                        "centroid_id", "__sub"
                    )
                else:
                    subas = sub.select(
                        F.col(id_col),
                        F.col(vec_col),
                        _nearest_centroid(F.col(vec_col), cents).alias("__sub"),
                    )
                pieces.append(
                    subas.select(
                        F.col(id_col),
                        F.col(vec_col),
                        F.concat(
                            F.lit(f"{ckey}/"), F.col("__sub").cast("string")
                        ).alias("__ckey"),
                    )
                )
            work = pieces[0]
            for p in pieces[1:]:
                work = work.unionByName(p)
            work = work.localCheckpoint(eager=False)
        if oversize == []:
            # the loop's last size check already proved every cluster
            # fits — no extra jobs in the common path
            comparable = work
        else:
            # oversize is None (depth 0: never checked) or non-empty
            # the depth cap ended the loop right after a split: one fresh
            # size check decides whether that split worked. Anything
            # STILL oversize cannot be split (bit-identical vectors tie
            # every seed): keep whole, but say so.
            sizes = work.groupBy("__ckey").agg(
                F.count(F.lit(1)).alias("__n")
            )
            stuck = sizes.where(F.col("__n") > max_cluster)
            if stuck.limit(1).count():
                _warnings.warn(
                    "semantic_dedup: some clusters exceed max_cluster="
                    f"{max_cluster} even after {max_split_depth} "
                    "re-cluster levels (unsplittable — likely "
                    "bit-identical vectors); their members are kept "
                    "whole. Consider exact dedup (dedup.exact) upstream.",
                    stacklevel=2,
                )
            comparable = work.join(
                sizes.where(F.col("__n") <= max_cluster).select("__ckey"),
                "__ckey",
                "left_semi",
            )
    else:
        comparable = work
    if pair_impl == "arrow":
        dropped = _cluster_pair_drops(
            comparable, threshold, id_col, vec_col, group_col="__ckey"
        )
    elif pair_impl == "join":
        a = comparable.select(
            "__ckey",
            F.col(id_col).alias("__ida"),
            F.col(vec_col).alias("__va"),
        )
        b = comparable.select(
            "__ckey",
            F.col(id_col).alias("__idb"),
            F.col(vec_col).alias("__vb"),
        )
        dropped = (
            a.join(b, "__ckey")
            .where(F.col("__idb") < F.col("__ida"))
            .select(
                "__ida",
                F.round(
                    cosine(F.col("__va"), F.col("__vb"), scorer), 6
                ).alias("__cos"),
            )
            .where(F.col("__cos") >= threshold)
            .select(F.col("__ida").alias(id_col))
            .distinct()
        )
    else:
        raise ValueError(
            f"pair_impl must be 'arrow' or 'join', got {pair_impl!r}"
        )
    return (
        assigned.join(
            dropped.withColumn("__dropped", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "centroid_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding drift between corpus snapshots
# ---------------------------------------------------------------------------


def embedding_centroids(
    df: DataFrame,
    label_col: str | None = None,
    vec_col: str = "embedding",
    dim: int = DEFAULT_EMBEDDING_DIM,
) -> DataFrame:
    """Per-label centroid of an embedding column: (label, n, centroid)
    where centroid[i] = avg(vec[i]). ALL dims aggregate in ONE groupBy
    pass (dim avg-aggregates, map-side partial sums), so a 10^12-vector
    snapshot costs one narrow shuffle of (label, dim) partial sums — the
    per-label result frame is dimension-sized."""
    key = F.col(label_col) if label_col else F.lit("__all__")
    v = F.col(vec_col)
    return (
        df.groupBy(key.alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.avg(v[i].cast("double")).alias(f"__c{i}")
                for i in range(dim)
            ],
        )
        .select(
            "label",
            "n",
            F.array(*[F.col(f"__c{i}") for i in range(dim)]).alias("centroid"),
        )
    )


def embedding_drift(
    old: DataFrame,
    new: DataFrame,
    label_col: str | None = None,
    vec_col: str = "embedding",
    dim: int = DEFAULT_EMBEDDING_DIM,
) -> DataFrame:
    """Representation drift between two embedding snapshots: per label,
    the cosine between the old and new centroids plus the centroid-norm
    ratio and count shift — the cheap early-warning that an embedding
    model, preprocessing step, or upstream filter changed what a label's
    region of space looks like. (Per-pair distance distributions are the
    expensive follow-up; centroid drift is the one-pass triage.)

    Two fused centroid aggregates (one per snapshot), a label-keyed join
    of two dimension-sized frames, and pure Column fold arithmetic for
    the cosine — nothing wide ever joins. Labels present in only one
    snapshot surface with NULL drift fields (full outer join): a
    vanished or new label IS drift."""
    co = embedding_centroids(old, label_col, vec_col, dim).select(
        "label", F.col("n").alias("n_old"), F.col("centroid").alias("c_old")
    )
    cn = embedding_centroids(new, label_col, vec_col, dim).select(
        "label", F.col("n").alias("n_new"), F.col("centroid").alias("c_new")
    )
    j = co.join(cn, "label", "full_outer")
    d = dot(F.col("c_old"), F.col("c_new"))
    return j.select(
        "label",
        "n_old",
        "n_new",
        F.round(d / (norm(F.col("c_old")) * norm(F.col("c_new"))), 4).alias(
            "centroid_cos"
        ),
        F.round(norm(F.col("c_new")) / norm(F.col("c_old")), 4).alias(
            "norm_ratio"
        ),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd refinement of the IVF seeds)
# ---------------------------------------------------------------------------


def _nearest_centroid_scored(
    vec_col: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """struct(c_cos, neg_cid) of the best centroid — same literal-fold
    argmax as _nearest_centroid but keeping the winning cosine, for
    callers that report assignment quality."""
    scored = [
        F.struct(
            cosine(vec_col, F.array(*[F.lit(x) for x in cvec]), "hof").alias(
                "c_cos"
            ),
            F.lit(-cid).alias("neg_cid"),
        )
        for cid, cvec in centroids
    ]
    return F.array_max(F.array(*scored))


def kmeans(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    assign_impl: str = "arrow",
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Lloyd k-means over an embedding column, refining the deterministic
    ``ivf_centroids`` seeds for ``iters`` rounds. Returns
    (final centroids, assignment DataFrame(id, centroid_id, c_cos)).

    Shape per round: ONE narrow corpus scan for assignment (cosine
    argmax — zero shuffle, zero corpus replication) and one
    groupBy(centroid_id) with dim fused avg-aggregates (map-side combined;
    k*dim doubles cross to the driver, nothing else). The corpus is never
    collected, cached, or re-keyed; at 10^12 rows each round is exactly
    one scan + one k-row shuffle. An empty cluster keeps its previous
    centroid (no re-seeding — keeps the trajectory deterministic).

    Updated centroids are rounded to ``round_dp`` decimals before being
    re-embedded as plan literals: the mean of a partitioned sum is only
    reproducible to the last ulp, and rounding makes every subsequent
    assignment bit-identical across engines and cluster sizes (the same
    determinism contract as hash_fraction sampling). Cluster quality
    metrics (per-cluster counts / mean cosine) fall out of one extra
    groupBy over the returned assignment. ``assign_impl="arrow"``
    (default) assigns with the mapInPandas gemm (_arrow_assign) — the
    scale path; pass "fold" when the assignment must replay
    bit-identically in another engine (the gate queries do)."""
    if assign_impl not in ("fold", "arrow"):
        raise ValueError(
            f"assign_impl must be 'fold' or 'arrow', got {assign_impl!r}"
        )
    cents = ivf_centroids(corpus, k, id_col, vec_col)
    dim = len(cents[0][1]) if cents else 0
    for _ in range(iters):
        if assign_impl == "arrow":
            assigned = _arrow_assign(corpus.select(F.col(vec_col)), cents, vec_col)
        else:
            assigned = corpus.select(
                F.col(vec_col),
                _nearest_centroid(F.col(vec_col), cents).alias("centroid_id"),
            )
        aggs = [
            F.round(F.avg(F.col(vec_col)[i]), round_dp).alias(f"d{i}")
            for i in range(dim)
        ]
        rows = assigned.groupBy("centroid_id").agg(*aggs).collect()
        for r in rows:
            bad = [i for i in range(dim) if r[f"d{i}"] is None]
            if bad:
                raise ValueError(
                    f"kmeans: cluster {r['centroid_id']} averaged NULL at "
                    f"dimension(s) {bad[:5]} — the {vec_col!r} column has "
                    f"null elements or vectors shorter than the seed "
                    f"dimension {dim}; fix the embeddings (they must be "
                    f"fixed-width, null-free) before clustering"
                )
        new = {
            int(r["centroid_id"]): [float(r[f"d{i}"]) for i in range(dim)]
            for r in rows
        }
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    if assign_impl == "arrow":
        assigned = _arrow_assign(
            corpus.select(F.col(id_col), F.col(vec_col)),
            cents,
            vec_col,
            with_cos=True,
        ).select(
            F.col(id_col),
            F.col("centroid_id"),
            F.round(F.col("c_cos"), 6).alias("c_cos"),
        )
    else:
        best = _nearest_centroid_scored(F.col(vec_col), cents)
        assigned = corpus.select(
            F.col(id_col),
            (-best["neg_cid"]).cast("int").alias("centroid_id"),
            F.round(best["c_cos"], 6).alias("c_cos"),
        )
    return cents, assigned


# ---------------------------------------------------------------------------
# Embedding-space benchmark decontamination
# ---------------------------------------------------------------------------


def embedding_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "arrow",
) -> DataFrame:
    """Semantic benchmark decontamination: flag every corpus vector whose
    embedding is within cosine ``threshold`` of ANY eval-set vector — the
    embedding-space complement of the n-gram overlap check
    (dedup.decontaminate), catching paraphrased/reworded eval leakage
    that shares no 8-gram with the benchmark.

    Returns one row per corpus vector: (id, max_eval_cos, contaminated),
    with ``max_eval_cos`` the maximum cosine against the whole eval set
    rounded to 6 dp (rounded AFTER the max — round is monotone, so this
    equals the max of rounded scores) and ``contaminated`` the
    threshold verdict on the rounded value, deterministic across engines.
    Zero-norm vectors (corpus or eval) contribute NO similarity on
    either path — a corpus row with no finite cosine (its own norm is 0,
    or every eval vector's is) gets NULL max_eval_cos and a NULL
    verdict, never a NaN-driven false positive.

    ``assign_impl="arrow"`` (default) broadcasts the eval matrix into a
    mapInArrow closure and computes each Arrow batch's full cosine block
    as ONE float64 gemm, emitting only the per-row max — the corpus
    vector crosses the JVM/Python boundary once, nothing shuffles, and
    the output is corpus-sized (narrow plan end-to-end).
    ``assign_impl="fold"`` is the pure-JVM replay path (broadcast join +
    groupBy max over the HOF cosine) used by the oracle gate. The arrow
    eval side is driver-collected and capped at MAX_CLOSURE_QUERIES
    (benchmarks are dimension-sized); for eval sets beyond the cap,
    pre-reduce them (e.g. cluster-representative vectors via kmeans) or
    use the fold path. Eval ids need not be unique: every eval vector
    counts. Corpus ids must be unique: the fold path groups by
    ``id_col``, so duplicate corpus ids collapse to one row there while
    the arrow path keeps one row per input row.

    Scale: at 10^12 corpus rows this is a single pruned-scan map pass —
    no exchange in the plan; throughput is the gemm (dim × |eval| flops
    per row) on the executor, not the network.
    """
    if assign_impl == "arrow":
        import numpy as np  # noqa: PLC0415
        import pyarrow as pa  # noqa: PLC0415

        # a list, not an id-keyed map: eval vectors sharing an id all count
        rows = eval_set.select(vec_col).limit(MAX_CLOSURE_QUERIES + 1).collect()
        if len(rows) > MAX_CLOSURE_QUERIES:
            raise ValueError(
                "embedding_decontaminate: assign_impl='arrow' collects the eval "
                f"set to the driver and is capped at {MAX_CLOSURE_QUERIES} "
                "vectors; pre-reduce the eval set or use assign_impl='fold'"
            )
        if not rows:
            raise ValueError("embedding_decontaminate: eval_set is empty")
        qmat = np.asarray([r[0] for r in rows], dtype=np.float64)
        qnorm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
        dim = qmat.shape[1]
        id_dtype = dict(corpus.dtypes)[id_col]

        def max_batches(batches):
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                cv = np.asarray(batch.column(1).flatten(), dtype=np.float64)
                cv = cv.reshape(n, dim)
                num = cv @ qmat.T
                cn = np.sqrt(np.einsum("ij,ij->i", cv, cv))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = num / (cn[:, None] * qnorm[None, :])
                # zero-norm vectors (corpus or eval) contribute NO
                # similarity — mirror the fold path, where 0-divisor
                # Divide yields NULL and F.max skips it: mask non-finite
                # cells, and a row with no finite cell emits NULL
                cos[~np.isfinite(cos)] = -np.inf
                mx = cos.max(axis=1)
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(0),
                        pa.array(
                            np.where(np.isfinite(mx), mx, np.nan),
                            mask=~np.isfinite(mx),
                        ),
                    ],
                    names=[id_col, "__mx"],
                )

        from .sources import ensure_parallelism

        narrow = ensure_parallelism(corpus.select(F.col(id_col), F.col(vec_col)))
        scored = narrow.mapInArrow(max_batches, f"{id_col} {id_dtype}, __mx double")
    elif assign_impl == "fold":
        ev = eval_set.select(F.col(vec_col).alias("__evec"))
        if ev.isEmpty():
            # match the arrow path: an empty eval set must fail loudly,
            # not cross-join to an empty frame that reads as "no
            # contamination anywhere"
            raise ValueError("embedding_decontaminate: eval_set is empty")
        # try_divide, not cosine()'s plain `/`: a zero-norm pair divides
        # by 0, which ANSI mode turns into a job-killing error and
        # non-ANSI into a NaN that Spark's max ranks ABOVE every real
        # cosine. NULL-on-zero makes zero-norm vectors contribute no
        # similarity, exactly like the arrow path's mask.
        c = F.try_divide(
            dot(F.col(vec_col), F.col("__evec")),
            norm(F.col(vec_col)) * norm(F.col("__evec")),
        )
        scored = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .join(F.broadcast(ev))
            .groupBy(id_col)
            .agg(F.max(c).alias("__mx"))
        )
    else:
        raise ValueError(
            f"assign_impl must be 'arrow' or 'fold', got {assign_impl!r}"
        )
    mx = F.round(F.col("__mx"), 6)
    return scored.select(
        F.col(id_col),
        mx.alias("max_eval_cos"),
        (mx >= F.lit(float(threshold))).alias("contaminated"),
    )
