"""Approximate nearest neighbors and near-dup pairs over an embedding
column, DataFrame-native.

* ``lsh_topk`` — random-sign-projection LSH top-k: ``n_tables``
  independent sign signatures of ``n_planes`` bits each; a query is
  compared only with vectors sharing a (table, signature) bucket.
  Planes are seeded ±1 (Rademacher) weights and the vectors are
  quantized to integers first, so every signature bit is an *exact
  integer* comparison — bit-reproducible in any engine (this is what
  makes the DuckDB correctness oracle possible; Gaussian planes with
  float dot products are summation-order-sensitive near zero).  Sign
  projections with ±1 weights have the same locality-sensitive collision
  law as Gaussian ones (P[bit match] = 1 - angle/pi, asymptotically).
  Recall/cost trades off via (n_planes, n_tables).
* ``near_dup_scored_pairs_kernel`` — near-dup candidate pairs from the
  same banded signatures, enumerated and cosine-scored inside one
  per-bucket kernel.
* ``cosine_col`` — Arrow-batched cosine, bit-identical to the JVM
  higher-order-function fold the oracle SQL mirrors.

Skew handling (axis B): ``bucket_cap`` bounds candidates per (table,
signature) bucket with a deterministic salted first-N — near-dup-heavy
corpora pile into few buckets and would otherwise go quadratic.

The exact brute-force top-k that LSH recall is measured against, and
the JVM forms of the signature and cosine folds, live in
``tests/reference_ops.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .skew import top_n_per_bucket

# embedding quantization step: 1e-6 resolution, exact int64 arithmetic
QUANT = 1_000_000


def _cosine_fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine per column of two dimension-major (dim, rows) float64
    arrays, reproducing the JVM HOF fold BIT-EXACTLY: each of dot/na/nb
    is accumulated left-to-right from 0.0 one dimension at a time (the
    per-dimension op is vectorized across rows, the fold order per row
    is unchanged), so every intermediate IEEE-754 operation matches
    ``aggregate(zip_with(...))`` and the rounded result the DuckDB
    oracle checks is identical."""
    n = a.shape[1]
    dot = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for ai, bi in zip(a, b):
        dot = dot + ai * bi
        na = na + ai * ai
        nb = nb + bi * bi
    return dot / (np.sqrt(na) * np.sqrt(nb))


def _cosine_batch(va, vb):
    """pandas-UDF body: cosine over two Series of equal-length float64
    arrays (``_cosine_fold``)."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    if len(va) == 0:
        return pd.Series([], dtype="float64")
    # transpose to dimension-major so each per-dimension slice is
    # contiguous (the strided (rows, dim) column walk is ~3x slower)
    a = np.stack(va.to_numpy()).T.copy()
    b = np.stack(vb.to_numpy()).T.copy()
    return pd.Series(_cosine_fold(a, b))


def cosine_col(a: F.Column, b: F.Column) -> F.Column:
    """Cosine similarity of two array<double> columns whose arrays all
    have one common length (fixed-dimension dense embeddings — all
    tables here).

    Runs as an Arrow-batched pandas UDF whose per-row fold order is
    bit-identical to the JVM higher-order-function form (see
    ``_cosine_fold``).  The HOF form (``aggregate`` over ``zip_with``)
    evaluates an interpreted lambda per element — HOFs don't codegen —
    and was ~70% of the whole embedding_near_dup_lsh query at sf1.0 (8s
    of 11s); a 64-term unrolled ``get`` expression chain exceeds codegen
    limits and interprets even slower than the HOF.
    """
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    return pandas_udf(_cosine_batch, "double")(a, b)


def hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> np.ndarray:
    """Seeded ±1 sign-projection planes, shape (n_tables, n_planes, dim).
    Public so the DuckDB oracle SQL embeds the exact same literals."""
    rng = np.random.RandomState(seed)
    return rng.choice(
        np.array([-1, 1], dtype=np.int64), size=(n_tables, n_planes, dim)
    )


def quantize_col(v: F.Column) -> F.Column:
    """array<double> -> array<long> at 1e-6 resolution (round half away
    from zero in both Spark and DuckDB)."""
    return F.transform(v, lambda x: F.round(x * QUANT, 0).cast("long"))


def _sig_arr_batch_fn(planes: np.ndarray):
    """Build a pandas-UDF body computing every table's signature string
    from the QUANTIZED int64 vectors in one numpy pass.  All arithmetic
    is int64 (sums of ±q_i) — exact and order-free, so the bits are
    provably identical to the JVM higher-order-function fold (pinned by
    ``test_lsh_signatures_numpy_matches_hof``); its interpreted
    per-element lambdas (n_tables x n_planes folds per vector) were most
    of the banding stage's cost.
    """
    flat = planes.reshape(-1, planes.shape[2]).T.astype(np.int64)
    n_tables, n_planes = planes.shape[0], planes.shape[1]

    def _sig_arr(qv):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        if len(qv) == 0:
            return pd.Series([], dtype="object")
        q = np.stack(qv.to_numpy()).astype(np.int64)
        bits = (q @ flat) >= 0  # (rows, n_tables*n_planes), exact int64
        chars = np.where(bits, "1", "0")
        out = []
        for r in chars:
            out.append(
                [
                    "".join(r[t * n_planes : (t + 1) * n_planes])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return _sig_arr


def _banded_signatures(
    vectors: DataFrame, planes: np.ndarray, n_tables: int,
    id_col: str = "vec_id", vec_col: str = "v", spread: bool = True,
) -> DataFrame:
    """One row per (vector, table): (id, v, sig_arr, tbl, sig).

    The round-4 shape recomputed the FULL n_tables-signature projection
    once per table branch in a union-of-joins loop — n_tables scans, each
    evaluating every table's signature (n_tables^2 signature computations
    per vector, all inside however few tasks the parquet split yields).
    Here the signatures are computed exactly once per vector into an
    array, after a round-robin repartition (``spread_if_narrow``: a
    no-op when the scan is already wide) so the signature arithmetic
    spreads across the cluster instead of riding the scan's (possibly
    single-file) task layout, and the per-table rows come from one
    posexplode.  ``sig_arr`` stays on the row so a pair enumerator can
    re-check lower tables without another join.
    """
    from .skew import spread_if_narrow  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    base = vectors if not spread else spread_if_narrow(vectors)
    # quantization stays a JVM expression (its round() half-up is the
    # oracle-pinned step); the per-table sign bits over the resulting
    # int64 arrays are computed in one Arrow-batched numpy matmul —
    # exact integer arithmetic, bit-identical to the JVM HOF fold
    sig_udf = pandas_udf(
        _sig_arr_batch_fn(planes), "array<string>"
    )
    base = base.withColumn("_qv", quantize_col(F.col(vec_col))).select(
        id_col,
        vec_col,
        sig_udf(F.col("_qv")).alias("sig_arr"),
    )
    # posexplode_OUTER: sig_arr always has exactly n_tables elements, but
    # with a plain posexplode the optimizer (InferFiltersFromGenerate)
    # adds a `size(sig_arr) > 0` filter that gets pushed below the
    # repartition into the scan — re-evaluating every signature aggregate
    # per row inside the (possibly single-file) scan task, then again
    # above the exchange.  The outer variant infers no filter.
    return base.select(
        id_col, vec_col, "sig_arr",
        F.posexplode_outer("sig_arr").alias("tbl", "sig"),
    )


def near_dup_scored_pairs_kernel(
    vectors: DataFrame,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 7,
    bucket_cap: int = 100,
) -> DataFrame:
    """Capped near-dup candidate pairs WITH raw cosine, one kernel pass.

    The pair set: unordered pairs (id_a < id_b) sharing a (table,
    signature) bucket after each bucket is capped to its first
    ``bucket_cap`` vec_ids — the capped bucket self-join, deduped;
    cosines are ``cosine_col``'s doubles (both pytest-pinned against
    ``tests/reference_ops.py``).  The banded + capped frame is grouped
    by (table, signature) — the cap bounds every group at
    ``bucket_cap`` rows, so no salting is needed — and a numpy kernel
    enumerates each bucket's pair triangle, emitting a pair only at its
    first shared SURVIVING table (each row carries a bitmap of the
    tables it survived the cap in), with the bit-identical cosine fold
    computed in the same pass.

    Versus the self-join form this saves, per pair: the id-pair join,
    the dropDuplicates exchange of the ~quadratic pair set, two vector
    re-attach joins, and the ~1 KB/pair Arrow transfer into a scoring
    UDF (sf1.0: 1.8 GB).  The kernel sees each capped bucket's ≤cap
    vectors once (~70 MB).
    """
    planes = hyperplanes(dim, n_planes, n_tables, seed)
    banded = _banded_signatures(vectors, planes, n_tables)
    capped = top_n_per_bucket(banded, ["tbl", "sig"], "vec_id", bucket_cap)
    surv_w = Window.partitionBy("vec_id")
    capped = capped.withColumn(
        "_surv",
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), tbl)")).over(surv_w),
    )
    id_type = dict(vectors.dtypes)["vec_id"]

    def _bucket_kernel(key, pdf):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        t = int(key[0])
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        v = np.stack(pdf["v"].to_numpy()[order])
        surv = pdf["_surv"].to_numpy()[order].astype(np.int64)
        sig_arr = pdf["sig_arr"].to_numpy()[order]
        iu, ju = np.triu_indices(n, 1)
        keep = np.ones(len(iu), dtype=bool)
        for tp in range(t):
            both = (((surv[iu] >> tp) & 1) & ((surv[ju] >> tp) & 1)).astype(
                bool
            )
            if not both.any():
                continue
            sig_tp = np.array([row[tp] for row in sig_arr])
            keep &= ~(both & (sig_tp[iu] == sig_tp[ju]))
        if not keep.any():
            return empty
        ia, ib = iu[keep], ju[keep]
        return pd.DataFrame(
            {
                "id_a": ids[ia],
                "id_b": ids[ib],
                "cosine": _cosine_fold(v[ia].T.copy(), v[ib].T.copy()),
            }
        )

    return capped.groupBy("tbl", "sig").applyInPandas(
        _bucket_kernel,
        schema=f"id_a {id_type}, id_b {id_type}, cosine double",
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 3,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k: compare only within shared LSH buckets.

    vectors(vec_id, v), queries(query_id, qv) — qv must be the same dim.
    One (table, signature) bucket join over all n_tables, deduped per
    (query, neighbor), then exact cosine ranking of the candidates.  ``bucket_cap``
    bounds each (table, signature) bucket to its first N vec_ids.
    """
    planes = hyperplanes(dim, n_planes, n_tables, seed)
    # one banded frame per side, ONE (tbl, sig) equi-join instead of the
    # round-4 union of n_tables joins (which re-scanned the vectors and
    # re-evaluated every table's signature once per branch); the tiny
    # query side broadcasts, so the big side is scanned exactly once
    # with no shuffle.
    banded = _banded_signatures(vectors, planes, n_tables).drop("sig_arr")
    if bucket_cap is not None:
        # salted two-stage first-N: with only 2^n_planes signatures, a
        # single-stage window would route each hot bucket through ONE task
        banded = top_n_per_bucket(banded, ["tbl", "sig"], "vec_id", bucket_cap)
    qbanded = _banded_signatures(
        queries, planes, n_tables, id_col="query_id", vec_col="qv", spread=False
    ).drop("sig_arr")
    cands = (
        F.broadcast(qbanded)
        .join(banded, ["tbl", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "v")
    )
    # score BEFORE deduping: cosine is deterministic, so duplicate
    # (query, neighbor) candidates from different tables carry the same
    # score and the dedup sees only scalar columns — a HashAggregate.
    # Deduping first would drag the two vector arrays through the
    # aggregate, which Spark can only run as a SortAggregate (hash agg
    # buffers don't take arrays): a full sort of the candidate set.
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_col(F.col("qv"), F.col("v")), 6).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
