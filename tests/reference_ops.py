"""Reference forms the production query operators are checked against.

Each function here is the plain JVM-expression (or plain-join) form of
something ``web_crawler_spark.operators`` computes with an Arrow kernel:
the kernels must reproduce these results exactly (tests/test_operators.py).
None of this runs on a production query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from web_crawler_spark.operators.ann import _banded_signatures, hyperplanes
from web_crawler_spark.operators.skew import spread_if_narrow, top_n_per_bucket
from web_crawler_spark.operators.text import SIG_BITS, _band_int, _with_bands


# ---------------------------------------------------------------------------
# text: tokens, shingles, SimHash, MinHash
# ---------------------------------------------------------------------------

def tokens_col(text: F.Column) -> F.Column:
    """Whitespace tokenization; empty/blank text => empty array."""
    return F.when(
        F.length(F.trim(text)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(text), r"\s+"))


def shingles_col(words: F.Column, n: int = 3) -> F.Column:
    """n-word shingles in order (array<string>); < n words => empty."""
    cnt = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    return F.when(cnt > 0, F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )).otherwise(F.array().cast("array<string>"))


def jaccard_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Per-doc distinct (id, sh) rows: ``explode(array_distinct(...))``."""
    return spread_if_narrow(df).select(
        id_col,
        F.explode(
            F.array_distinct(shingles_col(tokens_col(F.col(text_col)), n))
        ).alias("sh"),
    )


def minhash_band_sigs(
    df: DataFrame, id_col: str, text_col: str, n_bands: int = 4, n: int = 3,
) -> DataFrame:
    """Shingle explode + per-band ``min(md5(f"{b}|" + shingle))``."""
    words = tokens_col(F.col(text_col))
    n_sh = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    sh = spread_if_narrow(df).select(
        id_col, F.explode(F.when(n_sh > 0, shingles)).alias("shingle")
    )
    return sh.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle")))
            ).alias(f"_s{b}")
            for b in range(n_bands)
        ]
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_bands: int = 8,
) -> DataFrame:
    """Token explode + 64 signed bit-vote sums over the md5 nibbles."""
    toks = spread_if_narrow(df).select(
        id_col, F.explode_outer(tokens_col(F.col(text_col))).alias("tok")
    )
    # one projection decodes the 16 hex nibbles, so each token row is
    # hashed once rather than once per vote sum
    md5h = F.md5("tok")
    toks = toks.select(
        id_col,
        F.col("tok").isNull().alias("no_tok"),
        *[
            F.conv(F.substring(md5h, d + 1, 1), 16, 10)
            .cast("int")
            .alias(f"nib{d}")
            for d in range(16)
        ],
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("no_tok"), 0).otherwise(
                    F.when(
                        F.shiftright(F.col(f"nib{i // 4}"), i % 4).bitwiseAND(
                            F.lit(1)
                        )
                        == 1,
                        1,
                    ).otherwise(-1)
                )
            ).alias(f"b{i}")
            for i in range(SIG_BITS)
        ]
    )
    sig = F.concat(
        *[
            F.when(F.col(f"b{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(SIG_BITS - 1, -1, -1)
        ]
    )
    sig_int = F.lit(0).cast("long")
    for i in range(SIG_BITS):
        sig_int = sig_int.bitwiseOR(
            F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    out = votes.select(id_col, sig.alias("sig"), sig_int.alias("sig_int"))
    return _with_bands(out, n_bands)


def simhash_pairs(
    sigs: DataFrame, id_col: str, max_hamming: int, n_bands: int = 8,
) -> DataFrame:
    """(id_a, id_b, hamming): band self-join, id_a < id_b, hamming <= k."""
    band_w = SIG_BITS // n_bands
    banded = sigs.select(
        id_col,
        "sig_int",
        F.posexplode(
            F.array(*[_band_int(F.col("sig_int"), b, band_w) for b in range(n_bands)])
        ).alias("band_idx", "band_bits"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig_int").alias("sig_a"),
        "band_idx", "band_bits",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig_int").alias("sig_b"),
        "band_idx", "band_bits",
    )
    return (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# ann: cosine, LSH signatures, brute-force top-k, capped near-dup pairs
# ---------------------------------------------------------------------------

def cosine_hof(a: F.Column, b: F.Column) -> F.Column:
    """Cosine as higher-order functions (``aggregate`` over ``zip_with``)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return dot / (na * nb)


def signature_col(qv: F.Column, planes: np.ndarray) -> F.Column:
    """Sign-bit signature of one LSH table over a *quantized* vector:
    each bit is sign(sum of ±qv[i]) — exact int64 arithmetic."""
    bits = []
    for p in planes:
        w = F.array(*[F.lit(int(x)) for x in p])
        dot = F.aggregate(
            F.zip_with(qv, w, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k: vectors(vec_id, v) x queries(query_id, qv) broadcast."""
    pairs = vectors.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_hof(F.col("qv"), F.col("v")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def near_dup_pairs_capped(
    vectors: DataFrame, dim: int, n_planes: int, n_tables: int, seed: int,
    bucket_cap: int,
) -> DataFrame:
    """(id_a, id_b, va, vb): self-join of the capped (table, signature)
    buckets, id_a < id_b, deduped, vectors re-attached."""
    planes = hyperplanes(dim, n_planes, n_tables, seed)
    banded = top_n_per_bucket(
        _banded_signatures(vectors, planes, n_tables),
        ["tbl", "sig"], "vec_id", bucket_cap,
    )
    a = banded.select(F.col("vec_id").alias("id_a"), "tbl", "sig")
    b = banded.select(F.col("vec_id").alias("id_b"), "tbl", "sig")
    pairs = (
        a.join(b, ["tbl", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    va = vectors.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = vectors.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return pairs.join(va, "id_a").join(vb, "id_b")
