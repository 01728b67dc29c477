"""Text near-dup + analysis operators for the training-data pipeline.

Each operator has one production path.  Work that depends only on one
document's own text (tokenize, md5, vote, shingle) runs as a row-local
Arrow ``mapInPandas`` kernel whose state lives for one batch; everything
across documents (banding, pair enumeration, joins, aggregation) stays
in the JVM plan.

* ``simhash_signatures``: 64-bit SimHash per doc from md5 token votes —
  the signature as a 64-char bit string, bit-packed into ``sig_int``,
  plus ``n_bands`` LSH bands.
* ``simhash_pair_hamming_hist``: per-hamming counts of the banded
  candidate-pair set, enumerated inside a per-bucket numpy kernel
  without materializing the pairs.
* ``minhash_band_sigs``: per-doc MinHash band signatures over n-word
  shingles.
* ``jaccard_pairs``: n-gram shingle set Jaccard via distinct-shingle
  self-join — the classic exact near-dup join, SQL-expressible (has a
  DuckDB oracle in __spark_entry__).

The JVM-expression forms the kernels replaced live in
``tests/reference_ops.py``; each kernel is pytest-pinned bit-equal to
its reference there.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

SIG_BITS = 64


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR) — numpy<2.0 has no bitwise_count."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _tok_votes(tok: str) -> np.ndarray:
    """±1 vote vector (64 x int8) for one token — EXACTLY the JVM rule:
    bit i = (nibble i//4 of the md5 hex digest) >> (i%4) & 1."""
    import hashlib  # noqa: PLC0415 — executor-side import

    h = hashlib.md5(tok.encode("utf-8")).hexdigest()
    nib = np.array([int(c, 16) for c in h[:16]], dtype=np.int8)
    bits = (np.repeat(nib, 4) >> np.tile(np.arange(4, dtype=np.int8), 16)) & 1
    return (2 * bits - 1).astype(np.int8)


def _java_tokenizer():
    """Spark's ``split(trim(text), '\\s+')`` in Python, EXACTLY: ``trim``
    strips ASCII spaces only, the pattern is Java's ``\\s`` =
    ``[ \\t\\n\\x0b\\f\\r]`` (not Python's Unicode-aware ``\\s``), and
    Java's limit=-1 keeps leading/trailing empty-string tokens.  Returns
    a callable text -> list[str] (empty list for null/blank text)."""
    import re  # noqa: PLC0415

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def _toks(t):
        if t is None or (isinstance(t, float) and t != t):
            return []
        s = t.strip(" ")
        if not s:
            return []
        return ws.split(s)

    return _toks


def _distinct_shingler(n: int):
    """Returns a callable text -> the doc's DISTINCT n-word shingles, as
    a dict used as an ordered set (first occurrence kept, like
    ``array_distinct``); fewer than n tokens => empty.  Each shingle is
    " ".join of the token slice — byte-identical to Spark's
    ``array_join(slice(tokens, i, n), " ")``."""
    toks_of = _java_tokenizer()

    def _shingles(t):
        toks = toks_of(t)
        return dict.fromkeys(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )

    return _shingles


def _map_docs(
    df: DataFrame, id_col: str, text_col: str, kernel, out_ddl: str,
) -> DataFrame:
    """Run a row-local text kernel over (id, text) as one ``mapInPandas``
    pass, output schema ``id`` + ``out_ddl``; a single-file scan is
    spread first (``spread_if_narrow``)."""
    from .skew import spread_if_narrow  # noqa: PLC0415

    base = spread_if_narrow(df).select(id_col, text_col)
    id_ddl = base.schema[id_col].dataType.simpleString()
    return base.mapInPandas(kernel, schema=f"{id_col} {id_ddl}, {out_ddl}")


def _shingle_kernel_fn(id_col: str, text_col: str, n: int):
    """mapInPandas body emitting the per-doc DISTINCT n-gram shingle
    rows (id, sh) — the JVM ``explode(array_distinct(shingles))`` form
    evaluated an interpreted slice+array_join lambda per shingle
    (~52/doc).  Pinned by ``test_jaccard_shingle_kernel_matches_jvm``."""
    shingles_of = _distinct_shingler(n)

    def _fn(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        for pdf in batches:
            if len(pdf) == 0:
                continue
            shs: list = []
            counts = np.zeros(len(pdf), dtype=np.int64)
            for k, t in enumerate(pdf[text_col]):
                uniq = shingles_of(t)
                counts[k] = len(uniq)
                shs.extend(uniq)
            idv = np.repeat(pdf[id_col].to_numpy(), counts)
            yield pd.DataFrame({id_col: idv, "sh": shs})

    return _fn


def _minhash_kernel_fn(id_col: str, text_col: str, n_bands: int, n: int):
    """mapInPandas body for ``minhash_band_sigs``: per doc, the
    lexicographic min of ``md5(f"{b}|" + shingle)`` over the doc's own
    n-gram shingles, one column per band.  Row-local (min over the
    row's shingle set), so no explode and no aggregation exchange; a
    per-batch shingle→digests cache hashes each DISTINCT shingle once
    per batch.  Docs with no shingles emit NO row — matching the JVM
    ``explode`` (not outer) + groupBy.  Hex digests are ASCII, so
    Python ``<`` equals Spark's binary string ordering."""
    shingles_of = _distinct_shingler(n)
    prefixes = [f"{b}|".encode() for b in range(n_bands)]

    def _fn(batches):
        import hashlib  # noqa: PLC0415 — executor-side import

        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cache: dict = {}
            out_ids: list = []
            out_sigs: list = [[] for _ in range(n_bands)]
            for did, t in zip(pdf[id_col], pdf[text_col]):
                uniq = shingles_of(t)
                if not uniq:
                    continue
                mins = [None] * n_bands
                for s in uniq:
                    e = cache.get(s)
                    if e is None:
                        sb = s.encode("utf-8")
                        e = tuple(
                            hashlib.md5(prefixes[b] + sb).hexdigest()
                            for b in range(n_bands)
                        )
                        cache[s] = e
                    for b in range(n_bands):
                        if mins[b] is None or e[b] < mins[b]:
                            mins[b] = e[b]
                out_ids.append(did)
                for b in range(n_bands):
                    out_sigs[b].append(mins[b])
            yield pd.DataFrame(
                {
                    id_col: pd.Series(out_ids, dtype=pdf[id_col].dtype),
                    **{
                        f"_s{b}": pd.Series(out_sigs[b], dtype="object")
                        for b in range(n_bands)
                    },
                }
            )

    return _fn


def minhash_band_sigs(
    df: DataFrame, id_col: str, text_col: str, n_bands: int = 4, n: int = 3,
) -> DataFrame:
    """Per-doc MinHash band signatures (wide): columns ``_s0.._s{B-1}``
    = lexicographic min of ``md5(f"{b}|" + shingle)`` over the doc's
    n-word shingles; docs with < n words emit no row.  Computed
    row-locally in one Arrow pass — no shingle explode, no
    md5-per-occurrence-per-band, no groupBy exchange."""
    return _map_docs(
        df, id_col, text_col, _minhash_kernel_fn(id_col, text_col, n_bands, n),
        ", ".join(f"_s{b} string" for b in range(n_bands)),
    )


def _sig_kernel_fn(id_col: str, text_col: str):
    """mapInPandas body computing (id, sig, sig_int) per document.

    Bit-identical to the JVM explode/md5/64-sum-aggregate form (pinned
    by ``test_simhash_signatures_kernel_matches_jvm``): tokenization is
    ``_java_tokenizer``, and votes are exact int64 sums of ±1 —
    order-free, so the signature bits equal the JVM aggregate's.

    A signature depends only on the row's own text, so there is no
    shuffle at all; the per-batch token→vote cache makes the md5 cost
    one hash per DISTINCT token per batch.
    """
    toks_of = _java_tokenizer()

    def _fn(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            cache: dict = {}
            vote_rows: list = []
            counts = np.zeros(n, dtype=np.int64)
            tok_idx: list = []
            for k, t in enumerate(pdf[text_col]):
                toks = toks_of(t)
                counts[k] = len(toks)
                for tok in toks:
                    j = cache.get(tok)
                    if j is None:
                        j = len(vote_rows)
                        cache[tok] = j
                        vote_rows.append(_tok_votes(tok))
                    tok_idx.append(j)
            votes = np.zeros((n, 64), dtype=np.int64)
            if tok_idx:
                vmat = np.asarray(vote_rows, dtype=np.int8)
                v64 = vmat[np.asarray(tok_idx, dtype=np.int64)].astype(
                    np.int64
                )
                nz = counts > 0
                cnz = counts[nz]
                off = np.zeros(len(cnz), dtype=np.int64)
                np.cumsum(cnz[:-1], out=off[1:])
                votes[nz] = np.add.reduceat(v64, off, axis=0)
            bits = votes > 0
            chars = np.where(bits[:, ::-1], "1", "0")  # col j <-> bit 63-j
            sig_int = (
                (bits.astype(np.uint64) * weights)
                .sum(axis=1, dtype=np.uint64)
                .view(np.int64)
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sig": ["".join(r) for r in chars],
                    "sig_int": sig_int,
                }
            )

    return _fn


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_bands: int = 8,
) -> DataFrame:
    """Per-doc 64-bit SimHash as a bit string + LSH bands.

    SimHash: each token votes +1/-1 on every bit according to the bit
    pattern of the token's hash; the signature bit is the vote sign.
    Docs with no tokens get the all-zeros signature.

    The token hash is the first 64 bits of md5 rather than ``xxhash64``:
    md5 is engine-portable, which makes the whole operator reproducible
    in the DuckDB correctness oracle (bit i = nibble i//4 of the hex
    digest, within-nibble bit i%4).

    A signature is a row-local function of the text, so it is computed
    in one Arrow ``mapInPandas`` pass — no token explode (~55 rows/doc),
    no 64 partial-aggregate expressions, no groupBy exchange.
    ``sig_int`` is the same signature bit-packed into one bigint, so a
    Hamming distance is ``bit_count(a ^ b)``.
    """
    out = _map_docs(
        df, id_col, text_col, _sig_kernel_fn(id_col, text_col),
        "sig string, sig_int bigint",
    )
    return _with_bands(out, n_bands)


def _with_bands(out: DataFrame, n_bands: int) -> DataFrame:
    band_w = SIG_BITS // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.substring("sig", b * band_w + 1, band_w).alias("band_bits"),
            )
            for b in range(n_bands)
        ]
    )
    return out.withColumn("bands", bands)


def _band_int(sig_int: F.Column, b: int, band_w: int) -> F.Column:
    """Band ``b`` of a bit-packed signature as an int (matches the string
    banding: band b = sig-string chars b*w+1..(b+1)*w = bits 63-b*w down
    to 64-(b+1)*w)."""
    mask = (1 << band_w) - 1
    return F.shiftrightunsigned(sig_int, SIG_BITS - (b + 1) * band_w).bitwiseAND(
        F.lit(mask)
    )


def simhash_pair_hamming_hist(
    sigs: DataFrame, id_col: str, max_hamming: int = 8,
    n_bands: int = 8, n_salts: int = 8,
) -> DataFrame:
    """Per-bucket (hamming, n) histograms of the banded candidate-pair
    set, without materializing the pairs.

    The pair set: unordered pairs of docs sharing >= 1 of ``n_bands``
    bands with hamming <= ``max_hamming``, each counted once (at its
    first shared band).  Two docs within Hamming k share at least one of
    k+1 bands, so with ``max_hamming < n_bands`` no pair within the
    bound is missed.  Summing ``n`` per ``hamming`` equals the plain
    band self-join's ``groupBy("hamming").count()`` (pytest-pinned
    against ``tests/reference_ops.py`` and oracle-gated).

    Distribution uses triangle salt BLOCKS: each row (salt s =
    pmod(xxhash64(id), S)) is replicated to the S blocks (min(s,t),
    max(s,t)); an off-diagonal block holds each cross-salt pair exactly
    once (no order test at all), a diagonal block (s,s) holds one salt's
    rows and dedups by the (xxhash64(id), id) strict total order — any
    strict total order counts an unordered pair exactly once.  A hot
    bucket's c^2/2 pair space is thus split over S(S+1)/2 independent
    tasks, which AQE cannot fold back together: the repartition width is
    user-pinned.
    """
    band_w = SIG_BITS // n_bands
    banded = sigs.select(
        F.col(id_col),
        F.col("sig_int"),
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("band_idx"),
    )
    band_bits = F.lit(0).cast("long")
    for b in range(n_bands):
        band_bits = F.when(
            F.col("band_idx") == b, _band_int(F.col("sig_int"), b, band_w)
        ).otherwise(band_bits)
    banded = banded.withColumn("band_bits", band_bits).withColumn(
        "idh", F.xxhash64(id_col)
    )
    n_part = int(
        sigs.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
    )
    # ONE explode emits the S block entries per banded row (a union of
    # per-side selects over `banded` would compute the signature subtree
    # once per branch) — side 0 = row-salt side (s < t), side 1 =
    # col-salt side (s > t), side 2 = diagonal (t == s)
    s_col = F.pmod(F.col("idh"), F.lit(n_salts)).cast("int")
    entries = F.array(
        *[
            F.struct(
                F.when(s_col == t, F.lit(2))
                .when(s_col < t, F.lit(0))
                .otherwise(F.lit(1))
                .alias("side"),
                F.least(s_col, F.lit(t)).cast("int").alias("bs"),
                F.greatest(s_col, F.lit(t)).cast("int").alias("bt"),
            )
            for t in range(n_salts)
        ]
    )
    u = banded.select(
        F.col(id_col).alias("_id"), "sig_int", "idh", "band_idx", "band_bits",
        F.explode(entries).alias("_e"),
    ).select(
        "_id", "sig_int", "idh", "band_idx", "band_bits",
        F.col("_e.side").alias("side"),
        F.col("_e.bs").alias("bs"), F.col("_e.bt").alias("bt"),
    ).repartition(n_part, "band_idx", "band_bits", "bs", "bt")
    # groups made contiguous within each shuffle partition: the kernel
    # runs as ONE mapInPandas pass per partition (numpy slice per group)
    # instead of one applyInPandas call per bucket-block — the per-group
    # pandas/Arrow machinery across ~7e4 tiny groups was ~3s of the
    # sf1.0 query.  A group never spans partitions (it IS the shuffle
    # key); batches within a partition are stitched by a carry buffer.
    u = u.sortWithinPartitions("band_idx", "band_bits", "bs", "bt")

    max_h = int(max_hamming)
    b_w = int(band_w)
    _COLS = ("_id", "sig_int", "idh", "band_idx", "bs", "bt", "side",
             "band_bits")

    def _hist_stream(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        band_mask = np.uint64((1 << b_w) - 1)
        hist = np.zeros(max_h + 1, dtype=np.int64)

        def _group(ids, sig_u, idh, side, band_idx, diagonal):
            if diagonal:
                ids_a = ids_b = ids
                ha = hb = idh
                sig_a = sig_b = sig_u
            else:
                sel = side == 0
                ids_a, ids_b = ids[sel], ids[~sel]
                ha, hb = idh[sel], idh[~sel]
                sig_a, sig_b = sig_u[sel], sig_u[~sel]
                if len(sig_a) == 0 or len(sig_b) == 0:
                    return
            n_bb = len(sig_b)
            blk = max(1, (4 << 20) // max(1, n_bb))  # ~4M pairs per block
            for lo in range(0, len(sig_a), blk):
                x = sig_a[lo : lo + blk, None] ^ sig_b[None, :]
                ham = _popcount64(x)
                m = ham <= np.uint64(max_h)
                # first-shared-band emission: every lower band byte of
                # the xor must be nonzero (bands are laid out MSB-first)
                for j in range(band_idx):
                    shift = np.uint64(SIG_BITS - (j + 1) * b_w)
                    m &= ((x >> shift) & band_mask) != 0
                if diagonal:
                    # exactly-once emission within one salt: strict
                    # total order by (idh, id) — integer compare per
                    # pair, Python string compare only on hash ties
                    # (collisions/self-pairs)
                    ha_blk = ha[lo : lo + blk, None]
                    ties = m & (ha_blk == hb[None, :])
                    m &= ha_blk < hb[None, :]
                    if ties.any():
                        ti, tj = np.nonzero(ties)
                        tkeep = ids_a[lo + ti] < ids_b[tj]
                        if tkeep.any():
                            hist[: max_h + 1] += np.bincount(
                                ham[ti[tkeep], tj[tkeep]].astype(np.int64),
                                minlength=max_h + 1,
                            )
                if m.any():
                    hist[: max_h + 1] += np.bincount(
                        ham[m].astype(np.int64), minlength=max_h + 1
                    )

        def _run_groups(cols, upto):
            k1, k2 = cols["band_idx"], cols["band_bits"]
            k3, k4 = cols["bs"], cols["bt"]
            change = (
                (k1[1:upto] != k1[: upto - 1])
                | (k2[1:upto] != k2[: upto - 1])
                | (k3[1:upto] != k3[: upto - 1])
                | (k4[1:upto] != k4[: upto - 1])
            )
            starts = np.concatenate(
                ([0], np.nonzero(change)[0] + 1, [upto])
            )
            for gi in range(len(starts) - 1):
                s, e = int(starts[gi]), int(starts[gi + 1])
                _group(
                    cols["_id"][s:e],
                    cols["sig_int"][s:e],
                    cols["idh"][s:e],
                    cols["side"][s:e],
                    int(k1[s]),
                    int(k3[s]) == int(k4[s]),
                )
            return int(starts[-2])  # start of the last (possibly open) group

        carry = None
        for pdf in batches:
            cols = {c: pdf[c].to_numpy() for c in _COLS}
            cols["sig_int"] = cols["sig_int"].astype(np.int64).view(np.uint64)
            cols["idh"] = cols["idh"].astype(np.int64)
            if carry is not None:
                cols = {
                    c: np.concatenate([carry[c], cols[c]]) for c in _COLS
                }
            n = len(cols["sig_int"])
            if n == 0:
                continue
            k1, k2 = cols["band_idx"], cols["band_bits"]
            k3, k4 = cols["bs"], cols["bt"]
            # the trailing group may continue into the next batch: find
            # where it starts and hold those rows back
            change = (
                (k1[1:] != k1[:-1]) | (k2[1:] != k2[:-1])
                | (k3[1:] != k3[:-1]) | (k4[1:] != k4[:-1])
            )
            nz = np.nonzero(change)[0]
            last_start = int(nz[-1] + 1) if len(nz) else 0
            if last_start > 0:
                _run_groups(cols, last_start)
            carry = {c: cols[c][last_start:] for c in _COLS}
        if carry is not None and len(carry["sig_int"]):
            _run_groups(carry, len(carry["sig_int"]))
        nz = np.nonzero(hist)[0]
        if len(nz):
            yield pd.DataFrame(
                {"hamming": nz.astype(np.int32), "n": hist[nz]}
            )

    return u.mapInPandas(_hist_stream, schema="hamming int, n long")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard similarity join (set semantics).

    ``max_df`` is the hot-shingle cap (axis B): shingles appearing in
    more than ``max_df`` documents are dropped from the shingle space
    *entirely* (both intersection and sizes), so one boilerplate shingle
    shared by k docs can no longer produce k^2 join rows.  Semantics stay
    well-defined and engine-portable: Jaccard over the capped shingle
    space.  Standard practice in MinHash/shingle dedup pipelines; leave
    None for the uncapped exact join.

    ``id_col`` must identify ONE row (one document): the per-document
    shingle-set dedup is row-local, inside the Arrow shingle kernel —
    the JVM explode form evaluated an interpreted slice+array_join
    lambda per shingle (~52/doc; measured 1.9 s of the 4.2 s
    sf1.0-shape query).
    """
    sh = _map_docs(
        df, id_col, text_col, _shingle_kernel_fn(id_col, text_col, n),
        "sh string",
    )
    return _jaccard_from_shingles(sh, id_col, min_jaccard, max_df)


def _jaccard_from_shingles(
    sh: DataFrame, id_col: str, min_jaccard: float, max_df: int | None,
) -> DataFrame:
    """``jaccard_pairs`` from the per-doc distinct (id, sh) rows.

    The rows are hash-repartitioned ONCE by shingle: that single pinned
    exchange is reused by every consumer (the DF-cap window and both
    self-join sides run in place on the sh-partitioned data with no
    further exchange)."""
    from pyspark.sql import Window  # noqa: PLC0415

    n_part = int(sh.sparkSession.conf.get("spark.sql.shuffle.partitions", "64"))
    sh = sh.repartition(n_part, "sh")
    if max_df is not None:
        # document frequency as a window over the sh-partitioned frame:
        # the cap reuses the ONE exchange above instead of growing its
        # own aggregate+join branch (which column pruning made a second
        # full scan+explode+exchange of the occurrence stream), and the
        # self-join below inherits both the partitioning and the
        # window's sort order — no further exchange or sort on sh.
        # Hot-shingle safety: a partition holds at most the sum of raw
        # dfs hashing to it (rows, not pairs) — the quadratic risk this
        # cap exists for arises only after the join, on capped rows.
        sh = (
            sh.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
        # pin a second exchange on the CAPPED stream: only Exchange
        # subtrees are reused across consumers, so without it each of
        # the three consumers below (sizes, both join sides) re-sorts
        # the full occurrence stream and re-evaluates the window from
        # the first exchange (measured: 3 sorts of the 2.6M-row frame
        # at sf1.0 shape).  Cost/benefit at any scale: one extra
        # shuffle WRITE of the post-cap bytes (<= the input stream,
        # minus the hot-shingle mass) buys removing two full
        # sort+window passes — and the three consumers then read the
        # smaller capped stream instead of the raw one.
        sh = sh.repartition(n_part, "sh")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_common", "jaccard")
    )
