"""Deterministic fetch + DNS simulators.

The sandbox has no live network, and the 100 TB design point wants
reproducible tests anyway, so both external effects of the reference —
HTTP GET (shared/src/crawler.rs:18-51) and DNS resolution
(shared/src/dns.rs:15-48) — are simulated as *pure functions of the URL*,
keyed by ``xxhash64``.  Everything runs JVM-side as column expressions
(zero Python in the executors); the pure-Python twins below are used by the
sequential oracle so both sides compute bit-identical outcomes.

Fetch model (mirrors the reference's error taxonomy + retry semantics,
feeder/src/job.rs:97-133):

* URL has no document row  -> HTTP 404 (permanent: 4xx => immediate FAILED)
* otherwise a per-URL *transient-failure count* ``f`` is drawn from the
  hash: attempt number ``a`` (1-based) times out iff ``a <= f``.
  ``f`` distribution: 0 (82%), 1 (6%), 2 (4%), 3 (3%, dies at
  max_attempts=3), 99 (5%, always times out).
* success latency_ms = 50 + hash % 2000 (the reference stores the debug-
  formatted parent fetch duration on each child, feeder/src/job.rs:301).

DNS model (mirrors iterative domain shortening, shared/src/dns.rs:15-48):
a candidate suffix "resolves" iff ``pmod(xxhash64(lower(suffix) + tag),
1000) < dns_resolve_permille``; the first (shortest) resolving suffix
wins; ``domain`` = its left-most label, ``ip`` = 4 hash-derived octets.
Single-label names have no candidates and always fail, like the reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.urls import dns_candidates_py
from ..functions.xxh64 import pmod, xxhash64_str

# ---------------------------------------------------------------------------
# fetch simulation
# ---------------------------------------------------------------------------

_FAIL_BUCKETS = ((82, 0), (88, 1), (92, 2), (95, 3), (100, 99))


def transient_fail_count_col(full_url: Column, cfg: CrawlConfig) -> Column:
    """Number of leading attempts that time out for this URL (column expr)."""
    h = F.pmod(F.xxhash64(F.concat(full_url, F.lit("#fetch" + cfg.seed_tag))), F.lit(100))
    return (
        F.when(h < 82, F.lit(0))
        .when(h < 88, F.lit(1))
        .when(h < 92, F.lit(2))
        .when(h < 95, F.lit(3))
        .otherwise(F.lit(99))
    )


def transient_fail_count_py(full_url: str, cfg: CrawlConfig) -> int:
    h = pmod(xxhash64_str(full_url + "#fetch" + cfg.seed_tag), 100)
    for hi, f in _FAIL_BUCKETS:
        if h < hi:
            return f
    return 99


def latency_ms_col(full_url: Column, cfg: CrawlConfig) -> Column:
    return F.pmod(F.xxhash64(F.concat(full_url, F.lit("#lat" + cfg.seed_tag))), F.lit(2000)) + 50


def latency_ms_py(full_url: str, cfg: CrawlConfig) -> int:
    return pmod(xxhash64_str(full_url + "#lat" + cfg.seed_tag), 2000) + 50


def fetch_outcome_cols(
    full_url: Column, has_doc: Column, attempts_before: Column, cfg: CrawlConfig
) -> dict[str, Column]:
    """Fetch-attempt outcome columns for one wave.

    Returns dict with:
      fetch_ok   boolean — this attempt succeeded
      sim_status int     — 200 / 404 / 0 (0 = timeout)
      latency_ms long    — defined when fetch_ok
    """
    attempt_no = attempts_before + 1
    fail_n = transient_fail_count_col(full_url, cfg)
    timeout = has_doc & (attempt_no <= fail_n)
    ok = has_doc & (attempt_no > fail_n)
    status = F.when(~has_doc, F.lit(404)).when(timeout, F.lit(0)).otherwise(F.lit(200))
    return {
        "fetch_ok": ok,
        "sim_status": status,
        "latency_ms": latency_ms_col(full_url, cfg),
    }


def fetch_outcome_py(
    full_url: str, has_doc: bool, attempts_before: int, cfg: CrawlConfig
) -> tuple[bool, int, int]:
    """Python twin -> (fetch_ok, sim_status, latency_ms)."""
    if not has_doc:
        return False, 404, 0
    fail_n = transient_fail_count_py(full_url, cfg)
    if attempts_before + 1 <= fail_n:
        return False, 0, 0
    return True, 200, latency_ms_py(full_url, cfg)


# ---------------------------------------------------------------------------
# DNS simulation
# ---------------------------------------------------------------------------

def _suffix_resolves_col(suffix: Column, cfg: CrawlConfig) -> Column:
    h = F.pmod(
        F.xxhash64(F.concat(F.lower(suffix), F.lit("#dns" + cfg.seed_tag))), F.lit(1000)
    )
    return h < F.lit(cfg.dns_resolve_permille)


def _suffix_resolves_py(suffix: str, cfg: CrawlConfig) -> bool:
    h = pmod(xxhash64_str(suffix.lower() + "#dns" + cfg.seed_tag), 1000)
    return h < cfg.dns_resolve_permille


def dns_cols_unrolled(name: Column, cfg: CrawlConfig) -> dict[str, Column]:
    """DNS outcome columns via an UNROLLED when-chain — the one Spark form.

    ``max_dns_depth`` is a small constant (5), so the reference's
    iterative domain shortening (shared/src/dns.rs:15-48) unrolls into a
    fixed chain of ``substring_index``/``xxhash64`` scalar expressions:
    no arrays, no higher-order functions (which Spark evaluates
    interpreted, outside whole-stage codegen — the round-1 profile showed
    executor threads pinned in UTF8String.split), and no Python worker
    round-trip (the round-2 profile showed JVM task threads blocked on
    the Arrow socket).  Bit-identical to :func:`dns_py` (tested).

    Label count is length-difference arithmetic; ``substring_index(name,
    '.', -k)`` is the k-label suffix — shortest resolving suffix wins,
    exactly like the reference.
    """
    n_labels = (
        F.length(name) - F.length(F.replace(name, F.lit("."), F.lit(""))) + 1
    )
    chain = None
    for k in range(2, cfg.max_dns_depth + 1):
        cand = F.substring_index(name, ".", -k)
        cond = (n_labels >= k) & _suffix_resolves_col(cand, cfg)
        chain = F.when(cond, cand) if chain is None else chain.when(cond, cand)
    winner = chain  # first (shortest) resolving suffix, else NULL
    ok = winner.isNotNull()
    domain = F.substring_index(winner, ".", 1)
    h = F.xxhash64(F.concat(F.lower(winner), F.lit("#ip" + cfg.seed_tag)))
    ip = F.concat_ws(
        ".",
        (F.pmod(h, F.lit(223)) + 1).cast("string"),
        F.pmod(F.shiftright(h, 8), F.lit(256)).cast("string"),
        F.pmod(F.shiftright(h, 16), F.lit(256)).cast("string"),
        (F.pmod(F.shiftright(h, 24), F.lit(254)) + 1).cast("string"),
    )
    return {"dns_ok": ok, "domain": domain, "ip": F.when(ok, ip)}


def dns_py(name: str, cfg: CrawlConfig) -> tuple[bool, str | None, str | None]:
    """Python twin -> (dns_ok, domain, ip)."""
    for cand in dns_candidates_py(name, cfg.max_dns_depth):
        if _suffix_resolves_py(cand, cfg):
            h = xxhash64_str(cand.lower() + "#ip" + cfg.seed_tag)
            # Python's >> on negative ints is an arithmetic shift over two's
            # complement, matching Java's >> used by Spark's shiftright.
            ip = ".".join(
                str(o)
                for o in (
                    pmod(h, 223) + 1,
                    pmod(h >> 8, 256),
                    pmod(h >> 16, 256),
                    pmod(h >> 24, 254) + 1,
                )
            )
            return True, cand.split(".")[0], ip
    return False, None, None
