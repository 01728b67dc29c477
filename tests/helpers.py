"""Shared helpers for the engine-vs-oracle parity suite."""

from __future__ import annotations

import time

from web_crawler_spark.corpus import good_seeds  # noqa: F401 — re-export
from web_crawler_spark.oracle import OracleResult
from web_crawler_spark.store import SnapshotStore


def engine_state(spark, store: SnapshotStore, crawl_id: str):
    """(nodes, edges) of a crawl as comparable plain structures."""
    nodes = {
        r.full_key: (
            r.name, r.http_type, r.depth, r.status, r.attempts,
            r.wave, r.domain, r.ip, r.request_time,
        )
        for r in store.frontier(spark, crawl_id).collect()
    }
    edges = {(r.src, r.dst, r.wave) for r in store.edges(spark, crawl_id).collect()}
    return nodes, edges


def oracle_state(res: OracleResult):
    nodes = {
        k: (
            n.name, n.http_type, n.depth, n.status, n.attempts,
            n.wave, n.domain, n.ip, n.request_time,
        )
        for k, n in res.nodes.items()
    }
    edges = {(s, d, w) for s, d, w in res.edges}
    return nodes, edges


def assert_parity(spark, store, crawl_id, oracle_res):
    s_nodes, s_edges = engine_state(spark, store, crawl_id)
    o_nodes, o_edges = oracle_state(oracle_res)
    assert set(s_nodes) == set(o_nodes), (
        f"seen-set mismatch: only-spark={sorted(set(s_nodes) - set(o_nodes))[:5]} "
        f"only-oracle={sorted(set(o_nodes) - set(s_nodes))[:5]}"
    )
    diffs = {k: (s_nodes[k], o_nodes[k]) for k in o_nodes if s_nodes[k] != o_nodes[k]}
    assert not diffs, f"node attr mismatches: {dict(list(diffs.items())[:5])}"
    assert s_edges == o_edges, f"edge mismatch: {sorted(s_edges ^ o_edges)[:8]}"


def stored_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs that hold blocks in the block manager: caches and
    local checkpoints alike."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def assert_released(spark, before: set[int], timeout_s: float = 5.0) -> None:
    """Every RDD stored since ``before`` was taken is freed within
    ``timeout_s`` (unpersisting is asynchronous)."""
    deadline = time.monotonic() + timeout_s
    while (leaked := stored_rdd_ids(spark) - before) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not leaked, f"RDDs still stored after the crawl: {sorted(leaked)}"
