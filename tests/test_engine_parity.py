"""Spark engine vs sequential oracle: exact-state parity.

The primary correctness gate of the whole build (BASELINE.json: "matching
the reference's crawl ordering and URL-seen set under the same seed list +
politeness budget").  Every test runs the full wave engine on a snapshot
store and compares the complete frontier (all 9 node attributes including
depth/status/attempts/wave/domain/ip/request_time) and the edge set
against the deterministic oracle.
"""

from __future__ import annotations

import logging

import pytest

from tests.helpers import (
    assert_parity,
    assert_released,
    engine_state,
    good_seeds,
    oracle_state,
    stored_rdd_ids,
)
from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.corpus import CorpusParams, build_corpus_py, documents_df_from_py
from web_crawler_spark.engine import CrawlEngine
from web_crawler_spark.oracle import OracleCrawler
from web_crawler_spark.store import SnapshotStore

PARAMS = CorpusParams(n_docs=120)
CFG = CrawlConfig()


@pytest.fixture(scope="module")
def corpus():
    return build_corpus_py(PARAMS)


@pytest.fixture(scope="module")
def docs_df(spark, corpus):
    df = documents_df_from_py(spark, corpus).cache()
    df.count()
    yield df
    df.unpersist()


def test_parity_depth3(spark, corpus, docs_df, tmp_path, caplog):
    seed = good_seeds(corpus, CFG)[0]
    oracle = OracleCrawler(corpus, CFG).crawl(seed, 3, crawl_id="c")
    store = SnapshotStore(tmp_path / "s")
    before = stored_rdd_ids(spark)
    eng = CrawlEngine(spark, store, docs_df, CFG)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "caller-group")
    try:
        with caplog.at_level("ERROR", logger="web_crawler_spark.engine"):
            cid = eng.start_crawl(seed, 3, crawl_id="c")
            meta = eng.run_crawl(cid)
        # the waves' job groups never leak into the caller's thread
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert meta["status"] == "completed"
    # every frontier checkpoint and wave cache the crawl stored is freed,
    # and so is the engine's corpus copy once the engine is closed
    eng.close()
    assert_released(spark, before)
    # the wave-arithmetic invariant held on every wave
    assert not [
        r for r in caplog.records
        if r.name == "web_crawler_spark.engine" and r.levelno >= logging.ERROR
    ]
    assert_parity(spark, store, cid, oracle)
    # wave metrics parity on the totals rows: every total the oracle keeps
    m = {
        r.wave: r.asDict()
        for r in store.metrics(spark, cid).filter("partition_id = -1").collect()
    }
    assert sorted(m) == [om["wave"] for om in oracle.wave_metrics]
    for om in oracle.wave_metrics:
        for key, want in om.items():
            assert m[om["wave"]][key] == want, f"wave {om['wave']} {key}"
    # every committed wave records its phase timings and its own Spark jobs
    phases = {"plan", "union_build", "write", "bloom_upd", "fold"}
    seen_ids: set[int] = set()
    for w in store.committed_waves(cid):
        summary = store.wave_summary(cid, w)
        phase_ms = summary["phase_ms"]
        assert set(phase_ms) == phases, (w, phase_ms)
        assert all(v >= 0 for v in phase_ms.values()), (w, phase_ms)
        job_ids = set(summary["job_ids"])
        assert job_ids, w
        assert not job_ids & seen_ids, (w, job_ids & seen_ids)
        seen_ids |= job_ids


def test_parity_politeness_budget(spark, corpus, docs_df, tmp_path):
    """Same seed + politeness budget => identical final state AND identical
    per-wave fetch schedule (the budget binds on shared base hosts)."""
    cfg = CrawlConfig(host_budget_per_wave=2, politeness_salt=4)
    seed = good_seeds(corpus, cfg)[0]
    oracle = OracleCrawler(corpus, cfg).crawl(seed, 3, crawl_id="c")
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, cfg)
    cid = eng.start_crawl(seed, 3, crawl_id="c")
    eng.run_crawl(cid)
    assert_parity(spark, store, cid, oracle)
    m = {
        r.wave: r.fetched
        for r in store.metrics(spark, cid).filter("partition_id = -1").collect()
    }
    assert m == {om["wave"]: om["fetched"] for om in oracle.wave_metrics}
    # the budget actually deferred work (more waves than the unbudgeted run)
    free = OracleCrawler(corpus, CFG).crawl(seed, 3)
    assert len(oracle.wave_metrics) > len(free.wave_metrics)


def test_parity_robots(spark, corpus, docs_df, tmp_path):
    """Robots rules apply whenever a robots table is given."""
    seed = good_seeds(corpus, CFG)[0]
    blocked = {"BASE-0001.TEST", "BASE-0003.TEST"}
    oracle = OracleCrawler(corpus, CFG, robots_disallowed=blocked).crawl(
        seed, 3, crawl_id="c"
    )
    robots_df = spark.createDataFrame(
        [(h, True) for h in blocked], "host string, disallowed boolean"
    )
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG, robots=robots_df)
    cid = eng.start_crawl(seed, 3, crawl_id="c")
    eng.run_crawl(cid)
    assert_parity(spark, store, cid, oracle)
    nodes, _ = engine_state(spark, store, cid)
    assert not any(".".join(k.split(".")[-2:]).split(":")[0] ==
                   b for k in nodes for b in blocked)
    # robots actually bit: unrestricted run reaches more URLs
    free = OracleCrawler(corpus, CFG).crawl(seed, 3)
    assert set(oracle.nodes) < set(free.nodes)


def test_parity_cancellation(spark, corpus, docs_df, tmp_path):
    seed = good_seeds(corpus, CFG)[0]
    oracle = OracleCrawler(corpus, CFG).crawl(
        seed, 4, crawl_id="c", cancel_after_wave=1
    )
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    cid = eng.start_crawl(seed, 4, crawl_id="c")
    eng.run_crawl(cid, max_waves=1)
    eng.cancel_crawl(cid)
    meta = eng.run_crawl(cid)
    assert meta["status"] == "cancelled"
    assert_parity(spark, store, cid, oracle)


def test_cancel_wave_folds_nothing(
    spark, corpus, docs_df, tmp_path, caplog, monkeypatch
):
    """The cancel wave commits the CANCELLED rows but folds no next
    frontier (no wave would read it), and the wave-arithmetic check
    still holds on it: nothing stays PENDING."""
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    cid = eng.start_crawl(good_seeds(corpus, CFG)[0], 4, crawl_id="c")
    eng.run_crawl(cid, max_waves=1)
    eng.cancel_crawl(cid)
    folded: list[int] = []
    fold = eng._fold_frontier

    def spy(prev, crawl_id, wave):
        folded.append(wave)
        return fold(prev, crawl_id, wave)

    monkeypatch.setattr(eng, "_fold_frontier", spy)
    with caplog.at_level("ERROR", logger="web_crawler_spark.engine"):
        meta = eng.run_crawl(cid)
    assert meta["status"] == "cancelled"
    assert folded == []
    assert not [
        r for r in caplog.records
        if r.name == "web_crawler_spark.engine" and r.levelno >= logging.ERROR
    ]
    assert store.committed_waves(cid) == [0, 1, 2]
    assert store.wave_summary(cid, 2)["cancelled"] > 0


def test_engine_leaves_session_conf_alone(spark, docs_df, tmp_path):
    """Building an engine changes no setting of the caller's session."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "10000")
    try:
        eng = CrawlEngine(spark, SnapshotStore(tmp_path / "s"), docs_df, CFG)
        eng.close()
        assert spark.conf.get(key) == "10000"
    finally:
        spark.conf.unset(key)


def test_cancel_with_nothing_pending(spark, corpus, docs_df, tmp_path):
    """A depth-1 crawl has no PENDING row after wave 0; cancelled before
    run_crawl, it still ends 'cancelled' (the oracle cancels before its
    empty-frontier check too) after one empty cancel wave."""
    seed = good_seeds(corpus, CFG)[0]
    oracle = OracleCrawler(corpus, CFG).crawl(
        seed, 1, crawl_id="c", cancel_after_wave=0
    )
    assert oracle.crawl_status == "cancelled"
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    cid = eng.start_crawl(seed, 1, crawl_id="c")
    eng.cancel_crawl(cid)
    assert eng.run_crawl(cid)["status"] == "cancelled"
    assert store.committed_waves(cid) == [0, 1]
    assert store.wave_summary(cid, 1)["fetched"] == 0
    assert_parity(spark, store, cid, oracle)


def test_resume_equals_uninterrupted(spark, corpus, docs_df, tmp_path):
    """Stop after each committed wave, resume with a fresh engine+store
    handle: final state identical to the one-shot run (ST2/ST3)."""
    seed = good_seeds(corpus, CFG)[1]
    store_a = SnapshotStore(tmp_path / "a")
    eng_a = CrawlEngine(spark, store_a, docs_df, CFG)
    cid = eng_a.start_crawl(seed, 3, crawl_id="c")
    eng_a.run_crawl(cid)

    store_b = SnapshotStore(tmp_path / "b")
    eng_b = CrawlEngine(spark, store_b, docs_df, CFG)
    eng_b.start_crawl(seed, 3, crawl_id="c")
    while True:
        # fresh handles each step = process restart between waves
        store_b = SnapshotStore(tmp_path / "b")
        eng_b = CrawlEngine(spark, store_b, docs_df, CFG)
        meta = eng_b.run_crawl(cid, max_waves=1)
        if meta["status"] != "running":
            break
    assert engine_state(spark, store_a, cid) == engine_state(spark, store_b, cid)


def test_resume_drops_uncommitted_wave(spark, corpus, docs_df, tmp_path):
    """A partial wave dir (crash before marker) is ignored by readers,
    cleaned on resume, and the wave re-runs deterministically."""
    seed = good_seeds(corpus, CFG)[0]
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    cid = eng.start_crawl(seed, 3, crawl_id="c")
    eng.run_crawl(cid, max_waves=1)
    committed = store.committed_waves(cid)
    # simulate a crash mid-wave-2: directory exists, no commit.json marker
    fake = store.wave_dir(cid, committed[-1] + 1) / "delta.parquet" / "kind=inserts"
    fake.mkdir(parents=True)
    (fake / "part-garbage.parquet").write_bytes(b"not parquet")
    assert store.committed_waves(cid) == committed  # invisible to readers
    eng.run_crawl(cid)
    oracle = OracleCrawler(corpus, CFG).crawl(seed, 3, crawl_id="c")
    assert_parity(spark, store, cid, oracle)


def test_crawl_isolation_same_store(spark, corpus, docs_df, tmp_path):
    """Two crawls in one store: per-crawl seen sets never interact
    (feeder/src/job.rs:137-165 crawl_id scoping)."""
    seeds = good_seeds(corpus, CFG)[:2]
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    c1 = eng.start_crawl(seeds[0], 2, crawl_id="c1")
    c2 = eng.start_crawl(seeds[1], 2, crawl_id="c2")
    eng.run_crawl(c1)
    eng.run_crawl(c2)
    o1 = OracleCrawler(corpus, CFG).crawl(seeds[0], 2, crawl_id="c1")
    o2 = OracleCrawler(corpus, CFG).crawl(seeds[1], 2, crawl_id="c2")
    assert_parity(spark, store, c1, o1)
    assert_parity(spark, store, c2, o2)
    assert set(store.list_crawls()) == {"c1", "c2"}


def test_failed_root(spark, corpus, docs_df, tmp_path):
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    cid = eng.start_crawl("HTTPS://NO-SUCH.BASE-9999.TEST", 3)
    meta = store.read_crawl_meta(cid)
    assert meta["status"] == "failed"
    assert eng.run_crawl(cid)["status"] == "failed"  # no-op on failed crawl
    nodes, edges = engine_state(spark, store, cid)
    assert nodes == {} and edges == set()


def test_depth_validation(spark, corpus, docs_df, tmp_path):
    eng = CrawlEngine(spark, SnapshotStore(tmp_path / "s"), docs_df, CFG)
    with pytest.raises(ValueError):
        eng.start_crawl("HTTPS://S00000.BASE-0000.TEST", 6)


def _fleet_member_state(spark, store, fleet_id, crawl_id):
    from pyspark.sql import functions as F

    frontier = store.frontier(spark, fleet_id).filter(F.col("crawl_id") == crawl_id)
    edges = store.edges(spark, fleet_id).filter(F.col("crawl_id") == crawl_id)
    nodes = {
        r.full_key: (
            r.name, r.http_type, r.depth, r.status, r.attempts,
            r.wave, r.domain, r.ip, r.request_time,
        )
        for r in frontier.collect()
    }
    return nodes, {(r.src, r.dst, r.wave) for r in edges.collect()}


def test_fleet_waves_parity_per_member(spark, corpus, docs_df, tmp_path):
    """Batched fleet waves: one wave job serves all crawls, yet every
    member's final state is bit-identical to its own independent oracle
    run — crawl_id scoping isolates dedup/windows/politeness per member.
    Includes a duplicated seed (two crawls of the same URL) and a dead
    seed (root admission failure) in the same fleet."""
    seeds = good_seeds(corpus, CFG)[:3]
    fleet_seeds = seeds + [seeds[0], "HTTPS://NO-SUCH.BASE-9999.TEST"]
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    fid = eng.start_fleet(fleet_seeds, 3, fleet_id="f")
    meta = eng.run_crawl(fid)
    assert meta["status"] == "completed"
    members = store.read_crawl_meta(fid)["members"]
    assert len(members) == 5
    assert store.read_crawl_meta(members[4])["status"] == "failed"
    for i, seed in enumerate(fleet_seeds[:4]):
        oracle = OracleCrawler(corpus, CFG).crawl(seed, 3, crawl_id=members[i])
        s_nodes, s_edges = _fleet_member_state(spark, store, fid, members[i])
        o_nodes, o_edges = oracle_state(oracle)
        assert set(s_nodes) == set(o_nodes), f"member {i} seen-set mismatch"
        assert s_nodes == o_nodes, f"member {i} node attrs mismatch"
        assert s_edges == o_edges, f"member {i} edges mismatch"
    # duplicated seed: both members crawled the same tree independently
    a = _fleet_member_state(spark, store, fid, members[0])[0]
    d = _fleet_member_state(spark, store, fid, members[3])[0]
    assert set(a) == set(d)


def test_fleet_member_cancellation(spark, corpus, docs_df, tmp_path):
    """Cancelling ONE fleet member mid-crawl (round-2 ADVICE: this was
    silently ignored): the member's PENDING rows become CANCELLED in an
    updates-only snapshot, its registry status reaches 'cancelled', and
    the OTHER members run to completion bit-identical to their oracles."""
    seeds = good_seeds(corpus, CFG)[:3]
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    fid = eng.start_fleet(seeds, 4, fleet_id="fc")
    members = store.read_crawl_meta(fid)["members"]
    eng.run_crawl(fid, max_waves=1)          # partial progress
    eng.cancel_crawl(members[1])             # cancel one member only
    assert store.read_crawl_meta(members[1])["status"] == "cancelling"
    meta = eng.run_crawl(fid)                # resumes, folds the cancel
    assert meta["status"] == "completed"
    assert store.read_crawl_meta(members[1])["status"] == "cancelled"
    # the cancelled member has no PENDING rows left, and every row it
    # did crawl is a subset of its oracle frontier
    c_nodes, _ = _fleet_member_state(spark, store, fid, members[1])
    assert all(v[3] != "PENDING" for v in c_nodes.values())
    assert any(v[3] == "CANCELLED" for v in c_nodes.values())
    oracle1 = OracleCrawler(corpus, CFG).crawl(seeds[1], 4, crawl_id=members[1])
    o_nodes1, _ = oracle_state(oracle1)
    assert set(c_nodes) <= set(o_nodes1)
    # untouched members still match their oracles exactly
    for i in (0, 2):
        oracle = OracleCrawler(corpus, CFG).crawl(seeds[i], 4, crawl_id=members[i])
        s_nodes, s_edges = _fleet_member_state(spark, store, fid, members[i])
        o_nodes, o_edges = oracle_state(oracle)
        assert s_nodes == o_nodes and s_edges == o_edges, f"member {i}"
        assert store.read_crawl_meta(members[i])["status"] == "completed"


def test_fleet_politeness_parity(spark, corpus, docs_df, tmp_path):
    """Fleet waves under a binding politeness budget still match each
    member's oracle (the budget window partitions by crawl_id, host)."""
    cfg = CrawlConfig(host_budget_per_wave=2, politeness_salt=4)
    seeds = good_seeds(corpus, cfg)[:2]
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, cfg)
    fid = eng.start_fleet(seeds, 3, fleet_id="fp")
    eng.run_crawl(fid)
    members = store.read_crawl_meta(fid)["members"]
    for i, seed in enumerate(seeds):
        oracle = OracleCrawler(corpus, cfg).crawl(seed, 3, crawl_id=members[i])
        s_nodes, s_edges = _fleet_member_state(spark, store, fid, members[i])
        o_nodes, o_edges = oracle_state(oracle)
        assert s_nodes == o_nodes and s_edges == o_edges, f"member {i}"


def test_fleet_cancellation(spark, corpus, docs_df, tmp_path):
    """Cancelling a whole fleet: one more wave, run even under
    ``max_waves=0``, flips every member's PENDING rows to CANCELLED.  The
    fleet and its live members end 'cancelled', each member equal to its
    own oracle cancelled after the same wave; a member whose root failed
    stays 'failed'."""
    seeds = good_seeds(corpus, CFG)[:2]
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    fid = eng.start_fleet(seeds + ["HTTPS://NO-SUCH.BASE-9999.TEST"], 4, fleet_id="fx")
    members = store.read_crawl_meta(fid)["members"]
    eng.run_crawl(fid, max_waves=1)
    eng.cancel_crawl(fid)
    assert eng.run_crawl(fid, max_waves=0)["status"] == "cancelled"
    assert store.read_crawl_meta(members[2])["status"] == "failed"
    for i, seed in enumerate(seeds):
        assert store.read_crawl_meta(members[i])["status"] == "cancelled"
        oracle = OracleCrawler(corpus, CFG).crawl(
            seed, 4, crawl_id=members[i], cancel_after_wave=1
        )
        s_nodes, s_edges = _fleet_member_state(spark, store, fid, members[i])
        assert all(v[3] != "PENDING" for v in s_nodes.values()), f"member {i}"
        assert (s_nodes, s_edges) == oracle_state(oracle), f"member {i}"


def test_fleet_cancel_only_pending_member(spark, corpus, docs_df, tmp_path):
    """Cancelling the only member with PENDING rows leaves a wave with no
    fetched parent: its totals are zero, not null, the member's rows flip
    to CANCELLED, and the fleet then completes."""
    seed = good_seeds(corpus, CFG)[0]
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs_df, CFG)
    fid = eng.start_fleet([seed], 4, fleet_id="f1")
    [member] = store.read_crawl_meta(fid)["members"]
    eng.run_crawl(fid, max_waves=1)
    eng.cancel_crawl(member)
    assert eng.run_crawl(fid)["status"] == "completed"
    assert store.read_crawl_meta(member)["status"] == "cancelled"
    summary = store.wave_summary(fid, 2)
    assert (summary["fetched"], summary["ok"], summary["parent_retries"]) == (0, 0, 0)
    assert summary["cancelled"] > 0
    oracle = OracleCrawler(corpus, CFG).crawl(
        seed, 4, crawl_id=member, cancel_after_wave=1
    )
    assert _fleet_member_state(spark, store, fid, member) == oracle_state(oracle)
