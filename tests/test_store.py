"""Snapshot-store unit behaviors: commit visibility, merge-on-read,
multi-crawl reads, meta atomicity."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_crawler_spark.store import (
    FRONTIER_SCHEMA,
    UPDATES_SCHEMA,
    SnapshotStore,
)


def _write(store, df, crawl_id, wave, kind):
    """Write one ``kind`` delta the way a wave writes all of its deltas."""
    store.write_delta_union(df.withColumn("kind", F.lit(kind)), crawl_id, wave)


def _frontier_row(cid, h, key, status="PENDING", attempts=0, wave=0):
    return (cid, h, key, key[8:], "HTTPS://", "d", "1.2.3.4", 1, 3,
            status, attempts, wave, "1ms")


def test_merge_on_read_latest_update_wins(spark, tmp_path):
    store = SnapshotStore(tmp_path)
    store.write_crawl_meta({"crawl_id": "c", "status": "running"})
    ins = spark.createDataFrame(
        [_frontier_row("c", 1, "HTTPS://A.TEST"), _frontier_row("c", 2, "HTTPS://B.TEST")],
        FRONTIER_SCHEMA,
    )
    _write(store, ins, "c", 0, "inserts")
    store.commit_wave("c", 0, {})
    # wave 1: A -> PENDING attempts=1 ; wave 2: A -> COMPLETED
    u1 = spark.createDataFrame([("c", 1, "HTTPS://A.TEST", "PENDING", 1, 1)], UPDATES_SCHEMA)
    _write(store, u1, "c", 1, "updates")
    store.commit_wave("c", 1, {})
    u2 = spark.createDataFrame([("c", 1, "HTTPS://A.TEST", "COMPLETED", 1, 2)], UPDATES_SCHEMA)
    _write(store, u2, "c", 2, "updates")
    store.commit_wave("c", 2, {})

    rows = {r.full_key: (r.status, r.attempts) for r in store.frontier(spark, "c").collect()}
    assert rows == {
        "HTTPS://A.TEST": ("COMPLETED", 1),   # latest update wins
        "HTTPS://B.TEST": ("PENDING", 0),     # untouched insert
    }


def test_uncommitted_wave_invisible_and_cleaned(spark, tmp_path):
    store = SnapshotStore(tmp_path)
    store.write_crawl_meta({"crawl_id": "c", "status": "running"})
    ins = spark.createDataFrame([_frontier_row("c", 1, "HTTPS://A.TEST")], FRONTIER_SCHEMA)
    _write(store, ins, "c", 0, "inserts")
    store.commit_wave("c", 0, {})
    # wave 1 written but NOT committed
    ins2 = spark.createDataFrame([_frontier_row("c", 2, "HTTPS://B.TEST")], FRONTIER_SCHEMA)
    _write(store, ins2, "c", 1, "inserts")
    assert store.committed_waves("c") == [0]
    assert store.frontier(spark, "c").count() == 1
    dropped = store.clean_uncommitted("c")
    assert dropped == [1]
    assert not store.wave_dir("c", 1).exists()


def test_frontier_all_unions_crawls(spark, tmp_path):
    store = SnapshotStore(tmp_path)
    for cid, h in [("c1", 1), ("c2", 2)]:
        store.write_crawl_meta({"crawl_id": cid, "status": "running"})
        ins = spark.createDataFrame(
            [_frontier_row(cid, h, f"HTTPS://{cid.upper()}.TEST")], FRONTIER_SCHEMA
        )
        _write(store, ins, cid, 0, "inserts")
        store.commit_wave(cid, 0, {})
    assert store.frontier_all(spark).count() == 2
    assert store.list_crawls() == ["c1", "c2"]


def test_meta_roundtrip_and_summary(spark, tmp_path):
    store = SnapshotStore(tmp_path)
    meta = {"crawl_id": "c", "status": "running", "requested_depth": 3}
    store.write_crawl_meta(meta)
    assert store.read_crawl_meta("c") == meta
    ins = spark.createDataFrame([], FRONTIER_SCHEMA)
    _write(store, ins, "c", 0, "inserts")
    store.commit_wave("c", 0, {"children": 0})
    assert store.wave_summary("c", 0)["children"] == 0


# ---------------------------------------------------------------------------
# compaction (round-4; Iceberg rewrite_data_files twin)
# ---------------------------------------------------------------------------

def test_compact_preserves_state_and_gcs_wave_dirs(spark, tmp_path):
    store = SnapshotStore(tmp_path)
    store.write_crawl_meta({"crawl_id": "c", "status": "running"})
    ins = spark.createDataFrame(
        [_frontier_row("c", 1, "HTTPS://A.TEST"), _frontier_row("c", 2, "HTTPS://B.TEST")],
        FRONTIER_SCHEMA,
    )
    _write(store, ins, "c", 0, "inserts")
    store.commit_wave("c", 0, {})
    u1 = spark.createDataFrame(
        [("c", 1, "HTTPS://A.TEST", "COMPLETED", 1, 1)], UPDATES_SCHEMA
    )
    _write(store, u1, "c", 1, "updates")
    store.commit_wave("c", 1, {})
    before = {
        r.full_key: (r.status, r.attempts, r.wave)
        for r in store.frontier(spark, "c").collect()
    }
    n_metrics = store.metrics(spark, "c").count()

    assert store.compact(spark, "c") == 1
    # folded deltas are gone; every commit marker stays, and so does the
    # resume point
    assert store.committed_waves("c") == [0, 1]
    assert store.last_committed_wave("c") == 1
    assert not any(
        (store.wave_dir("c", w) / "delta.parquet").exists() for w in (0, 1)
    )
    # state identical through the same reader APIs (discovery wave kept)
    after = {
        r.full_key: (r.status, r.attempts, r.wave)
        for r in store.frontier(spark, "c").collect()
    }
    assert after == before
    assert store.metrics(spark, "c").count() == n_metrics

    # post-compaction deltas still override the folded base state
    u2 = spark.createDataFrame(
        [("c", 2, "HTTPS://B.TEST", "FAILED", 3, 2)], UPDATES_SCHEMA
    )
    _write(store, u2, "c", 2, "updates")
    store.commit_wave("c", 2, {})
    rows = {r.full_key: r.status for r in store.frontier(spark, "c").collect()}
    assert rows == {"HTTPS://A.TEST": "COMPLETED", "HTTPS://B.TEST": "FAILED"}
    assert store.last_committed_wave("c") == 2

    # second compaction folds base + the new delta, drops the old base
    assert store.compact(spark, "c") == 2
    assert store.current_base("c")[0] == 2
    # nothing newer than the base: no fold, the base stays
    assert store.compact(spark, "c") is None
    assert store.current_base("c")[0] == 2
    rows = {r.full_key: r.status for r in store.frontier(spark, "c").collect()}
    assert rows == {"HTTPS://A.TEST": "COMPLETED", "HTTPS://B.TEST": "FAILED"}


def test_crawl_compacts_mid_run_and_resumes(spark, tmp_path):
    """End-to-end: a crawl with store_compact_every_waves=2 compacts while
    running, is interruptible + resumable across a compaction boundary,
    and ends bit-identical to an uncompacted twin."""
    from tests.helpers import engine_state, good_seeds
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.corpus import (
        CorpusParams,
        build_corpus_py,
        documents_df_from_py,
    )
    from web_crawler_spark.engine import CrawlEngine

    corpus = build_corpus_py(CorpusParams(n_docs=60))
    docs = documents_df_from_py(spark, corpus).cache()
    cfg_c = CrawlConfig(store_compact_every_waves=2)
    cfg_p = CrawlConfig()
    seed = good_seeds(corpus, cfg_p)[0]

    store_c = SnapshotStore(tmp_path / "compacted")
    eng_c = CrawlEngine(spark, store_c, docs, cfg_c)
    cid = eng_c.start_crawl(seed, 3, crawl_id="c")
    # run two waves, stop (compaction fired at wave 2), then RESUME with a
    # fresh engine instance — the resume point comes from the base marker
    eng_c.run_crawl(cid, max_waves=2)
    assert store_c.current_base(cid) is not None
    eng2 = CrawlEngine(spark, store_c, docs, cfg_c, prepared=False)
    meta = eng2.run_crawl(cid)
    assert meta["status"] == "completed"

    store_p = SnapshotStore(tmp_path / "plain")
    eng_p = CrawlEngine(spark, store_p, docs, cfg_p)
    eng_p.start_crawl(seed, 3, crawl_id="c")
    eng_p.run_crawl("c")
    docs.unpersist()
    assert engine_state(spark, store_c, cid) == engine_state(spark, store_p, "c")


def test_markerless_base_dir_gcd(spark, tmp_path):
    """A compact() that crashed before writing _BASE leaves a marker-less
    base_v dir; both clean_uncommitted and the next compact() (at ANY
    upto wave) must remove it (round-4 ADVICE)."""
    store = SnapshotStore(tmp_path)
    store.write_crawl_meta({"crawl_id": "c", "status": "running"})
    ins = spark.createDataFrame(
        [_frontier_row("c", 1, "HTTPS://A.TEST")], FRONTIER_SCHEMA
    )
    _write(store, ins, "c", 0, "inserts")
    store.commit_wave("c", 0, {})
    # crashed attempt at a DIFFERENT wave number than the next compact
    stale = store.crawl_dir("c") / "base_v99999"
    (stale / "frontier.parquet").mkdir(parents=True)
    assert store.current_base("c") is None  # invisible to readers
    assert store.last_committed_wave("c") == 0
    store.clean_uncommitted("c")
    assert not stale.exists()
    # and via compact() directly
    stale2 = store.crawl_dir("c") / "base_v00777"
    stale2.mkdir(parents=True)
    assert store.compact(spark, "c") == 0
    assert not stale2.exists()
    assert store.current_base("c")[0] == 0


def test_compact_safe_with_cache_eviction_mid_run(spark, tmp_path):
    """round-4 ADVICE (medium): store.compact() GCs the wave delta files
    a frontier's lineage would reference; if a cache is evicted, no later
    read may recompute from the deleted files (FileNotFoundError).  Every
    wave's frontier is a local checkpoint, whose lineage reaches no wave
    file, so compaction needs no truncation of its own.  Simulated by
    clearing every Spark cache right after each compaction: the crawl
    must finish in the same state as an uncompacted one."""
    from tests.helpers import engine_state, good_seeds
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.corpus import (
        CorpusParams,
        build_corpus_py,
        documents_df_from_py,
    )
    from web_crawler_spark.engine import CrawlEngine

    corpus = build_corpus_py(CorpusParams(n_docs=60))
    docs = documents_df_from_py(spark, corpus).cache()
    cfg = CrawlConfig(store_compact_every_waves=2)
    seed = good_seeds(corpus, cfg)[0]
    store = SnapshotStore(tmp_path / "evict")

    orig_compact = store.compact

    def compact_then_evict(sess, crawl_id):
        upto = orig_compact(sess, crawl_id)
        # evict every cached block: any later read of a cache must
        # recompute — from the checkpointed frontier, not deleted files
        sess.catalog.clearCache()
        return upto

    store.compact = compact_then_evict
    eng = CrawlEngine(spark, store, docs, cfg)
    cid = eng.start_crawl(seed, 4, crawl_id="c")
    meta = eng.run_crawl(cid)
    assert meta["status"] == "completed"

    store_p = SnapshotStore(tmp_path / "plain")
    eng_p = CrawlEngine(spark, store_p, docs, CrawlConfig())
    eng_p.start_crawl(seed, 4, crawl_id="c")
    eng_p.run_crawl("c")
    docs.unpersist()
    assert engine_state(spark, store, cid) == engine_state(spark, store_p, "c")
