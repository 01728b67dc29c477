"""Bloom seen-set prefilter (J1 stage 1): no false negatives, sane FPP,
end-state equivalence of the bloom vs plain-join dedup paths, and the
round-3 partition-local distribution guarantees (per-task state is ONE
bucket's bitmap; state lives in files, never on the driver)."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.helpers import assert_released, engine_state, good_seeds, stored_rdd_ids
from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.corpus import CorpusParams, build_corpus_py, documents_df_from_py
from web_crawler_spark.engine import CrawlEngine
from web_crawler_spark.functions.xxh64 import xxhash64_str
from web_crawler_spark.operators.dedup import BloomState, _PartitionLocalTester
from web_crawler_spark.store import SnapshotStore

CFG = CrawlConfig()


def _keys_df(spark, keys):
    return spark.createDataFrame([(h,) for h in keys], "url_hash long")


def _verdicts(st, spark, members, others):
    """{(hash, kind): maybe_seen} of members ("m") and non-members ("o")
    through the partition-local verdict."""
    cand = spark.createDataFrame(
        [(h, "m") for h in members] + [(h, "o") for h in others],
        "child_hash long, kind string",
    )
    rows = st.verdict(cand, F.col("child_hash")).collect()
    assert len(rows) == len(members) + len(others)  # no rows lost/duplicated
    return {(r.child_hash, r.kind): r.maybe_seen for r in rows}


def test_no_false_negatives_and_low_fpp(spark, tmp_path):
    members = [xxhash64_str(f"member-{i}") for i in range(5000)]
    others = [xxhash64_str(f"other-{i}") for i in range(5000)]
    st = BloomState.build(
        _keys_df(spark, members), CFG, n_seen=len(members),
        root=tmp_path / "bloom", wave=0,
    )
    flagged = _verdicts(st, spark, members, others)
    # bloom property 1: every member is maybe_seen (no false negatives)
    assert all(flagged[(h, "m")] for h in members)
    # bloom property 2: false-positive rate is tiny at this load factor
    fp = sum(1 for h in others if flagged[(h, "o")])
    assert fp / len(others) < 0.01, f"FPP too high: {fp / len(others)}"


def test_empty_seen_set(spark, tmp_path):
    st = BloomState.build(
        _keys_df(spark, []), CFG, n_seen=0, root=tmp_path / "bloom", wave=0,
    )
    assert st.bucket_paths == {}
    flagged = _verdicts(st, spark, [], [123, 456])
    assert not any(flagged.values())


def test_adaptive_sizing_no_false_negatives(spark, tmp_path):
    """Capacity that follows the live seen-set size (bloom_min_seen=0,
    n_seen above the 2^17 floor) keeps the no-false-negative property
    and a bounded FPP at its design load."""
    n = 80_000
    cfg = CrawlConfig(bloom_min_seen=0)
    members = [xxhash64_str(f"m{i}") for i in range(n)]
    others = [xxhash64_str(f"o{i}") for i in range(n)]
    st = BloomState.build(
        _keys_df(spark, members), cfg, n_seen=n, root=tmp_path / "bloom", wave=0,
    )
    # sizing actually followed n_seen, not the floor or bloom_min_seen
    assert st.capacity == 2 * n
    flagged = _verdicts(st, spark, members, others)
    assert all(flagged[(h, "m")] for h in members)
    fp = sum(1 for h in others if flagged[(h, "o")])
    assert fp / n < 0.01, f"FPP too high: {fp / n}"


def test_probe_positions_distinct():
    """Double-hashing probes must not collapse onto one position."""
    from web_crawler_spark.operators.dedup import _probe_positions

    h = np.array([xxhash64_str(f"x{i}") for i in range(1000)], dtype=np.int64)
    p = _probe_positions(h, 2, 1 << 20)
    assert (p[0] != p[1]).mean() > 0.99


def test_dedup_buckets_must_be_pow2():
    assert CrawlConfig(dedup_buckets=32).dedup_buckets == 32
    with pytest.raises(ValueError, match="dedup_buckets"):
        CrawlConfig(dedup_buckets=12)


def test_bloom_sizing_bits_per_key_at_capacity():
    """Round-2 ADVICE: build() divided capacity by dedup_buckets twice,
    leaving bitmaps ~32x undersized at design capacity.  Assert the
    invariant directly: total bits across buckets >= bits_per_key *
    capacity for a design-point-sized state."""
    from web_crawler_spark.operators.dedup import _bucket_bits

    cfg = CrawlConfig()
    capacity = 2 * cfg.bloom_min_seen  # 10M keys — the design point
    per_bucket = max(1 << 12, -(-capacity // cfg.dedup_buckets))
    m_bits = _bucket_bits(cfg, per_bucket)
    total_bits = m_bits * cfg.dedup_buckets
    assert total_bits >= cfg.bloom_bits_per_key * capacity


def test_bloom_path_equals_plain_join_path(spark, tmp_path):
    """use_bloom_prefilter on/off produce bit-identical crawl state (the
    bloom is a pure physical optimization; the exact join absorbs FPs)."""
    params = CorpusParams(n_docs=80)
    corpus = build_corpus_py(params)
    docs = documents_df_from_py(spark, corpus).cache()
    seed = good_seeds(corpus, CFG)[0]
    states = {}
    for label, cfg in {
        # bloom_min_seen=0 forces the prefilter on despite the tiny corpus
        # (the engine otherwise skips it below the threshold)
        "bloom": CrawlConfig(use_bloom_prefilter=True, bloom_min_seen=0),
        "plain": CrawlConfig(use_bloom_prefilter=False),
    }.items():
        store = SnapshotStore(tmp_path / label)
        eng = CrawlEngine(spark, store, docs, cfg)
        cid = eng.start_crawl(seed, 2, crawl_id="c")
        eng.run_crawl(cid)
        states[label] = engine_state(spark, store, cid)
    docs.unpersist()
    assert states["bloom"] == states["plain"]


# ---------------------------------------------------------------------------
# partition-local state (BloomState)
# ---------------------------------------------------------------------------

def test_bloom_state_build_verdict_no_false_negatives(spark, tmp_path):
    members = [xxhash64_str(f"m{i}") for i in range(20_000)]
    others = [xxhash64_str(f"o{i}") for i in range(20_000)]
    st = BloomState.build(
        _keys_df(spark, members), CFG, n_seen=len(members),
        root=tmp_path / "bloom", wave=0,
    )
    flagged = _verdicts(st, spark, members, others)
    assert all(flagged[(h, "m")] for h in members)
    fp = sum(1 for h in others if flagged[(h, "o")])
    assert fp / len(others) < 0.01, f"FPP too high: {fp / len(others)}"


def test_bloom_state_is_partition_local(spark, tmp_path):
    """The architecture claims, asserted directly:
    1. state on disk = one file per non-empty bucket, each exactly
       m_bits/8 (+ npy header) — total_state/n_buckets per file;
    2. the verdict never holds more than ONE bucket bitmap resident
       (bucket-sorted batches stream through _PartitionLocalTester);
    3. nothing bloom-sized lives driver-side (manifest is paths only)."""
    keys = [xxhash64_str(f"k{i}") for i in range(50_000)]
    root = tmp_path / "bloom"
    st = BloomState.build(_keys_df(spark, keys), CFG, len(keys), root, wave=0)

    # (1) per-bucket files, each one bucket's bitmap
    bucket_bytes = st.m_bits // 8
    assert len(st.bucket_paths) == CFG.dedup_buckets
    for rel in st.bucket_paths.values():
        bm = np.load(root / rel)
        assert bm.nbytes == bucket_bytes
    # (3) the driver-held handle is a path dict, not bitmaps
    assert all(isinstance(p, str) for p in st.bucket_paths.values())

    # (2) bucket-contiguous batches => peak resident == ONE bucket
    tester = _PartitionLocalTester(
        str(root), st.bucket_paths, CFG.dedup_buckets, CFG.bloom_num_probes
    )
    h = np.array(keys, dtype=np.int64)
    buckets = h.astype(np.uint64) % np.uint64(CFG.dedup_buckets)
    order = np.argsort(buckets, kind="stable")  # what sortWithinPartitions does
    for chunk in np.array_split(h[order], 16):
        assert tester.test(chunk).all()  # members => maybe_seen
    assert tester.peak_resident_bytes == bucket_bytes
    # each bucket's file loaded ~once (contiguity), not once per batch
    assert tester.n_loads <= CFG.dedup_buckets + 16


def test_bloom_state_incremental_equals_full(spark, tmp_path):
    """Distributed delta OR == one full build at the same sizing (bit-set
    union is exact), and the incremental manifest carries untouched
    buckets forward by reference."""
    all_keys = [xxhash64_str(f"k{i}") for i in range(30_000)]
    half1, half2 = all_keys[:15_000], all_keys[15_000:]
    inc = BloomState.build(
        _keys_df(spark, half1), CFG, n_seen=len(half1),
        root=tmp_path / "inc", wave=0,
    )
    inc.update(_keys_df(spark, half2), wave=1)
    full = BloomState.build(
        _keys_df(spark, all_keys), CFG, n_seen=len(half1),  # same sizing
        root=tmp_path / "full", wave=0,
    )
    assert inc.m_bits == full.m_bits
    assert set(inc.bucket_paths) == set(full.bucket_paths)
    for b in inc.bucket_paths:
        a = np.load(tmp_path / "inc" / inc.bucket_paths[b])
        f = np.load(tmp_path / "full" / full.bucket_paths[b])
        assert (a == f).all(), f"bucket {b}"
    # no false negatives through the verdict's probe loop either
    tester = _PartitionLocalTester(
        str(tmp_path / "inc"), inc.bucket_paths, CFG.dedup_buckets,
        CFG.bloom_num_probes,
    )
    assert tester.test(np.array(all_keys, dtype=np.int64)).all()


def test_bloom_state_load_guards(spark, tmp_path):
    df = _keys_df(spark, [xxhash64_str(f"k{i}") for i in range(1000)])
    root = tmp_path / "bloom"
    st = BloomState.build(df, CrawlConfig(), n_seen=1000, root=root, wave=7)
    loaded = BloomState.load(root, CrawlConfig(), expect_wave=7)
    assert loaded is not None and loaded.m_bits == st.m_bits
    assert loaded.bucket_paths == st.bucket_paths
    # stale state (wrong wave) must be rejected -> full rebuild instead
    assert BloomState.load(root, CrawlConfig(), expect_wave=8) is None
    # geometry change (bucket count / probes) would produce false
    # negatives under the new math -> rejected (round-2 ADVICE)
    assert BloomState.load(root, CrawlConfig(dedup_buckets=64), 7) is None
    assert BloomState.load(root, CrawlConfig(bloom_num_probes=3), 7) is None
    # missing dir
    assert BloomState.load(tmp_path / "nope", CrawlConfig(), 7) is None
    # truncated/corrupt manifest (crash mid-save is the expected failure
    # mode of a best-effort cache) -> None, not an exception
    (root / BloomState.MANIFEST).write_text('{"wave": 7, "m_bi')
    assert BloomState.load(root, CrawlConfig(), 7) is None
    # manifest referencing a deleted bitmap file -> None
    st2_root = tmp_path / "bloom2"
    st2 = BloomState.build(df, CrawlConfig(), n_seen=1000, root=st2_root, wave=3)
    some_rel = next(iter(st2.bucket_paths.values()))
    (st2_root / some_rel).unlink()
    assert BloomState.load(st2_root, CrawlConfig(), 3) is None


def test_bloom_state_gc_drops_stale_versions(spark, tmp_path):
    """Version GC with ONE-update deferral (round-3 ADVICE): dirs live in
    the current or immediately-previous manifest survive; older ones are
    collected — and a verdict taken before an update stays computable
    across that update (its captured bucket files still exist)."""
    root = tmp_path / "bloom"
    st = BloomState.build(
        _keys_df(spark, [xxhash64_str(f"k{i}") for i in range(2000)]),
        CFG, 2000, root, wave=0,
    )
    prev_live: set[str] = set()
    for w in (1, 2, 3):
        prev_live = {p.split("/", 1)[0] for p in st.bucket_paths.values()}
        # verdict BEFORE the update, collected AFTER it — the public
        # sequence immediate GC broke with task-level FileNotFoundError
        cand = _keys_df(spark, [xxhash64_str(f"k{i}") for i in range(50)])
        v = st.verdict(cand, F.col("url_hash"))
        st.update(
            _keys_df(spark, [xxhash64_str(f"d{w}-{i}") for i in range(500)]), w
        )
        assert all(r.maybe_seen for r in v.collect())  # still readable
    live = {p.split("/", 1)[0] for p in st.bucket_paths.values()}
    on_disk = {d.name for d in root.iterdir() if d.is_dir()}
    assert live <= on_disk <= live | prev_live  # one-version deferral only
    m = json.loads((root / BloomState.MANIFEST).read_text())
    assert m["wave"] == 3


def test_bloom_resume_with_persisted_state(spark, tmp_path):
    """Crash/resume across waves with the partition-local bloom forced
    on: resume loads (or safely rebuilds) the file-backed state and the
    final crawl state matches the no-bloom twin bit-exactly.  Both runs
    free every checkpoint they stored, the bloom waves' flagged
    candidate sets included."""
    params = CorpusParams(n_docs=80)
    corpus = build_corpus_py(params)
    docs = documents_df_from_py(spark, corpus).cache()
    cfg = CrawlConfig(use_bloom_prefilter=True, bloom_min_seen=0)
    seed = good_seeds(corpus, cfg)[0]
    store = SnapshotStore(tmp_path / "a")
    eng = CrawlEngine(spark, store, docs, cfg)
    eng.documents.count()  # the corpus caches outlive the crawls
    before = stored_rdd_ids(spark)
    cid = eng.start_crawl(seed, 3, crawl_id="c")
    eng.run_crawl(cid, max_waves=2)          # stop mid-crawl
    # persisted manifest matches the last committed wave
    st = BloomState.load(store.crawl_dir(cid) / "bloom", cfg, expect_wave=2)
    assert st is not None and st.wave == 2
    eng2 = CrawlEngine(spark, store, docs, cfg)   # fresh engine => resume
    eng2.run_crawl(cid)
    assert_released(spark, before)
    plain_store = SnapshotStore(tmp_path / "b")
    eng3 = CrawlEngine(
        spark, plain_store, docs, CrawlConfig(use_bloom_prefilter=False)
    )
    cid3 = eng3.start_crawl(seed, 3, crawl_id="c")
    eng3.run_crawl(cid3)
    docs.unpersist()
    assert engine_state(spark, store, cid) == engine_state(spark, plain_store, cid3)


def test_partition_local_tester_unit():
    """Pure-unit check of the one-resident-bitmap streaming contract."""
    import os

    import tempfile

    cfg = CrawlConfig()
    with tempfile.TemporaryDirectory() as d:
        m_bits = 1 << 12
        keys = np.array([xxhash64_str(f"u{i}") for i in range(512)], np.int64)
        buckets = keys.astype(np.uint64) % np.uint64(cfg.dedup_buckets)
        paths = {}
        os.makedirs(os.path.join(d, "v0"))
        from web_crawler_spark.operators.dedup import (
            _probe_positions,
            _set_bits,
        )

        for b in np.unique(buckets):
            bm = np.zeros(m_bits // 64, np.uint64)
            hb = keys[buckets == b].astype(np.uint64)
            for pos in _probe_positions(hb, cfg.bloom_num_probes, m_bits):
                _set_bits(bm, pos)
            rel = f"v0/b{int(b):05d}.npy"
            np.save(os.path.join(d, rel), bm)
            paths[int(b)] = rel
        t = _PartitionLocalTester(d, paths, cfg.dedup_buckets, cfg.bloom_num_probes)
        order = np.argsort(buckets, kind="stable")
        out = t.test(keys[order])
        assert out.all()
        assert t.peak_resident_bytes == m_bits // 8
        assert t.n_loads == len(paths)  # each bucket file read exactly once


# ---------------------------------------------------------------------------
# adaptive payoff gate (round-4: measured-cut auto-disable)
# ---------------------------------------------------------------------------

def test_bloom_min_cut_frac_validated():
    with pytest.raises(ValueError, match="bloom_min_cut_frac"):
        CrawlConfig(bloom_min_cut_frac=1.5)
    with pytest.raises(ValueError, match="bloom_min_cut_frac"):
        CrawlConfig(bloom_min_cut_frac=-0.1)


@pytest.mark.parametrize(
    "kwargs, field",
    [
        ({"bloom_distribution": "broadcast"}, "bloom_distribution"),
        ({"bloom_distribution": "partition-local"}, "bloom_distribution"),
        ({"compact_shuffle_keys": True}, "compact_shuffle_keys"),
        ({"compact_every_waves": 4}, "compact_every_waves"),
    ],
)
def test_removed_plan_switches_fail_at_construction(kwargs, field):
    """Removed alternates (and typos of the surviving value) fail when the
    config is built, not mid-crawl."""
    with pytest.raises(ValueError, match=field):
        CrawlConfig(**kwargs)


def test_bench_config_shape_constructs():
    """bench.py passes the retired switches explicitly, at their surviving
    values."""
    cfg = CrawlConfig(
        bloom_distribution="partition_local",
        compact_shuffle_keys=False,
        compact_every_waves=8,
    )
    assert cfg == CrawlConfig()


def test_bloom_adaptive_gate_disables_in_dup_regime(spark, tmp_path, monkeypatch):
    """A bloom over the seen set can only certify definitely-NOT-seen
    candidates; when a wave's measured cut falls below
    bloom_min_cut_frac the engine must drop the prefilter for the rest
    of the crawl (sticky), with crawl output unchanged.  Gate disabled
    (frac=0) keeps the prefilter active for every wave — the control."""
    import web_crawler_spark.engine as engine_mod

    monkeypatch.setattr(engine_mod, "BLOOM_GATE_MIN_SAMPLE", 1)
    params = CorpusParams(n_docs=80)
    corpus = build_corpus_py(params)
    docs = documents_df_from_py(spark, corpus).cache()
    seed = good_seeds(corpus, CFG)[0]

    def run(label, cfg):
        store = SnapshotStore(tmp_path / label)
        eng = CrawlEngine(spark, store, docs, cfg)
        cid = eng.start_crawl(seed, 3, crawl_id="c")
        eng.run_crawl(cid)
        per_wave = [
            int(store.wave_summary(cid, w).get("bloom_candidates") or 0)
            for w in store.committed_waves(cid)
        ]
        return engine_state(spark, store, cid), per_wave

    # cut threshold impossibly high => first measured wave trips the gate
    gated_state, gated_waves = run("gated", CrawlConfig(
        use_bloom_prefilter=True, bloom_min_seen=0, bloom_min_cut_frac=0.999,
    ))
    control_state, control_waves = run("control", CrawlConfig(
        use_bloom_prefilter=True, bloom_min_seen=0, bloom_min_cut_frac=0.0,
    ))
    plain_state, plain_waves = run("plain", CrawlConfig(
        use_bloom_prefilter=False,
    ))
    docs.unpersist()

    # output identical across all three paths (gate is physical-only)
    assert gated_state == control_state == plain_state
    # control: prefilter tested candidates on every post-root wave that
    # had any; plain: never
    assert sum(control_waves) > 0
    assert sum(plain_waves) == 0
    # gated: the prefilter went sticky-off strictly before the crawl's
    # last bloom-active wave in the control (the crawls themselves are
    # deterministic, so the wave lists align)
    assert len(gated_waves) == len(control_waves)
    last_gated = max(i for i, n in enumerate(gated_waves) if n > 0)
    last_control = max(i for i, n in enumerate(control_waves) if n > 0)
    assert last_gated < last_control, (gated_waves, control_waves)
    assert sum(gated_waves) < sum(control_waves)


def test_bloom_gate_trip_persists_across_resume(spark, tmp_path, monkeypatch):
    """round-4 ADVICE: the adaptive-gate decision was in-memory only, so
    every resume re-built the O(frontier) BloomState and re-paid the
    one-wave measurement before re-tripping.  The trip is now persisted
    in the crawl meta; a resume starts with the prefilter already off,
    the stale on-disk bucket state deleted, and zero candidates tested
    on the resumed waves.  Final state stays oracle-parity-identical."""
    import web_crawler_spark.engine as engine_mod

    monkeypatch.setattr(engine_mod, "BLOOM_GATE_MIN_SAMPLE", 1)
    params = CorpusParams(n_docs=80)
    corpus = build_corpus_py(params)
    docs = documents_df_from_py(spark, corpus).cache()
    seed = good_seeds(corpus, CFG)[0]
    cfg = CrawlConfig(
        use_bloom_prefilter=True, bloom_min_seen=0, bloom_min_cut_frac=0.999,
    )
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs, cfg)
    cid = eng.start_crawl(seed, 3, crawl_id="c")
    # run until the gate trips (first measured wave, threshold 0.999)
    eng.run_crawl(cid, max_waves=2)
    meta = store.read_crawl_meta(cid)
    assert meta.get("bloom_gate_tripped"), "gate should have tripped"
    trip_wave = meta["bloom_gate_tripped"]
    assert not (store.crawl_dir(cid) / "bloom").exists(), (
        "stale bucket state must be deleted on trip"
    )
    # resume with a FRESH engine: the persisted trip must hold — no
    # rebuild, no candidates tested on any resumed wave
    eng2 = CrawlEngine(spark, store, docs, cfg, prepared=False)
    meta2 = eng2.run_crawl(cid)
    assert meta2["status"] == "completed"
    assert not (store.crawl_dir(cid) / "bloom").exists()
    for w in store.committed_waves(cid):
        if w > trip_wave:
            s = store.wave_summary(cid, w)
            assert int(s.get("bloom_candidates") or 0) == 0, (w, s)
    # physical-only: end state identical to the plain-join crawl
    store_p = SnapshotStore(tmp_path / "p")
    eng_p = CrawlEngine(spark, store_p, docs, CrawlConfig(use_bloom_prefilter=False))
    eng_p.start_crawl(seed, 3, crawl_id="c")
    eng_p.run_crawl("c")
    docs.unpersist()
    assert engine_state(spark, store, cid) == engine_state(spark, store_p, "c")
