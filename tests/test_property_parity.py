"""Property-based engine-vs-oracle parity across the config space.

round-4 VERDICT #5: the corpus-shape knobs and the adaptive bloom gate
multiply the configuration space, but the parity pins were fixed-seed.
This suite draws seeded random (CorpusParams, CrawlConfig, depth) combos
— varying dup regime, host skew, politeness budget, bloom prefilter
and gate, and store-compaction cadence — and asserts
the full engine state (all 9 node attributes + the edge set) equals the
sequential oracle on each.  Seeds are FIXED (random.Random(combo_idx)):
failures are reproducible, and every CI run covers the same 12 points.
"""

from __future__ import annotations

import random

import pytest

from tests.helpers import assert_parity, good_seeds
from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.corpus import CorpusParams, build_corpus_py, documents_df_from_py
from web_crawler_spark.engine import CrawlEngine
from web_crawler_spark.oracle import OracleCrawler
from web_crawler_spark.store import SnapshotStore

N_COMBOS = 12


def _draw(idx: int) -> tuple[CorpusParams, CrawlConfig, int]:
    r = random.Random(1000 + idx)
    params = CorpusParams(
        n_docs=r.randint(50, 140),
        dead_link_pct=r.choice([0, 8, 25]),
        urls_per_host=r.choice([2, 4, 8, 12]),      # host skew regime
        links_per_span_max=r.randint(2, 6),
        spans_min=r.randint(1, 3),
        spans_max=r.randint(4, 9),
        hot_pct=r.choice([5, 25, 60]),              # hot-domain skew
        dup_pct=r.choice([0, 12, 45, 70]),          # dup regime
        www_pct=r.choice([0, 15, 40]),
        lower_pct=r.choice([20, 80, 100]),
        seed_tag=f"prop{idx}",
    )
    bloom_on = r.random() < 0.5
    # draws in the same order as when the config had four more knobs
    # (bloom distribution, hash-keyed distinct, broadcast fold, lineage-
    # checkpoint cadence): their draws are consumed and discarded so
    # every combo stays the same
    host_budget = r.choice([None, 1, 2, 3])
    salt = r.choice([2, 4, 16])
    r.choice(["partition_local", "broadcast"])
    # gate half the bloom-on runs hard enough to trip mid-crawl
    min_cut = r.choice([0.0, 0.999])
    buckets = r.choice([4, 32])
    r.random()
    r.choice([2, 3, 8])
    store_compact = r.choice([None, 2, 3])
    r.choice([0, 10_000])
    cfg = CrawlConfig(
        host_budget_per_wave=host_budget,
        politeness_salt=salt,
        use_bloom_prefilter=bloom_on,
        bloom_min_seen=0 if bloom_on else 5_000_000,
        bloom_min_cut_frac=min_cut,
        dedup_buckets=buckets,
        store_compact_every_waves=store_compact,
    )
    depth = r.choice([2, 3, 3])
    return params, cfg, depth


@pytest.mark.parametrize("idx", range(N_COMBOS))
def test_engine_equals_oracle_random_combo(spark, tmp_path, monkeypatch, idx):
    import web_crawler_spark.engine as engine_mod

    monkeypatch.setattr(engine_mod, "BLOOM_GATE_MIN_SAMPLE", 1)
    params, cfg, depth = _draw(idx)
    corpus = build_corpus_py(params)
    seeds = good_seeds(corpus, cfg, limit=1)
    assert seeds, f"combo {idx}: no admissible seed (params={params})"
    seed = seeds[0]
    oracle = OracleCrawler(corpus, cfg).crawl(seed, depth, crawl_id="c")
    docs = documents_df_from_py(spark, corpus).cache()
    store = SnapshotStore(tmp_path / "s")
    eng = CrawlEngine(spark, store, docs, cfg)
    try:
        cid = eng.start_crawl(seed, depth, crawl_id="c")
        meta = eng.run_crawl(cid)
        assert meta["status"] == "completed", (idx, meta)
        assert_parity(spark, store, cid, oracle)
        # per-wave fetch schedule parity (ordering criterion, not just the
        # final set): the politeness budget and retries must bind the
        # same way wave-by-wave
        m = {
            r.wave: r.fetched
            for r in store.metrics(spark, cid)
            .filter("partition_id = -1")
            .collect()
        }
        assert m == {om["wave"]: om["fetched"] for om in oracle.wave_metrics}, idx
    finally:
        eng.close()
        docs.unpersist()
