"""CrawlConfig rejects, at construction, every value the wave loop cannot
run with (no Spark session needed)."""

from __future__ import annotations

import pytest

from web_crawler_spark.config import CrawlConfig


@pytest.mark.parametrize(
    "field, value",
    [
        ("dedup_buckets", 12),
        ("dedup_buckets", 0),
        ("politeness_salt", 0),
        ("host_budget_per_wave", 0),
        ("max_attempts", 0),
        ("bloom_bits_per_key", 0),
        ("bloom_num_probes", 0),
        ("max_crawl_depth", 0),
        ("dns_resolve_permille", -1),
        ("dns_resolve_permille", 1001),
        ("store_compact_every_waves", 0),
    ],
)
def test_bad_value_fails_at_construction(field, value):
    with pytest.raises(ValueError, match=field):
        CrawlConfig(**{field: value})


def test_boundary_values_construct():
    CrawlConfig(
        dedup_buckets=1,
        politeness_salt=1,
        host_budget_per_wave=1,
        max_attempts=1,
        bloom_bits_per_key=1,
        bloom_num_probes=1,
        max_crawl_depth=1,
        dns_resolve_permille=0,
        store_compact_every_waves=1,
    )
    CrawlConfig(dns_resolve_permille=1000)
