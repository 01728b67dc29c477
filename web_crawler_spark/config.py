"""Engine configuration.

Defaults mirror the reference's configuration surface
(feeder/src/config.rs:30-38, manager/src/routes/crawl.rs:28):
max_attempts=3, max_dns_depth=5, max_crawl_depth=5.  Politeness / robots /
bloom knobs are new capabilities required by the north rule (the reference
has no per-host awareness).

``__post_init__`` rejects every value the wave loop cannot run with, so it
fails when the config is built, not mid-crawl.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    # reference-parity knobs
    max_attempts: int = 3          # feeder/src/config.rs:33
    max_dns_depth: int = 5         # feeder/src/config.rs:34
    max_crawl_depth: int = 5       # manager/src/routes/crawl.rs:28

    # deterministic-simulation knobs (sandbox stand-ins for live HTTP/DNS)
    dns_resolve_permille: int = 985   # P(suffix resolves) = 985/1000
    seed_tag: str = "v1"              # namespaces all hash-derived randomness

    # politeness / skew (north-rule additions; None = unlimited, reference parity)
    host_budget_per_wave: int | None = None
    politeness_salt: int = 16         # salt fan-out for the per-host top-k window
    respect_robots: bool = False

    # dedup physical plan
    use_bloom_prefilter: bool = True
    bloom_bits_per_key: int = 16      # ~0.04% FPP with 2 probes
    bloom_num_probes: int = 2
    # co-partition bucket count for the seen-set state; POWER OF TWO
    # (checked below).  At 10^10 keys x 16 bits, per-bucket state =
    # 20 GB/n_buckets — size so one bucket's bitmap fits a task comfortably
    # (production: 1024 buckets => ~20 MB/task).
    dedup_buckets: int = 32
    # seen-set distribution: file-backed per-bucket bitmaps; build/
    # update/verdict are bucket-partitioned jobs and no task or the driver
    # ever holds more than one bucket's bitmap (the north rule's design —
    # the only one feasible at 10^10 keys).  "partition_local" is the only
    # accepted value; the field stays so existing callers that pass it
    # keep constructing.
    bloom_distribution: str = "partition_local"
    # below this seen-set size the bloom prefilter cannot pay for itself.
    # The partition-local verdict (bucket-partitioned JVM shuffle + NARROW
    # hash-only scalar UDF) runs within run-to-run noise of bloom-off
    # (105 s at 1.8% steal vs 129 s at 25% steal — BENCH/ANALYSIS.md
    # round 3), so the gate is cheap insurance rather than a cliff.
    # The prefilter's PURPOSE is the regime where the seen set is
    # huge relative to executor memory and most candidates are duplicates
    # (late-crawl convergence at the 10^10-row design point); below the
    # threshold the exact join alone is simpler and at least as fast.
    # The operator stays first-class: incremental, persisted,
    # equivalence-tested (tests force it on with bloom_min_seen=0).
    bloom_min_seen: int = 5_000_000
    # adaptive payoff gate: once active, the prefilter must certify at
    # least this fraction of a wave's candidates as definitely-fresh
    # (cut = 1 - maybe/candidates) or it is switched off for the rest of
    # the crawl.  A bloom over the SEEN set can only remove
    # definitely-NOT-seen candidates, so in a dup-dominated regime
    # (late-wave BFS convergence inside a closed corpus: measured cut
    # 0.22% on a 10x600k fleet past 5M seen, BENCH/ANALYSIS.md round 4)
    # the verdict shuffle+UDF is pure overhead — the size gate alone
    # cannot see that, only the measured cut can.  0 disables the gate.
    bloom_min_cut_frac: float = 0.05

    # the per-parent local distinct groups on the full child URL string.
    # False is the only accepted value; the field stays so existing
    # callers that pass it keep constructing.
    compact_shuffle_keys: bool = False

    # every wave's frontier is a local checkpoint, so there is no
    # plan-lineage checkpoint cadence.  8 is the only accepted value; the
    # field stays so existing callers that pass it keep constructing.
    compact_every_waves: int = 8
    # physical delta compaction cadence (store.compact: fold committed
    # wave deltas into a consolidated base snapshot + GC the wave dirs —
    # Iceberg's rewrite_data_files).  None = never during run_crawl; the
    # API is always callable out-of-band.  Bounds merge-on-read file
    # listing + reconstruction cost on deep crawls (round-3 VERDICT #8).
    store_compact_every_waves: int | None = None

    def __post_init__(self) -> None:
        # fail at construction, not mid-crawl, on a removed or misspelled
        # physical-plan switch
        if self.bloom_distribution != "partition_local":
            raise ValueError(
                f"bloom_distribution must be 'partition_local' (got "
                f"{self.bloom_distribution!r}); the broadcast distribution "
                "was removed"
            )
        if self.compact_shuffle_keys:
            raise ValueError(
                "compact_shuffle_keys must be False; the hash-keyed local "
                "distinct was removed"
            )
        if self.compact_every_waves != 8:
            raise ValueError(
                f"compact_every_waves must be 8 (got "
                f"{self.compact_every_waves!r}); every wave's frontier is "
                "checkpointed, the cadence was removed"
            )
        # fail at construction, not mid-crawl, on a value the wave loop
        # cannot run with
        if not 0.0 <= self.bloom_min_cut_frac < 1.0:
            raise ValueError(
                f"bloom_min_cut_frac must be in [0, 1) "
                f"(got {self.bloom_min_cut_frac!r})"
            )
        n = self.dedup_buckets
        if n <= 0 or n & (n - 1):
            raise ValueError(
                f"dedup_buckets must be a power of two (got {n!r}): the "
                "bucket id is the hash's low bits so Spark (signed int64) "
                "and numpy (uint64) agree bit-exactly"
            )
        for name in (
            "max_attempts", "max_crawl_depth", "politeness_salt",
            "bloom_bits_per_key", "bloom_num_probes",
        ):
            if getattr(self, name) < 1:
                raise ValueError(f"{name} must be >= 1 (got {getattr(self, name)!r})")
        # host_budget_per_wave=0 would leave every wave with nothing
        # eligible while rows stay PENDING: run_crawl would commit empty
        # waves forever
        for name in ("host_budget_per_wave", "store_compact_every_waves"):
            value = getattr(self, name)
            if value is not None and value < 1:
                raise ValueError(f"{name} must be None or >= 1 (got {value!r})")
        if not 0 <= self.dns_resolve_permille <= 1000:
            raise ValueError(
                f"dns_resolve_permille must be in [0, 1000] "
                f"(got {self.dns_resolve_permille!r})"
            )
