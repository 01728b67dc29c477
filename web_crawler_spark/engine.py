"""Wave-synchronous BFS crawl engine — the Spark-native reference rewrite.

One *wave* replaces the reference's entire claim/fetch/dedup/merge loop
(/root/reference/feeder/src/job.rs:263-351) for the whole eligible frontier
at once, as a single declarative DataFrame pipeline:

    eligible  = frontier WHERE status='PENDING'          [+ politeness top-B]
    fetched   = eligible LEFT JOIN documents ON full_key = doc_id
    outcomes  = deterministic fetch simulation (404 / timeout+retry / ok)
    links     = posexplode(text spans) -> regexp_extract_all -> posexplode
    local     = per-parent distinct on canonical key, min in-page position
    fresh     = bloom prefilter (stage 1), then exact left join vs the
                frontier on (crawl_id,url_hash,full_key) => is_fresh flag
    admitted  = DNS simulation + robots filter (column expressions only)
    winners   = row_number() OVER (PARTITION BY child ORDER BY parent,pos)=1
    commit    = inserts(children) + updates(parent transitions) + edges +
                metrics, one atomic snapshot                 [store.py]

Everything between `eligible` and `commit` is one Catalyst plan per output:
JVM-side expressions throughout (regexp_extract_all / xxhash64 / split /
filter — zero Python in the hot path), shuffles only at the anti-join, the
winner window, and the parent-status aggregation.

Semantics match the sequential oracle (`web_crawler_spark.oracle`) exactly
— same simulators, same tie-break order (parent canonical key, then
in-page position), same parent status rule:

    FAILED  iff fetch ok AND some candidate was dropped by DNS/robots
            AND this parent won no admitted child        (job.rs:340-343)
    COMPLETED otherwise on fetch ok                      (job.rs:289-293)

(the "won no admitted child" clause is the wave-parallel restatement of
"all *remaining* children dropped" under sequential first-writer-wins —
children already merged by an earlier same-wave parent leave the later
parent's candidate set, see oracle.py module docstring).

Scale design (10^10-URL frontier, 1000 executors):

* frontier/edges grow append-only; per-wave I/O ∝ wave size (store.py).
* each wave reads the last committed state and nothing older: the frontier
  is a lazy local checkpoint, filled by the one job that counts it, and
  released once the next wave's frontier is materialized.
* the documents join and the seen-set anti-join both key on
  ``xxhash64(full_key)`` — bucket both tables by it in production so the
  joins are co-partitioned (no shuffle of the 100 TB side).
* the politeness top-B per host is computed with a two-stage window
  (``operators.skew.top_n_per_bucket``: salted local top-B, then exact
  top-B over survivors): a hot host with 10^8 pending URLs never lands in
  a single window partition (axis B).
* the bloom prefilter (``operators.dedup``) is an accelerator in front of
  the exact seen-set join, never a source of truth: its per-bucket bitmap
  files live for one ``run_crawl`` call, built from the frontier
  checkpoint and removed when the call ends.
* every wave's Spark jobs run in the job group ``crawl/{crawl_id}/w{wave}``;
  the commit summary records their ids next to the wave totals and phase
  timings, so an event log resolves each wave to its stages and tasks.

Lifecycle: ``start_crawl`` and ``start_fleet`` share one root admission
and wave 0.  Every cancel rides a wave's updates delta: a cancelled fleet
member's PENDING rows are flipped in the next wave, and a cancelled crawl
or fleet gets one more wave in which every member is cancelled and
nothing is eligible.
"""

from __future__ import annotations

import logging
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F

from .config import CrawlConfig
from .functions.urls import URL_REGEX_JAVA, normalize_cols, normalize_url_py
from .operators.skew import top_n_per_bucket
from .sources.simulators import (
    dns_cols_unrolled,
    dns_py,
    fetch_outcome_cols,
    fetch_outcome_py,
)
from .store import (
    FRONTIER_SCHEMA,
    UPDATES_SCHEMA,
    SnapshotStore,
    apply_updates,
)

log = logging.getLogger(__name__)

# adaptive bloom payoff gate: once active, the prefilter must certify at
# least BLOOM_MIN_CUT_FRAC of a wave's candidates as definitely-fresh
# (cut = 1 - maybe/candidates) or it is switched off for the rest of the
# crawl.  A bloom over the SEEN set can only remove definitely-NOT-seen
# candidates, so in a dup-dominated regime (late-wave BFS convergence
# inside a closed corpus: measured cut 0.22% on a 10x600k fleet past 5M
# seen, BENCH/ANALYSIS.md round 4) the verdict shuffle+UDF is pure
# overhead — the size gate (cfg.bloom_min_seen) cannot see that, only the
# measured cut can.  A wave must test at least BLOOM_GATE_MIN_SAMPLE
# candidates before its cut counts — tail waves with a handful of
# candidates would otherwise noise-trip the sticky gate.
BLOOM_MIN_CUT_FRAC = 0.05
BLOOM_GATE_MIN_SAMPLE = 1024

PENDING, COMPLETED, FAILED, CANCELLED = "PENDING", "COMPLETED", "FAILED", "CANCELLED"

# posexplode link index < 100000 per span by construction (pages are bounded)
_POS_STRIDE = 100_000

# superset schema of the single-job union delta write (inserts carry the
# full frontier row; edges use src/dst; updates a subset) — missing
# columns ride as typed nulls, pruned again by the per-kind readers
_UNION_COLS: list[tuple[str, str]] = [
    (f.name, f.dataType.simpleString()) for f in FRONTIER_SCHEMA.fields
] + [("src", "string"), ("dst", "string")]


# Spark's job-group local property: every job submitted from a thread
# carries it, and the status tracker lists jobs by it
_JOB_GROUP = "spark.jobGroup.id"


def _wave_group_id(crawl_id: str, wave: int) -> str:
    return f"crawl/{crawl_id}/w{wave}"


def _materialize(df: DataFrame, *aggs: F.Column) -> tuple[DataFrame, Row]:
    """Truncate ``df`` to a lazy local checkpoint and fill it with the one
    job that computes ``aggs`` over its rows.  Free it with ``_release``."""
    ckpt = df.localCheckpoint(eager=False)
    return ckpt, ckpt.agg(*aggs).first()


def _release(ckpt: DataFrame) -> None:
    """Free a ``_materialize``d checkpoint's blocks once nothing reads it.
    The public ``DataFrame.unpersist`` does not: the checkpointed RDD is
    not in the cache manager, so its blocks stay resident until the
    SparkContext stops."""
    ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _host_col(name: F.Column) -> F.Column:
    """Politeness/robots host: registrable base = last two labels, port
    stripped (must match ``oracle._host_of`` exactly)."""
    bare = F.split(name, ":").getItem(0)
    return F.array_join(F.slice(F.split(bare, r"\."), -2, 2), ".")


@dataclass
class WaveResult:
    wave: int
    fetched: int
    ok: int
    failed: int
    timeouts: int
    candidates: int
    dedup_dropped: int
    dns_dropped: int
    children: int
    elapsed_ms: int
    # wave-arithmetic inputs for the driver's pending/seen bookkeeping
    # (checked against the next frontier's observed counts): parents that
    # stayed PENDING for a retry, and children born PENDING (non-leaf)
    parent_retries: int = 0
    children_pending: int = 0
    # PENDING rows of cancelled crawls or fleet members flipped to
    # CANCELLED by this wave's updates delta
    cancelled: int = 0
    # bloom prefilter effectiveness (0 when the prefilter is dormant):
    # candidate rows tested, and how many were maybe-seen — i.e. the
    # INPUT of the stage-2 exact join; bloom-off waves send ALL
    # candidates there.  These ride the commit summary so a bench can
    # report the measured join-input reduction in the design regime.
    bloom_candidates: int = 0
    bloom_maybe: int = 0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        documents: DataFrame,
        cfg: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        prepared: bool = False,
    ) -> None:
        self.spark = spark
        self.store = store
        self.cfg = cfg or CrawlConfig()
        # prune to (doc_id, spans), hash-partition by the join key, cache:
        # every wave's fetch join then shuffles only the wave side.  At
        # production scale the same property comes from bucketing the
        # Iceberg documents table by xxhash64(doc_id) instead of caching.
        # prepared=True: caller passes another engine's already-pruned,
        # partitioned, persisted corpus — avoids caching it twice.
        self._owns_documents = not prepared
        if prepared:
            self.documents = documents
        else:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            self.documents = (
                documents.select("doc_id", "spans")
                .repartition(n_part, "doc_id")
                .persist()
            )
        # robots rules apply iff a table is given; columns: host, disallowed
        self.robots = robots
        # PySpark wraps every DataFrame/Column API call in a call-site
        # capture for error context (`pyspark.errors.utils._with_origin`):
        # an inspect stack walk plus 2-3 extra py4j round-trips PER CALL
        # to push the origin into the JVM thread-local.  Profiled at ~65%
        # of the wave loop's py4j traffic (29.3k -> 8.9k round-trips per
        # 9-wave crawl with the union-cols cache below,
        # scripts/profile_wave_plan.py) — a pure driver-
        # serial tax on the per-wave plan-construction floor.  The public
        # gate `spark.python.sql.dataFrameDebugging.enabled` is a STATIC
        # conf (runtime conf.set raises CANNOT_MODIFY_CONFIG), and the
        # engine receives an already-built session — so flip the
        # module-level cache the wrapper consults instead; it exists
        # precisely to make this check cheap and is only ever filled
        # from that conf.  Cost: error messages lose the user-code
        # call-site line, session-wide.
        try:
            import pyspark.errors.utils as _peu

            _peu._enable_debugging_cache = False
        except Exception:
            pass  # best-effort: older/newer PySpark layouts keep working
        # constant unresolved column-expression trees, built ONCE per
        # engine: Column objects are immutable and reusable across waves,
        # and re-deriving them per wave (the DNS when-chain alone is
        # hundreds of py4j calls) was a measured slice of the ~4.7k py4j
        # round-trips/wave serial floor (BENCH/ANALYSIS.md round 4).
        self._x = self._build_static_exprs()
        # per-(kind, input-columns) cache for _as_union's lifted column
        # lists: the three delta branches have fixed schemas per engine,
        # and rebuilding ~50 Column objects per wave is py4j round-trips
        # on the serial path for identical immutable trees
        self._union_cols_cache: dict = {}

    def close(self) -> None:
        """Unpersist the corpus copy this engine made; an engine built
        with ``prepared=True`` made none and leaves the caller's alone."""
        if self._owns_documents:
            self.documents.unpersist()

    def _build_static_exprs(self) -> dict:
        cfg = self.cfg
        x: dict = {}
        x["fo"] = fetch_outcome_cols(
            F.col("full_key"), F.col("doc_id").isNotNull(), F.col("attempts"), cfg
        )
        x["dns"] = dns_cols_unrolled(F.col("child_name"), cfg)
        x["norm"] = normalize_cols(F.col("raw"))
        x["text_spans"] = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
        x["winner_w"] = Window.partitionBy("crawl_id", "child_full").orderBy(
            "parent_key", "pos"
        )
        x["host"] = _host_col(F.col("name"))
        x["child_http"] = F.when(
            F.col("child_full").startswith("HTTPS://"), F.lit("HTTPS://")
        ).otherwise(F.lit("HTTP://"))
        x["child_name"] = F.regexp_replace(F.col("child_full"), "^HTTPS?://", "")
        x["agg_cols"] = [
            F.min("pos").alias("pos"),
            F.count("*").alias("n_raw"),
            F.min("parent_depth").alias("parent_depth"),
            F.min("requested_depth").alias("requested_depth"),
            F.min("latency_ms").alias("latency_ms"),
        ]
        new_attempts = F.when(
            ~F.col("fetch_ok"), F.col("attempts") + 1
        ).otherwise(F.col("attempts"))
        x["new_attempts"] = new_attempts
        x["status_expr"] = (
            F.when(F.col("sim_status") == 404, F.lit(FAILED))  # 4xx permanent
            .when(
                ~F.col("fetch_ok"),
                F.when(
                    new_attempts >= F.lit(cfg.max_attempts), F.lit(FAILED)
                ).otherwise(F.lit(PENDING)),  # retry next wave
            )
            .when(F.col("n_wins") > 0, F.lit(COMPLETED))
            .when(F.col("n_bad") > 0, F.lit(FAILED))  # all-dropped rule
            .otherwise(F.lit(COMPLETED))  # no candidates / all taken earlier
        )
        return x

    # ------------------------------------------------------------------
    # crawl lifecycle (reference: POST /api/v1/crawls, routes/crawl.rs:31-139)
    # ------------------------------------------------------------------
    def start_crawl(
        self, seed_url: str, requested_depth: int, crawl_id: str | None = None
    ) -> str:
        crawl_id = crawl_id or str(uuid.uuid4())
        return self._seed([seed_url], [crawl_id], requested_depth)

    def start_fleet(
        self,
        seed_urls: list[str],
        requested_depth: int,
        fleet_id: str | None = None,
    ) -> str:
        """Batched multi-crawl seeding: one wave job serves the whole
        fleet, so the per-wave fixed machinery (job barriers, commit,
        frontier fold) is paid once per fleet instead of once per crawl
        (round-1 ANALYSIS lever #3).  Every DataFrame op in the wave
        pipeline is already keyed by crawl_id — dedup, windows, parent
        aggregation, politeness — so member crawls stay fully isolated
        (same guarantee as the reference's per-crawl_id scoping,
        feeder/src/job.rs:137-165).

        The fleet's snapshots live under one wave-dir chain keyed by
        ``fleet_id``; per-member state is the ``crawl_id`` column.  Run
        with ``run_crawl(fleet_id)``; read one member's frontier with
        ``store.frontier(spark, fleet_id).filter(col('crawl_id') == ...)``.
        """
        fleet_id = fleet_id or f"fleet-{uuid.uuid4()}"
        members = [f"{fleet_id}-c{i:05d}" for i in range(len(seed_urls))]
        return self._seed(seed_urls, members, requested_depth, fleet_id)

    def _seed(
        self,
        seed_urls: list[str],
        crawl_ids: list[str],
        requested_depth: int,
        fleet_id: str | None = None,
    ) -> str:
        """Admit the roots of ``crawl_ids`` (one per seed URL) and run
        wave 0 of their wave-dir chain, which is the fleet's when
        ``fleet_id`` is given and the one crawl's otherwise; returns the
        chain id.

        Root admission runs driver-side with the same pure simulators the
        executors use (the manager fetches the root once, no retry; a DNS
        or fetch failure fails that crawl's creation — crawl.rs:45-83),
        after ONE existence-check job for all roots."""
        if not 1 <= requested_depth <= self.cfg.max_crawl_depth:
            raise ValueError(
                f"depth must be 1..{self.cfg.max_crawl_depth} (crawl.rs:36-42)"
            )
        chain_id = fleet_id or crawl_ids[0]
        norm = [normalize_url_py(u) for u in seed_urls]
        present = self._docs_present([proto + name for name, proto in norm])
        rows, metas = [], {}
        for crawl_id, seed_url, (name, proto) in zip(crawl_ids, seed_urls, norm):
            seed_key = proto + name
            dns_ok, domain, ip = dns_py(name, self.cfg)
            fetch_ok, sim_status, _ = fetch_outcome_py(
                seed_key, seed_key in present, 0, self.cfg
            )
            meta = {
                "crawl_id": crawl_id,
                "fleet_id": fleet_id,
                "seed_url": seed_url,
                "seed_key": seed_key,
                "name": name,
                "http_type": proto,
                "domain": domain,
                "ip": ip,
                "requested_depth": requested_depth,
                "created_at": time.time(),
                "status": "running",
            }
            if not dns_ok or not fetch_ok:
                meta["status"] = "failed"
                meta["fail_reason"] = f"root fetch/dns failed (status={sim_status})"
            else:
                rows.append((crawl_id, seed_key, name, proto, 0, requested_depth, 0))
            metas[crawl_id] = meta
        if fleet_id is None:
            self.store.write_crawl_meta(metas[chain_id])
        else:
            # ONE registry write for the whole fleet (round-2 wrote one
            # crawl.json per member driver-side — 2,000 members = 2,000
            # file round-trips before the first wave; the registry is a
            # single atomic JSON the per-member read/write APIs route
            # through)
            self.store.write_member_metas(fleet_id, metas)
            self.store.write_crawl_meta(
                {
                    "crawl_id": fleet_id,
                    "is_fleet": True,
                    "members": crawl_ids,
                    "seed_url": "",
                    "seed_key": "",
                    "requested_depth": requested_depth,
                    "created_at": time.time(),
                    "status": "running" if rows else "failed",
                }
            )
        if rows:
            # wave 0: seed expansion (manager path — no retries, no parent
            # status bookkeeping, empty seen set, no dedup beyond MERGE
            # collapse)
            seed_df = self.spark.createDataFrame(
                rows,
                "crawl_id string, full_key string, name string, http_type string, "
                "depth int, requested_depth int, attempts int",
            )
            with self._wave_group(chain_id, 0):
                self._run_wave(chain_id, 0, seed_df, seen=None, root_fetched=len(rows))
        return chain_id

    def cancel_crawl(self, crawl_id: str) -> None:
        """U3: flag the crawl; the wave loop turns PENDING into CANCELLED
        before the next wave (crawl_service.rs:219-235)."""
        meta = self.store.read_crawl_meta(crawl_id)
        if meta["status"] == "running":
            meta["status"] = "cancelling"
            self.store.write_crawl_meta(meta)

    def run_crawl(self, crawl_id: str, max_waves: int | None = None) -> dict:
        """Run (or resume) the wave loop until no PENDING URLs remain.

        Resumable: starts after the last committed snapshot; partial wave
        directories from a crash are dropped and the wave re-runs
        deterministically (ST2/ST3 analogue, strictly stronger).  That is
        also how a lost frontier block is recovered: a local checkpoint
        has no lineage to recompute it from, so the wave fails with
        ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` and the caller calls
        ``run_crawl`` again.

        A cancelling crawl or fleet runs one more wave, whatever
        ``max_waves`` says, in which every member is cancelled: nothing
        is eligible, the wave's updates delta flips every PENDING row to
        CANCELLED, and the chain and its members end ``cancelled``.  That
        wave folds no next frontier, since no wave reads one.

        The bloom prefilter's state belongs to this call: it is built from
        the frontier checkpoint the first time a wave qualifies, updated
        every wave, and its directory is removed when the call returns or
        raises.  A resume builds it again from the checkpoint it loads.
        """
        meta = self.store.read_crawl_meta(crawl_id)
        if meta["status"] in ("failed", "cancelled", "completed"):
            return meta
        from .operators.dedup import BloomState

        self.store.clean_uncommitted(crawl_id)
        wave = self.store.last_committed_wave(crawl_id) + 1
        bloom_root = self.store.crawl_dir(crawl_id) / "bloom"

        waves_done = 0
        frontier: DataFrame | None = None
        n_seen = n_pending = 0
        bloom: BloomState | None = None
        # adaptive payoff gate (BLOOM_MIN_CUT_FRAC): sticky-off once a
        # measured wave shows the prefilter certifying almost nothing — in
        # a BFS the duplicate fraction of candidates only grows as the
        # frontier converges, so a wave that cannot pay never pays again.
        # The trip is PERSISTED in the crawl meta (round-4 ADVICE): without
        # it every resume reset the gate, triggering a full O(frontier)
        # BloomState build before the gate re-tripped one wave later —
        # repeated wasted scans in exactly the dup-dominated regime the
        # gate exists for.
        bloom_pays = not meta.get("bloom_gate_tripped")

        try:
            while True:
                meta = self.store.read_crawl_meta(crawl_id)
                # a cancelling chain gets its cancel wave whatever
                # max_waves says (crawl_service.rs:219-235)
                cancelling = meta["status"] == "cancelling"
                if not cancelling and max_waves is not None and waves_done >= max_waves:
                    return meta

                # the frontier lives in executor memory across waves as a
                # local checkpoint: loaded from the snapshot store once
                # (resume point), then folded forward with each wave's own
                # deltas and checkpointed again — per-wave I/O stays
                # O(wave), not O(crawl) (the in-memory twin of Iceberg
                # merge-on-read), and no wave's plan reaches an older one
                if frontier is None:
                    frontier, n_seen, n_pending = self._prepare_frontier(
                        self.store.frontier(self.spark, crawl_id)
                    )

                # cancelled members: their PENDING rows are excluded from
                # eligibility and flipped to CANCELLED by this wave's own
                # updates delta — no extra snapshot, so BFS wave numbering
                # (and oracle parity for the other members of a fleet) is
                # untouched.  A cancelling chain cancels every member.
                cancel_ids: list[str] = []
                if cancelling:
                    cancel_ids = meta.get("members", [crawl_id])
                elif meta.get("is_fleet"):
                    reg = self.store.read_member_metas(crawl_id)
                    cancel_ids = sorted(
                        m for m, v in reg.items() if v["status"] == "cancelling"
                    )

                if n_pending == 0 and not cancelling:
                    meta["status"] = "completed"
                    self.store.write_crawl_meta(meta)
                    if meta.get("is_fleet"):  # batch member completion

                        def _complete_all(reg: dict) -> None:
                            for m in reg.values():
                                if m["status"] == "running":
                                    m["status"] = "completed"
                                elif m["status"] == "cancelling":
                                    m["status"] = "cancelled"  # nothing pending

                        self.store.update_member_metas(crawl_id, _complete_all)
                    return meta
                # bloom lifecycle: build from the frontier checkpoint once
                # the seen set is worth prefiltering, rebuild when outgrown;
                # per-wave maintenance is an O(wave) delta update inside
                # _run_wave instead of the O(crawl) frontier re-scan
                use_bloom = (
                    self.cfg.use_bloom_prefilter
                    and bloom_pays
                    and not cancelling
                    and n_seen >= self.cfg.bloom_min_seen
                )
                with self._wave_group(crawl_id, wave):
                    if use_bloom and (bloom is None or bloom.needs_rebuild(n_seen)):
                        seen_hashed = frontier.select(
                            F.xxhash64("crawl_id", "full_key").alias("url_hash")
                        )
                        # state as of the last committed wave (= wave-1)
                        bloom = BloomState.build(
                            seen_hashed, self.cfg, n_seen, bloom_root, wave - 1
                        )
                    elif not use_bloom:
                        bloom = None
                    eligible = self._eligible(frontier, exclude_crawl_ids=cancel_ids)
                    result, nxt = self._run_wave(
                        crawl_id, wave, eligible, seen=frontier,
                        bloom=bloom, cancel_ids=cancel_ids, fold=not cancelling,
                    )
                # the next frontier is materialized from the superseded
                # one, which nothing reads any more
                _release(frontier)
                if nxt is not None:
                    frontier, obs_rows, obs_pending = nxt
                else:
                    # the cancel wave folds no frontier: nothing was
                    # eligible, so it adds no row and leaves none PENDING
                    frontier, obs_rows, obs_pending = None, n_seen, 0
                if cancel_ids and meta.get("is_fleet"):
                    # the wave committed their CANCELLED rows.  Re-read +
                    # targeted mutation, NOT a write-back of the pre-wave
                    # `reg` snapshot: a member cancelled DURING the wave
                    # (from another thread) must not be reverted to
                    # 'running' by a stale whole-dict write (round-3
                    # ADVICE lost-update race); a member whose root
                    # failed stays 'failed'

                    def _mark_cancelled(r: dict) -> None:
                        for m in cancel_ids:
                            if r[m]["status"] in ("running", "cancelling"):
                                r[m]["status"] = "cancelled"

                    self.store.update_member_metas(crawl_id, _mark_cancelled)
                # pending/seen bookkeeping by WAVE ARITHMETIC, checked
                # against the counts observed while materializing the next
                # frontier: every eligible parent left PENDING except
                # retries; children are born PENDING unless leaves;
                # politeness-deferred parents stayed PENDING untouched;
                # cancelled members' rows left PENDING.
                n_pending = (
                    (n_pending - result.fetched - result.cancelled)
                    + result.parent_retries
                    + result.children_pending
                )
                n_seen = n_seen + result.children
                if obs_pending != n_pending or obs_rows != n_seen:
                    # the observed counts are authoritative; the arithmetic
                    # twin is a live invariant check — log loudly and
                    # continue on the observed values (a bare assert
                    # vanished under -O and aborted the whole crawl on a
                    # driver-side bookkeeping slip, round-2 ADVICE)
                    log.error(
                        "frontier arithmetic (rows=%d pending=%d) != observed "
                        "(rows=%d pending=%d) — engine bookkeeping bug, "
                        "continuing on observed",
                        n_seen, n_pending, obs_rows, obs_pending,
                    )
                    n_seen, n_pending = obs_rows, obs_pending
                # adaptive payoff gate: judge on a measured wave (sample
                # floor guards tiny tail waves from noise-tripping it)
                if bloom_pays and result.bloom_candidates >= BLOOM_GATE_MIN_SAMPLE:
                    cut = 1.0 - result.bloom_maybe / result.bloom_candidates
                    if cut < BLOOM_MIN_CUT_FRAC:
                        log.info(
                            "bloom prefilter off for crawl %s: wave %d cut "
                            "%.2f%% of %d candidates < min %.1f%% — "
                            "dup-dominated regime, stage-2 exact join alone",
                            crawl_id, wave, 100 * cut,
                            result.bloom_candidates, 100 * BLOOM_MIN_CUT_FRAC,
                        )
                        bloom_pays = False
                        bloom = None
                        # persist the trip so a resume neither rebuilds
                        # the state nor re-pays the one-wave measurement
                        meta["bloom_gate_tripped"] = wave
                        self.store.write_crawl_meta(meta)
                # the checkpointed frontier reads none of the wave files
                # compact() deletes
                if (
                    self.cfg.store_compact_every_waves
                    and wave % self.cfg.store_compact_every_waves == 0
                ):
                    self.store.compact(self.spark, crawl_id)
                if cancelling:
                    meta["status"] = "cancelled"
                    self.store.write_crawl_meta(meta)
                    return meta
                wave += 1
                waves_done += 1
        finally:
            if frontier is not None:
                _release(frontier)
            shutil.rmtree(bloom_root, ignore_errors=True)

    # ------------------------------------------------------------------
    # wave internals
    # ------------------------------------------------------------------
    @contextmanager
    def _wave_group(self, crawl_id: str, wave: int):
        """Run the block's Spark jobs in the wave's job group (restoring
        the caller's group after), so the commit summary can list them."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_JOB_GROUP)
        sc.setLocalProperty(_JOB_GROUP, _wave_group_id(crawl_id, wave))
        try:
            yield
        finally:
            sc.setLocalProperty(_JOB_GROUP, prev)

    def _wave_job_ids(self, crawl_id: str, wave: int) -> list[int]:
        tracker = self.spark.sparkContext.statusTracker()
        return sorted(tracker.getJobIdsForGroup(_wave_group_id(crawl_id, wave)))

    def _docs_present(self, keys: list[str]) -> set[str]:
        """ONE existence-check job for any number of root keys — the
        single-crawl path shares it with the fleet path (round 3 ran a
        separate isEmpty job per single seed)."""
        return {
            r.doc_id
            for r in self.documents.filter(F.col("doc_id").isin(keys))
            .select("doc_id")
            .collect()
        }

    def _prepare_frontier(self, df: DataFrame) -> tuple[DataFrame, int, int]:
        """Materialize the frontier in ONE job and return ``(ckpt, n_rows,
        n_pending)``; the caller ``_release``s ``ckpt``.  Its rows are
        already deterministic, so checkpointing changes no content; it
        keeps the plans of the waves that read it from growing with the
        wave count."""
        ckpt, row = _materialize(
            df,
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("status") == PENDING).alias("n_pending"),
        )
        return ckpt, int(row["n_rows"]), int(row["n_pending"])

    def _eligible(
        self, frontier: DataFrame, exclude_crawl_ids: list[str] | None = None
    ) -> DataFrame:
        """PENDING rows, capped per host by the politeness budget (W1).

        Exact top-B per host in sorted full-key order, computed skew-safely
        by ``top_n_per_bucket``: (1) top-B within (host, salt) buckets —
        bounds any single window partition; (2) exact top-B over the ≤ S*B
        survivors.
        ``exclude_crawl_ids``: cancelling fleet members — their PENDING
        rows are never claimed (the wave flips them to CANCELLED instead).
        """
        pending = frontier.filter(F.col("status") == PENDING)
        if exclude_crawl_ids:
            pending = pending.filter(~F.col("crawl_id").isin(exclude_crawl_ids))
        budget = self.cfg.host_budget_per_wave
        if budget is None:
            return pending
        return top_n_per_bucket(
            pending.withColumn("host", self._x["host"]),
            ["crawl_id", "host"],
            "full_key",
            budget,
            self.cfg.politeness_salt,
        ).drop("host")

    def _run_wave(
        self,
        crawl_id: str,
        wave: int,
        parents: DataFrame,
        seen: DataFrame | None,
        root_fetched: int = 1,
        bloom=None,  # BloomState, managed by run_crawl
        cancel_ids: list[str] | None = None,
        fold: bool = True,
    ) -> tuple[WaveResult, tuple[DataFrame, int, int] | None]:
        """Run and commit one wave; every Spark action runs on the calling
        thread.  ``seen`` is the current frontier, None on the root wave.
        Returns the WaveResult and, when ``seen`` is given and ``fold`` is
        set, the next frontier folded from it, as ``_prepare_frontier``
        returns it."""
        t0 = time.time()

        # ---- fetch simulation (S1): join against the corpus ----
        # documents is pre-partitioned by doc_id and cached (init), so
        # this left join shuffles only the wave side — the corpus (the
        # 100 TB side at production, where bucketed tables play the same
        # role) is never re-shuffled per wave
        docs = self.documents
        wave_side = parents.select(
            "crawl_id", "full_key", "name", "depth", "requested_depth", "attempts"
        )
        fetched = wave_side.join(docs, wave_side["full_key"] == docs["doc_id"], "left")
        fo = self._x["fo"]
        outcomes_full = (
            fetched.withColumn("fetch_ok", fo["fetch_ok"])
            .withColumn("sim_status", fo["sim_status"])
            .withColumn("latency_ms", fo["latency_ms"])
        )
        # only the NARROW projection is cached (for the updates/metrics
        # pass): caching the joined width would push every wave's span
        # arrays — the corpus content — through the block store, GBs of
        # allocation churn per wave for rows read exactly once.  The links
        # path below re-derives the join instead (corpus side is cached
        # and co-partitioned; the wave side is the small one).
        outcomes = outcomes_full.drop("doc_id", "spans").persist()

        # ---- link extraction (P1) over text spans in offset order ----
        # media spans are filtered out INSIDE the array before the
        # explode, so non-text spans never become rows.  span_idx then
        # indexes the filtered array — still offset-ordered, and `pos` is
        # only ever used for ORDERING (min per parent/child, tie-breaks),
        # so the renumbering is invisible to semantics.
        text_spans = self._x["text_spans"]
        ok_pages = outcomes_full.filter(F.col("fetch_ok")).select(
            "crawl_id",
            F.col("full_key").alias("parent_key"),
            F.col("depth").alias("parent_depth"),
            "requested_depth",
            "latency_ms",
            F.posexplode(text_spans).alias("span_idx", "span"),
        )
        links = (
            ok_pages.select(
                "crawl_id",
                "parent_key",
                "parent_depth",
                "requested_depth",
                "latency_ms",
                "span_idx",
                F.posexplode(
                    F.regexp_extract_all(F.col("span.text"), F.lit(URL_REGEX_JAVA), F.lit(0))
                ).alias("link_idx", "raw"),
            )
            .withColumn("pos", F.col("span_idx") * _POS_STRIDE + F.col("link_idx"))
        )

        # ---- canonicalize (P2/P4) + per-parent local distinct (P3/A5) ----
        # shuffle-width discipline: only (crawl_id, parent_key, child_full)
        # are grouping keys; everything derivable from child_full
        # (hash, scheme, name) is recomputed AFTER the aggregation on the
        # collapsed rows, and the per-parent constants ride as cheap MIN
        # aggregates instead of widening the key tuple.
        c_name, c_http = self._x["norm"]
        canon = links.withColumn("child_full", F.concat(c_http, c_name))
        agg_cols = self._x["agg_cols"]
        local = (
            canon.groupBy("crawl_id", "parent_key", "child_full")
            .agg(*agg_cols)
            .withColumn("child_hash", F.xxhash64("child_full"))
            .withColumn("child_http", self._x["child_http"])
            .withColumn("child_name", self._x["child_name"])
        )

        # ---- seen-set dedup (J1): bloom stage 1 + exact stage 2 ----
        # expressed as a left join + is_fresh flag (not left_anti) so the
        # dropped-as-seen rows stay in ONE cached DataFrame and every wave
        # metric (raw totals, dedup drops, admissions, winners) comes from
        # a single pass — no extra jobs re-deriving the lineage.  All rows
        # of a given child share is_fresh, so downstream windows per child
        # are never mixed.
        bloom_candidates = bloom_maybe = 0
        flagged = None
        if seen is not None:
            seen_keys = seen.select(
                "crawl_id",
                F.col("url_hash").alias("child_hash"),
                F.col("full_key").alias("child_full"),
                F.lit(True).alias("_seen"),
            )
            if bloom is not None:
                # stage 1: bloom verdict (no false negatives) — certainly-
                # fresh candidates skip the exact join shuffle entirely.
                # The bloom key is crawl-scoped (xxhash64(crawl_id, key)):
                # under fleet waves, one crawl's seen URL must not shadow
                # another crawl's fresh candidate (isolation, SURVEY §1.1);
                # cross-crawl false positives would only cost exact-join
                # rows, but scoping keeps the prefilter effective too.
                #
                # materialize the flagged candidates ONCE, before the
                # verdict split: the certain/maybe branches would otherwise
                # each recompute the scan→explode→distinct→verdict pipeline
                # (with an uncached, bucketed-table corpus: a measured 4.7x
                # wall regression at the 10^10 design point, round-3
                # VERDICT What's-wrong #1).  The job that fills the
                # checkpoint measures the prefilter: maybe-seen rows are the
                # ONLY input of the stage-2 exact join below.  Candidates
                # are co-partitioned with the per-bucket bitmap FILES: each
                # task holds one bucket's bitmap — no driver state, no
                # broadcast.
                flagged, brow = _materialize(
                    bloom.verdict(local, F.xxhash64("crawl_id", "child_full")),
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(F.col("maybe_seen")).alias("m"),
                )
                bloom_candidates, bloom_maybe = int(brow["n"]), int(brow["m"])
                certain = (
                    flagged.filter(~F.col("maybe_seen"))
                    .drop("maybe_seen")
                    .withColumn("is_fresh", F.lit(True))
                )
                maybe = (
                    flagged.filter(F.col("maybe_seen"))
                    .drop("maybe_seen")
                    .join(seen_keys, ["crawl_id", "child_hash", "child_full"], "left")
                    .withColumn("is_fresh", F.col("_seen").isNull())
                    .drop("_seen")
                )
                fresh = certain.unionByName(maybe)
            else:
                fresh = local.join(
                    seen_keys, ["crawl_id", "child_hash", "child_full"], "left"
                ).withColumn("is_fresh", F.col("_seen").isNull()).drop("_seen")
        else:
            fresh = local.withColumn("is_fresh", F.lit(True))

        # ---- DNS + robots admission (S2/D6) ----
        dns = self._x["dns"]
        cand = (
            fresh.withColumn("dns_ok", dns["dns_ok"])
            .withColumn("child_domain", dns["domain"])
            .withColumn("child_ip", dns["ip"])
        )
        if self.robots is not None:
            rb = self.robots.select(
                F.col("host").alias("_r_host"), F.col("disallowed").alias("_r_disallowed")
            )
            cand = cand.join(
                rb, _host_col(F.col("child_name")) == F.col("_r_host"), "left"
            )
            admitted = F.col("dns_ok") & ~F.coalesce(F.col("_r_disallowed"), F.lit(False))
        else:
            admitted = F.col("dns_ok")
        cand = cand.withColumn("admitted", admitted)

        # ---- deterministic first-discoverer tie-break (J3/ST6, §3.4) ----
        # The wave totals are observed UNDER the cache: the one job that
        # fills it (the delta write) reports them, whatever reads it later.
        f = F.col("is_fresh")
        won = f & F.col("admitted") & (F.col("rn") == 1)
        cand_obs = Observation()
        cand = (
            cand.withColumn("rn", F.row_number().over(self._x["winner_w"]))
            .observe(
                cand_obs,
                F.coalesce(F.sum("n_raw"), F.lit(0)).alias("n_raw"),
                F.count_if(f).alias("candidates"),
                F.count_if(f & ~F.col("admitted")).alias("dns_dropped"),
                F.count_if(won).alias("children"),
                F.count_if(  # leaf rule F10 complement
                    won & (F.col("parent_depth") + 1 < F.col("requested_depth"))
                ).alias("children_pending"),
            )
            .persist()
        )

        winners = cand.filter(won)
        child_depth = F.col("parent_depth") + F.lit(1)
        children = winners.select(
            "crawl_id",
            F.col("child_hash").alias("url_hash"),
            F.col("child_full").alias("full_key"),
            F.col("child_name").alias("name"),
            F.col("child_http").alias("http_type"),
            F.col("child_domain").alias("domain"),
            F.col("child_ip").alias("ip"),
            child_depth.cast("int").alias("depth"),
            F.col("requested_depth"),
            F.when(child_depth >= F.col("requested_depth"), F.lit(COMPLETED))
            .otherwise(F.lit(PENDING))
            .alias("status"),  # leaf rule F10 (job.rs:182)
            F.lit(0).alias("attempts"),
            F.lit(wave).alias("wave"),
            F.concat(F.col("latency_ms").cast("string"), F.lit("ms")).alias(
                "request_time"
            ),
        )
        edges = winners.select(
            "crawl_id",
            F.col("parent_key").alias("src"),
            F.col("child_full").alias("dst"),
            F.lit(wave).alias("wave"),
        )

        # ---- parent status transitions (ST4/P6/U2) ----
        if seen is not None:
            pstats = cand.groupBy("crawl_id", "parent_key").agg(
                F.sum(F.when(f, 1).otherwise(0)).alias("n_cand"),
                F.sum(F.when(f & ~F.col("admitted"), 1).otherwise(0)).alias("n_bad"),
                F.sum(F.when(won, 1).otherwise(0)).alias("n_wins"),
            )
            # attempts increments on EVERY fetch error including 4xx: the
            # reference's validate_job bumps attempts before classifying
            # the error (feeder/src/job.rs:107-131), so a first-attempt 404
            # ends FAILED with attempts=1
            new_attempts = self._x["new_attempts"]
            status_expr = self._x["status_expr"]
            # fetch/status totals piggyback on the updates write action via
            # an Observation — zero extra Spark jobs for these metrics
            upd_obs = Observation()
            upd_base = (
                outcomes.select(
                    "crawl_id",
                    F.col("full_key").alias("parent_key"),
                    "fetch_ok",
                    "sim_status",
                    "attempts",
                )
                .join(pstats, ["crawl_id", "parent_key"], "left")
                .observe(
                    upd_obs,
                    F.count(F.lit(1)).alias("fetched"),
                    F.count_if(F.col("fetch_ok")).alias("ok"),
                    F.count_if(
                        ~F.col("fetch_ok") & (F.col("sim_status") == 0)
                    ).alias("timeouts"),
                    F.count_if(status_expr == FAILED).alias("failed"),
                    F.count_if(status_expr == PENDING).alias("retries"),
                )
            )
            updates = upd_base.select(
                "crawl_id",
                F.xxhash64("parent_key").alias("url_hash"),
                F.col("parent_key").alias("full_key"),
                status_expr.alias("status"),
                new_attempts.cast("int").alias("attempts"),
                F.lit(wave).alias("wave"),
            )
        else:
            updates, upd_obs = None, None

        # ---- cancelled crawls and members ride this wave's updates delta ----
        # (their rows were excluded from `parents`, so no fetch happened;
        # an Observation carries the flipped-row count for the driver's
        # pending arithmetic — zero extra jobs)
        cancel_obs = None
        if cancel_ids and seen is not None:
            cancel_obs = Observation()
            cancel_upd = (
                seen.filter(
                    (F.col("status") == PENDING)
                    & F.col("crawl_id").isin(cancel_ids)
                )
                .select(
                    "crawl_id",
                    "url_hash",
                    "full_key",
                    F.lit(CANCELLED).alias("status"),
                    F.col("attempts").cast("int").alias("attempts"),
                    F.lit(wave).alias("wave"),
                )
                .observe(cancel_obs, F.count(F.lit(1)).alias("n_cancelled"))
            )
            updates = (
                cancel_upd if updates is None else updates.unionByName(cancel_upd)
            )

        # ---- commit the snapshot (S3): ONE delta write, then marker ----
        # inserts + edges + updates ride a single union job partitioned by
        # `kind`: one Catalyst analysis and one submission on the serial
        # driver path.  It is the wave's one action: it fills the
        # `cand`/`outcomes` caches, and the wave totals come back as the
        # Observations on them.  Adaptive execution materializes those
        # caches as their own full-width query stages, so the write's
        # coalesce narrows only its final file-writing stage.  Wall time
        # per phase rides the commit summary as ``phase_ms``.
        phase_ms: dict[str, int] = {}
        t_lap = t0

        def lap(phase: str) -> None:
            nonlocal t_lap
            now = time.time()
            phase_ms[phase] = int((now - t_lap) * 1000)
            t_lap = now

        lap("plan")
        nxt = None
        try:
            delta = self._as_union(children, "inserts").unionByName(
                self._as_union(edges, "edges")
            )
            if updates is not None:
                delta = delta.unionByName(self._as_union(updates, "updates"))
            lap("union_build")
            self.store.write_delta_union(delta, crawl_id, wave)
            lap("write")
            co = cand_obs.get
            raw_total, candidates = int(co["n_raw"]), int(co["candidates"])
            dns_dropped, n_children = int(co["dns_dropped"]), int(co["children"])
            if upd_obs is not None:
                og = upd_obs.get
                fetched, ok = int(og["fetched"]), int(og["ok"])
                timeouts, n_failed = int(og["timeouts"]), int(og["failed"])
                retries = int(og["retries"])
            else:  # wave 0: the root(s) were pre-admitted driver-side
                fetched, ok, timeouts, n_failed = root_fetched, root_fetched, 0, 0
                retries = 0
            n_cancelled = int(cancel_obs.get["n_cancelled"]) if cancel_obs else 0
            if bloom is not None:
                # O(wave) incremental maintenance: OR this wave's insert
                # keys into the state — a bucket-partitioned job writes
                # only the touched buckets' files.  It reads the inserts
                # from the `cand` cache the write filled.
                bloom.update(
                    children.select(
                        F.xxhash64("crawl_id", "full_key").alias("url_hash")
                    ),
                    wave,
                )
            lap("bloom_upd")
            if seen is not None and fold:
                # fold the next frontier from the files just written (the
                # current frontier appears ONCE + stable file scans — an
                # in-memory fold through the wave pipeline references it
                # in three branches) and checkpoint it: the next wave's
                # plan starts from that checkpoint, not from this wave's.
                fold = self._fold_frontier(seen, crawl_id, wave)
                nxt = self._prepare_frontier(fold)
            lap("fold")

            elapsed_ms = int((time.time() - t0) * 1000)
            total_row = (
                crawl_id, wave, -1, fetched, ok, n_failed, timeouts, candidates,
                raw_total - candidates, dns_dropped, n_children, elapsed_ms,
            )
            self.store.write_metrics_row(total_row, crawl_id, wave)

            result = WaveResult(
                wave=wave,
                fetched=fetched,
                ok=ok,
                failed=n_failed,
                timeouts=timeouts,
                candidates=candidates,
                dedup_dropped=raw_total - candidates,
                dns_dropped=dns_dropped,
                children=n_children,
                elapsed_ms=elapsed_ms,
                parent_retries=retries,
                children_pending=int(co["children_pending"]),
                cancelled=n_cancelled,
                bloom_candidates=bloom_candidates,
                bloom_maybe=bloom_maybe,
            )
            self.store.commit_wave(
                crawl_id,
                wave,
                {
                    **result.__dict__,
                    "phase_ms": phase_ms,
                    "job_ids": self._wave_job_ids(crawl_id, wave),
                },
            )
        except BaseException:
            if nxt is not None:  # materialized, but never handed over
                _release(nxt[0])
            raise
        finally:
            outcomes.unpersist()
            cand.unpersist()
            if flagged is not None:  # read only through `cand`'s lineage
                _release(flagged)
        return result, nxt

    def _as_union(self, df: DataFrame, kind: str) -> DataFrame:
        """Lift one delta DataFrame onto the union superset schema with a
        ``kind`` discriminator (missing columns = typed nulls).

        ONE select, not a withColumn loop: every withColumn is a fresh
        plan + analysis through py4j, and this ran 3x per wave over a
        15-column superset — profiled at 0.42 s/wave of pure driver time
        (the serial floor is the pre-saturation scaling constraint).
        The lifted Column lists are immutable and depend only on
        (kind, input columns), so they are built once per engine and
        reused every wave — ~150 py4j round-trips/wave off the same
        serial path."""
        key = (kind, tuple(df.columns))
        cols = self._union_cols_cache.get(key)
        if cols is None:
            have = set(df.columns)
            cols = [
                F.col(n) if n in have else F.lit(None).cast(t).alias(n)
                for n, t in _UNION_COLS
            ] + [F.lit(kind).alias("kind")]
            self._union_cols_cache[key] = cols
        return df.select(*cols)

    def _fold_frontier(self, prev: DataFrame, crawl_id: str, wave: int) -> DataFrame:
        """Fold one written wave's deltas into the cached frontier: apply
        the status updates to existing rows (``apply_updates``, a shuffled
        left join), append the inserts.  Reads only the new wave's files —
        stable, bounded lineage (prev appears exactly once in the plan);
        updates-only waves simply have no inserts file."""
        upd_path = self.store.delta_path(crawl_id, wave, "updates")
        ins_path = self.store.delta_path(crawl_id, wave, "inserts")
        merged = prev
        if upd_path is not None:
            upd = self.spark.read.schema(UPDATES_SCHEMA).parquet(str(upd_path))
            merged = apply_updates(prev, upd)
        if ins_path is not None:
            ins = self.spark.read.schema(FRONTIER_SCHEMA).parquet(str(ins_path))
            merged = merged.unionByName(ins)
        return merged
