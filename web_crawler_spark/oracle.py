"""Sequential reference oracle — the executable deterministic spec.

This is the ground truth every Spark run is compared against (SURVEY.md
§3.4): what a *single* reference feeder processing jobs in sorted order
computes.  The reference under 8 concurrent feeders is nondeterministic
(claim order is `LIMIT 1` with no ORDER BY, /root/reference/feeder/src/
job.rs:49); the deterministic specification adopted by this repo is:

1. **Level-synchronous BFS**: each wave processes the whole eligible
   PENDING set before any child it produces becomes eligible.
2. **Within a wave**, parents are processed in sorted canonical-full-key
   order; within a page, links in in-page order.  A child discovered by
   several same-wave parents gets its single in-edge, its depth and its
   leaf status from the first discovering (parent, position) under that
   order — mirroring MERGE first-writer-wins (feeder/src/job.rs:180-184)
   made deterministic.
3. **URL-seen set** = every (crawl_id, http_type+name) ever inserted,
   scoped per crawl (feeder/src/job.rs:138-165).

Reference state machine reproduced exactly:

* fetch retry: transient failure => attempts+1, stays PENDING, retried in
  a later wave; attempts >= max_attempts(3) => FAILED; 4xx (here: no
  document => 404) => FAILED immediately — with attempts incremented
  first, exactly like validate_job (feeder/src/job.rs:97-133: every fetch
  error bumps attempts before classification, so a first-attempt 404
  stores attempts=1).
* dedup-then-DNS: candidates surviving the seen-set anti-join are
  DNS-resolved; resolution failure silently drops the child; **nonempty
  candidate set with zero surviving children => parent FAILED**
  (feeder/src/job.rs:340-343); empty candidate set => COMPLETED
  (feeder/src/job.rs:289-293).  Under rule (2) a child already taken by an
  earlier same-wave parent is excluded from this parent's candidate set,
  exactly as the sequential MERGE would hide it.
* leaf rule: a child born at depth == requested_depth is COMPLETED
  immediately and never fetched (feeder/src/job.rs:182).
* root seeding (wave 0): the manager fetches the seed once (no retry),
  resolves it, extracts, DNS-resolves children, writes ROOT + depth-1 URL
  nodes + edges in one transaction (manager/src/routes/crawl.rs:31-139).
  Child DNS failures are silently dropped (crawl.rs:97) and do NOT fail
  the crawl; a root fetch/DNS failure fails crawl creation.  The ROOT
  node is *not* a URL node, so the seed URL itself can later reappear as
  a URL node at depth>=1 (the seen-set matches only :URL labels).

North-rule extensions (absent in the reference, same on both sides):

* politeness: per wave, at most ``host_budget_per_wave`` PENDING URLs per
  host (host = name without port) are fetched, chosen in sorted full-key
  order; the rest stay PENDING for later waves.
* robots: children on disallowed hosts are dropped at admission exactly
  like DNS failures (they count toward the parent-FAILED rule).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .config import CrawlConfig
from .functions.urls import extract_links_py, full_key_py, normalize_url_py
from .functions.xxh64 import xxhash64_str
from .sources.simulators import dns_py, fetch_outcome_py

PENDING = "PENDING"
COMPLETED = "COMPLETED"
FAILED = "FAILED"
CANCELLED = "CANCELLED"


@dataclass
class Node:
    name: str
    http_type: str
    domain: str | None
    ip: str | None
    depth: int
    status: str
    attempts: int
    wave: int
    request_time: str = ""   # parent-fetch duration (feeder/src/job.rs:301)

    @property
    def full_key(self) -> str:
        return self.http_type + self.name


@dataclass
class OracleResult:
    crawl_id: str
    seed_url: str
    requested_depth: int
    crawl_status: str                      # running|completed|failed|cancelled
    nodes: dict[str, Node] = field(default_factory=dict)   # full_key -> Node
    edges: list[tuple[str, str, int]] = field(default_factory=list)  # src,dst,wave
    wave_metrics: list[dict] = field(default_factory=list)
    waves_run: int = 0

    # -- aggregates mirroring the manager's read APIs (crawl_service.rs) --
    def status_counts(self) -> dict[str, int]:
        out = {PENDING: 0, "IN-PROGRESS": 0, COMPLETED: 0, FAILED: 0, CANCELLED: 0}
        for n in self.nodes.values():
            out[n.status] += 1
        return out

    def stats(self) -> dict:
        """get_crawl_stats parity (crawl_service.rs:238-286): counts +
        countDistinct(domain) + max(depth)."""
        c = self.status_counts()
        return {
            "total": len(self.nodes),
            **{k.lower(): v for k, v in c.items()},
            "distinct_domains": len({n.domain for n in self.nodes.values() if n.domain}),
            "max_depth": max((n.depth for n in self.nodes.values()), default=0),
        }

    def derived_status(self) -> str:
        """crawl_service.rs:106-114 scalar rule."""
        c = self.status_counts()
        if c[PENDING] == 0 and c["IN-PROGRESS"] == 0:
            if c[CANCELLED] > 0 and c[COMPLETED] == 0:
                return "cancelled"
            return "completed"
        return "running"


def _host_of(name: str) -> str:
    """Politeness/robots host of a normalized name: registrable base host
    = last two labels, port stripped (e.g. ``API.S00042.BASE-0007.TEST:8080``
    -> ``BASE-0007.TEST``)."""
    bare = name.split(":")[0]
    return ".".join(bare.split(".")[-2:])


class OracleCrawler:
    """Sequential crawler over an in-memory corpus {doc_id: spans}."""

    def __init__(
        self,
        corpus: dict[str, list[dict]],
        cfg: CrawlConfig | None = None,
        robots_disallowed: set[str] | None = None,
    ) -> None:
        self.corpus = corpus
        self.cfg = cfg or CrawlConfig()
        self.robots = robots_disallowed or set()

    # -- helpers ----------------------------------------------------------
    def _extract(self, doc_id: str) -> list[str]:
        """Raw links of a page: text spans in offset order, in-page order."""
        links: list[str] = []
        for span in sorted(self.corpus[doc_id], key=lambda s: s["offset"]):
            if span["kind"] == "text":
                links.extend(extract_links_py(span["text"]))
        return links

    def _admit(self, name: str) -> tuple[bool, str | None, str | None]:
        """DNS + robots admission for a normalized child name."""
        if _host_of(name) in self.robots:
            return False, None, None
        return dns_py(name, self.cfg)

    # -- main -------------------------------------------------------------
    def crawl(
        self,
        seed_url: str,
        requested_depth: int,
        crawl_id: str = "oracle-crawl",
        max_waves: int = 64,
        cancel_after_wave: int | None = None,
    ) -> OracleResult:
        if not 1 <= requested_depth <= self.cfg.max_crawl_depth:
            raise ValueError(f"depth must be 1..{self.cfg.max_crawl_depth}")

        res = OracleResult(
            crawl_id=crawl_id,
            seed_url=seed_url,
            requested_depth=requested_depth,
            crawl_status="running",
        )

        # ---- wave 0: root seeding (manager path, no retries) ----
        seed_name, seed_proto = normalize_url_py(seed_url)
        seed_key = seed_proto + seed_name
        ok, _, _ = dns_py(seed_name, self.cfg)
        fetch_ok, _, seed_lat = fetch_outcome_py(
            seed_key, seed_key in self.corpus, 0, self.cfg
        )
        if not ok or not fetch_ok:
            res.crawl_status = "failed"
            return res

        children: dict[str, tuple[str, int]] = {}  # child_key -> (parent, pos)
        for pos, raw in enumerate(self._extract(seed_key)):
            key = full_key_py(raw)
            if key not in children:
                children[key] = (seed_key, pos)
        created = 0
        for child_key in sorted(children):
            name, proto = normalize_url_py(child_key)
            admitted, domain, ip = self._admit(name)
            if not admitted:
                continue  # silently dropped (crawl.rs:97)
            res.nodes[child_key] = Node(
                name=name, http_type=proto, domain=domain, ip=ip,
                depth=1,
                status=COMPLETED if requested_depth == 1 else PENDING,
                attempts=0, wave=0, request_time=f"{seed_lat}ms",
            )
            res.edges.append((seed_key, child_key, 0))
            created += 1
        res.wave_metrics.append(
            {"wave": 0, "fetched": 1, "children": created,
             "candidates": len(children), "failed": 0}
        )
        res.waves_run = 1

        # ---- waves 1..: feeder path ----
        for wave in range(1, max_waves + 1):
            if cancel_after_wave is not None and wave > cancel_after_wave:
                for n in res.nodes.values():
                    if n.status == PENDING:
                        n.status = CANCELLED
                res.crawl_status = "cancelled"
                break

            pending = sorted(
                k for k, n in res.nodes.items() if n.status == PENDING
            )
            if not pending:
                break

            # politeness: first B per host in sorted order; rest deferred
            budget = self.cfg.host_budget_per_wave
            if budget is not None:
                taken: dict[str, int] = {}
                eligible = []
                for k in pending:
                    h = _host_of(res.nodes[k].name)
                    if taken.get(h, 0) < budget:
                        taken[h] = taken.get(h, 0) + 1
                        eligible.append(k)
            else:
                eligible = pending

            m = {"wave": wave, "fetched": 0, "children": 0, "candidates": 0,
                 "failed": 0, "timeouts": 0, "dedup_dropped": 0, "dns_dropped": 0}
            # metrics count freshness against the wave-START seen set (what
            # the engine's single anti-join per wave sees); the *semantic*
            # dedup below still uses the live set (sequential first-writer)
            seen_at_wave_start = set(res.nodes)
            for parent_key in eligible:
                node = res.nodes[parent_key]
                m["fetched"] += 1
                has_doc = parent_key in self.corpus
                ok, status, lat = fetch_outcome_py(
                    parent_key, has_doc, node.attempts, self.cfg
                )
                if not ok:
                    if status == 404:  # 4xx => permanent (job.rs:126-128);
                        # attempts still increments first (job.rs:107-131)
                        node.attempts += 1
                        node.status = FAILED
                        m["failed"] += 1
                    else:  # timeout (job.rs:97-124)
                        node.attempts += 1
                        m["timeouts"] += 1
                        if node.attempts >= self.cfg.max_attempts:
                            node.status = FAILED
                            m["failed"] += 1
                    continue

                # extract -> local distinct -> seen-set anti-join
                raw_links = self._extract(parent_key)
                cand: dict[str, int] = {}
                for pos, raw in enumerate(raw_links):
                    key = full_key_py(raw)
                    if key not in cand:
                        cand[key] = pos
                fresh_vs_start = {
                    k: p for k, p in cand.items() if k not in seen_at_wave_start
                }
                m["dedup_dropped"] += len(raw_links) - len(fresh_vs_start)
                m["candidates"] += len(fresh_vs_start)
                fresh = {k: p for k, p in cand.items() if k not in res.nodes}
                if not fresh:
                    node.status = COMPLETED  # job.rs:289-293
                    continue

                survivors = 0
                for child_key in sorted(fresh):
                    name, proto = normalize_url_py(child_key)
                    admitted, domain, ip = self._admit(name)
                    if not admitted:
                        m["dns_dropped"] += 1
                        continue
                    depth = node.depth + 1
                    res.nodes[child_key] = Node(
                        name=name, http_type=proto, domain=domain, ip=ip,
                        depth=depth,
                        status=COMPLETED if depth >= requested_depth else PENDING,
                        attempts=0, wave=wave, request_time=f"{lat}ms",
                    )
                    res.edges.append((parent_key, child_key, wave))
                    survivors += 1
                    m["children"] += 1
                if survivors == 0:
                    node.status = FAILED  # all children dropped (job.rs:340-343)
                    m["failed"] += 1
                else:
                    node.status = COMPLETED

            res.wave_metrics.append(m)
            res.waves_run = wave + 1

        if res.crawl_status == "running":
            res.crawl_status = res.derived_status()
        return res


def oracle_seed_for(i: int, params_seed_tag: str = "v1") -> int:
    """Stable pseudo-random int for parameterized tests."""
    return xxhash64_str(f"oracle-seed#{params_seed_tag}#{i}")
