"""Partition-local bloom prefilter for URL-seen membership (J1 stage 1).

The reference does a two-stage dedup: an approximate server-side
pre-check (`UNWIND … OPTIONAL MATCH … WHERE n IS NULL`,
/root/reference/feeder/src/job.rs:138-165) followed by an exact MERGE
(feeder/src/job.rs:179-185).  Our engine mirrors it Spark-natively, per
the north rule ("URL-seen membership is a partition-local bloom/cuckoo
filter keyed by canonicalized URL hash"):

* **stage 1 (this module)**: per-bucket bloom bitmaps over
  ``xxhash64(full_key)``; candidates are tested vectorized (numpy bit
  ops over Arrow batches in ``mapInPandas``).  No false negatives, so
  a candidate the bloom calls *unseen* is certainly fresh and skips the
  exact join entirely.
* **stage 2 (engine)**: only the maybe-seen remainder goes through the
  exact left join against the frontier — the correctness backstop that
  absorbs bloom false positives.

Why this matters at 10^10 URLs: in a converging crawl most extracted
links are already-seen duplicates, and the exact anti-join shuffles the
full candidate set every wave.  The bloom keeps its verdict
partition-local, so the certainly-fresh majority of *new-frontier* links
never enters the join shuffle, and only true duplicates + the ~0.04%
false-positive tail pay for the exact check.

Distribution (the 10^10-row design point, round-3 redesign)
-----------------------------------------------------------
``BloomState`` is **file-backed and partition-local end-to-end** — the
round-2 design held every bucket's bitmap in one driver dict and
broadcast the whole dict to every executor each wave, which at
n_seen=10^10 x 16 bits/key is ~40 GB of driver memory AND ~40 GB of
broadcast per wave.  Now:

* State lives as one bitmap **file per bucket** in the snapshot store
  (the stand-in for a distributed FS; Iceberg would carry these as
  puffin/side files next to the table), referenced by an atomic
  ``manifest.json``.  Nothing bloom-sized ever lives on the driver.
* **build/update are distributed jobs**: seen/delta keys are shuffled
  *by bucket* (each bucket's keys land in one task), each task builds or
  ORs only *its* buckets' bitmaps and writes them back.  Per-task memory
  = bitmaps of the buckets in that task ~= total_bits / n_buckets.
* **verdict is partition-local**: candidates are co-partitioned by the
  same bucket key and sorted within partitions, so each task streams
  bucket-contiguous Arrow batches and holds AT MOST ONE bucket bitmap
  resident at a time (``_PartitionLocalTester``) — per-task state is
  exactly total_bits / n_buckets, as the north rule specifies.
* **incremental manifests**: a wave's update writes new files only for
  buckets its delta touched and carries the other buckets' paths forward
  (Iceberg-manifest style) — per-wave maintenance I/O is O(wave), not
  O(state).

The bucket of a key is the low ``log2(n_buckets)`` bits of its uint64
xxhash64 (``n_buckets`` must be a power of two): Spark-side
``bitwiseAND(n_buckets-1)`` and numpy-side ``% uint64(n_buckets)`` agree
exactly for every signed/unsigned reinterpretation.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig

_WORD_BITS = 64


def bucket_of_np(h_signed: np.ndarray, n_buckets: int) -> np.ndarray:
    """uint64 bucket id of a signed-int64 hash array (low-bits for pow2)."""
    return (h_signed.astype(np.uint64) % np.uint64(n_buckets)).astype(np.int64)


def bucket_col(hash_col: F.Column, n_buckets: int) -> F.Column:
    """Spark twin of :func:`bucket_of_np` — low ``log2(n)`` bits."""
    return hash_col.bitwiseAND(F.lit(n_buckets - 1))


def _bucket_bits(cfg: CrawlConfig, expected_keys_per_bucket: int) -> int:
    """Bitmap size per bucket, rounded up to whole 64-bit words."""
    bits = max(1 << 10, expected_keys_per_bucket * cfg.bloom_bits_per_key)
    return ((bits + _WORD_BITS - 1) // _WORD_BITS) * _WORD_BITS


def _probe_positions(hashes: np.ndarray, n_probes: int, m_bits: int) -> list[np.ndarray]:
    """Double hashing over the already-xxhash64'd key: position_i =
    (h1 + i*h2) mod m.  Vectorized over the whole batch.

    BOTH probe bases are murmur-style multiplicative mixes (xor-shift then
    odd-constant multiply, wrapping mod 2^64) of the key.  Using the raw
    hash as h1 is a trap: the bucket id is ``h % n_buckets`` and the
    position is ``h % m_bits`` — with power-of-two sizes every key in a
    bucket shares its low bits, shrinking the effective bitmap n_buckets-
    fold (measured 10x the theoretical FPP)."""
    h = hashes.astype(np.uint64)
    with np.errstate(over="ignore"):
        h1 = (h ^ (h >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
        h2 = (h ^ (h >> np.uint64(29))) * np.uint64(0xC4CEB9FE1A85EC53)
    h2 = h2 | np.uint64(1)  # odd => full-period stepping
    return [
        ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)
        for i in range(n_probes)
    ]


def _set_bits(bitmap: np.ndarray, positions: np.ndarray) -> None:
    np.bitwise_or.at(
        bitmap, positions // _WORD_BITS,
        np.uint64(1) << (positions % _WORD_BITS).astype(np.uint64),
    )


def _test_bits(bitmap: np.ndarray, positions: np.ndarray) -> np.ndarray:
    words = bitmap[positions // _WORD_BITS]
    mask = np.uint64(1) << (positions % _WORD_BITS).astype(np.uint64)
    return (words & mask) != 0


def _atomic_write_bytes(path: Path, data: bytes) -> None:
    tmp = path.with_name(path.name + f".tmp-{uuid.uuid4().hex[:8]}")
    tmp.write_bytes(data)
    os.replace(tmp, path)


# worker-level tester cache for the narrow partition-local verdict UDF:
# a scalar pandas UDF is re-invoked per Arrow batch, and Python workers
# are reused across batches/stages/waves — the cache keeps ONE tester
# (holding ONE resident bucket bitmap) alive per manifest version so a
# bucket file is read once per task, not once per batch.  Keyed by the
# manifest content; at most one entry is retained (a new wave's manifest
# evicts the old state).
_TESTER_CACHE: dict = {}


def _cached_tester(root: str, paths_items: tuple, n_buckets: int, n_probes: int):
    key = (root, paths_items, n_buckets, n_probes)
    if key not in _TESTER_CACHE:
        _TESTER_CACHE.clear()  # one live manifest per worker
        _TESTER_CACHE[key] = _PartitionLocalTester(
            root, dict(paths_items), n_buckets, n_probes
        )
    return _TESTER_CACHE[key]


class _PartitionLocalTester:
    """Streams Arrow batches against per-bucket bitmap FILES, holding at
    most ONE bucket's bitmap resident at a time.

    The caller co-partitions + sorts candidates by bucket, so batches are
    bucket-contiguous and each bucket's file is read ~once per task.
    ``peak_resident_bytes`` / ``n_loads`` instrument the partition-local
    guarantee for tests: peak == one bucket's bitmap == total/n_buckets.
    """

    def __init__(
        self, root: str, bucket_paths: dict[int, str], n_buckets: int, n_probes: int
    ) -> None:
        self.root = root
        self.bucket_paths = bucket_paths  # tiny: bucket id -> relative path
        self.n_buckets = n_buckets
        self.n_probes = n_probes
        self._resident_bucket: int | None = None
        self._resident_bm: np.ndarray | None = None
        self.peak_resident_bytes = 0
        self.n_loads = 0

    def _bitmap_for(self, b: int) -> np.ndarray | None:
        if self._resident_bucket == b:
            return self._resident_bm
        rel = self.bucket_paths.get(b)
        if rel is None:  # empty bucket => certainly fresh
            return None
        self._resident_bm = np.load(os.path.join(self.root, rel))
        self._resident_bucket = b
        self.n_loads += 1
        self.peak_resident_bytes = max(
            self.peak_resident_bytes, self._resident_bm.nbytes
        )
        return self._resident_bm

    def test(self, h_signed: np.ndarray) -> np.ndarray:
        verdict = np.zeros(len(h_signed), dtype=bool)
        buckets = bucket_of_np(h_signed, self.n_buckets)
        hu = h_signed.astype(np.uint64)
        for b in np.unique(buckets):  # sorted => resident bucket reused
            bm = self._bitmap_for(int(b))
            if bm is None:
                continue
            m_bits = len(bm) * _WORD_BITS
            sel = buckets == b
            hits = np.ones(int(sel.sum()), dtype=bool)
            for pos in _probe_positions(hu[sel], self.n_probes, m_bits):
                hits &= _test_bits(bm, pos)
            verdict[sel] = hits
        return verdict


class BloomState:
    """File-backed, partition-local bloom seen-set state for one crawl.

    Layout under ``root`` (inside the snapshot store — the distributed-FS
    stand-in; at production these are Iceberg side/puffin files)::

        manifest.json            {wave, m_bits, capacity, dedup_buckets,
                                  bloom_num_probes, buckets: {id: relpath}}
        v{wave}/b{bucket}.npy    one bitmap per bucket (written by tasks)

    Lifecycle mirrors the hash-table-style amortized growth of round 2
    (build once the seen set is worth prefiltering, full rebuild at 2x
    when outgrown, O(wave) delta updates in between) — but every step is
    a distributed job over bucket-partitioned keys and NOTHING bloom-sized
    touches the driver: the driver handles only the manifest (a 32-entry
    path dict).

    Correctness invariant: state must never MISS a seen key, so a loaded
    manifest is used only when its recorded wave equals the store's last
    committed wave AND its bucket/probe geometry matches the current
    config (a geometry change would silently produce false negatives —
    ADVICE round 2); anything else falls back to a full rebuild.
    """

    MANIFEST = "manifest.json"

    def __init__(
        self,
        root: str | Path,
        cfg: CrawlConfig,
        m_bits: int,
        capacity: int,
        wave: int,
        bucket_paths: dict[int, str],
    ) -> None:
        self.root = Path(root)
        self.cfg = cfg
        self.m_bits = m_bits
        self.capacity = capacity
        self.wave = wave
        self.bucket_paths = bucket_paths

    # -- internals ---------------------------------------------------------
    @staticmethod
    def _write_bucket_files(
        keys: DataFrame,
        root: Path,
        version: int,
        m_bits: int,
        n_buckets: int,
        n_probes: int,
        prev_paths: dict[int, str] | None,
        hash_col: str = "url_hash",
    ) -> dict[int, str]:
        """Distributed build/OR of per-bucket bitmap files.

        Keys are shuffled by bucket (all of a bucket's keys in one task);
        each task sets bits into its buckets' bitmaps — loading the
        previous version's file first when ``prev_paths`` is given (the
        incremental OR) — and writes ``v{version}/b{bucket}.npy``.
        Returns the written {bucket: relpath} map (task output rows are
        just (bucket, relpath) — bitmap bytes never reach the driver).
        """
        vdir = root / f"v{version:05d}"
        vdir.mkdir(parents=True, exist_ok=True)
        root_s, prev = str(root), dict(prev_paths or {})

        def write_partial(batches):
            import io  # noqa: PLC0415

            import pandas as pd  # noqa: PLC0415

            acc: dict[int, np.ndarray] = {}
            for pdf in batches:
                h = pdf[hash_col].to_numpy(dtype=np.int64)
                buckets = bucket_of_np(h, n_buckets)
                hu = h.astype(np.uint64)
                for b in np.unique(buckets):
                    b = int(b)
                    if b not in acc:
                        rel = prev.get(b)
                        acc[b] = (
                            np.load(os.path.join(root_s, rel)).copy()
                            if rel is not None
                            else np.zeros(m_bits // _WORD_BITS, np.uint64)
                        )
                    for pos in _probe_positions(hu[buckets == b], n_probes, m_bits):
                        _set_bits(acc[b], pos)
            rels = []
            for b, bm in acc.items():
                rel = f"v{version:05d}/b{b:05d}.npy"
                buf = io.BytesIO()
                np.save(buf, bm)
                _atomic_write_bytes(Path(root_s) / rel, buf.getvalue())
                rels.append((b, rel))
            yield pd.DataFrame(
                {"bucket": [r[0] for r in rels], "relpath": [r[1] for r in rels]}
            )

        written = (
            keys.select(hash_col)
            .repartition(n_buckets, bucket_col(F.col(hash_col), n_buckets))
            .mapInPandas(write_partial, schema="bucket int, relpath string")
            .collect()
        )
        out = dict(prev)  # untouched buckets carry their old files forward
        for r in written:
            out[int(r.bucket)] = r.relpath
        return out

    def _save_manifest(self) -> None:
        payload = json.dumps(
            {
                "wave": self.wave,
                "m_bits": self.m_bits,
                "capacity": self.capacity,
                "dedup_buckets": self.cfg.dedup_buckets,
                "bloom_num_probes": self.cfg.bloom_num_probes,
                "buckets": {str(b): p for b, p in self.bucket_paths.items()},
            }
        )
        _atomic_write_bytes(self.root / self.MANIFEST, payload.encode())

    def _gc_versions(self, prev_paths: dict[int, str] | None = None) -> None:
        """Drop version dirs referenced by neither the current manifest
        nor the immediately-previous one (best-effort).

        GC is deferred by ONE version on purpose: a ``verdict()``
        DataFrame captures the bucket file paths of the state it was
        created from, and a lazily-evaluated (or cache-evicted) verdict
        may re-read those files after the next ``update()`` — immediate
        GC made that public sequence fail at task level with
        FileNotFoundError (round-3 ADVICE).  One deferral window covers
        one subsequent update/build; see the staleness note on
        :meth:`verdict`."""
        live = {p.split("/", 1)[0] for p in self.bucket_paths.values()}
        if prev_paths:
            live |= {p.split("/", 1)[0] for p in prev_paths.values()}
        try:
            for d in self.root.iterdir():
                if d.is_dir() and d.name.startswith("v") and d.name not in live:
                    shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def build(
        cls,
        seen_keys: DataFrame,
        cfg: CrawlConfig,
        n_seen: int,
        root: str | Path,
        wave: int,
    ) -> "BloomState":
        """Full rebuild from the current seen set, sized for 2x headroom.

        Sizing is per-bucket (capacity / n_buckets keys per bucket at
        bloom_bits_per_key) — round 2 divided by n_buckets twice, leaving
        bitmaps ~32x undersized at design capacity (ADVICE round 2)."""
        root = Path(root)
        # the superseded state's files (if any) survive one build — same
        # one-version GC deferral as update(), so a pre-rebuild verdict
        # stays computable (see _gc_versions)
        prev: dict[int, str] | None = None
        try:
            m = json.loads((root / cls.MANIFEST).read_text())
            prev = {int(b): p for b, p in m["buckets"].items()}
        except Exception:  # noqa: BLE001 — no/corrupt prior manifest
            prev = None
        capacity = max(2 * n_seen, 2 * cfg.bloom_min_seen, 1 << 17)
        per_bucket = max(1 << 12, -(-capacity // cfg.dedup_buckets))
        m_bits = _bucket_bits(cfg, per_bucket)
        paths = cls._write_bucket_files(
            seen_keys, root, wave, m_bits, cfg.dedup_buckets,
            cfg.bloom_num_probes, prev_paths=None,
        )
        st = cls(root, cfg, m_bits, capacity, wave, paths)
        st._save_manifest()
        st._gc_versions(prev_paths=prev)
        return st

    def needs_rebuild(self, n_seen: int) -> bool:
        return n_seen > self.capacity

    def update(self, delta_keys: DataFrame, wave: int) -> None:
        """OR one wave's insert keys into the state (distributed job,
        O(delta) work): only buckets the delta touches get new files;
        the manifest carries the rest forward by reference."""
        prev = self.bucket_paths
        self.bucket_paths = self._write_bucket_files(
            delta_keys, self.root, wave, self.m_bits, self.cfg.dedup_buckets,
            self.cfg.bloom_num_probes, prev_paths=prev,
        )
        self.wave = wave
        self._save_manifest()
        self._gc_versions(prev_paths=prev)

    @classmethod
    def load(
        cls, root: str | Path, cfg: CrawlConfig, expect_wave: int
    ) -> "BloomState | None":
        """Load persisted state; None unless the manifest matches
        ``expect_wave`` exactly AND the bucket/probe geometry matches the
        current config (stale or re-geometried state would have false
        negatives => duplicate URLs in the frontier).  This is a
        best-effort cache: ANY read/parse failure (truncated manifest,
        missing bitmap file, …) falls back to a full rebuild."""
        try:
            m = json.loads((Path(root) / cls.MANIFEST).read_text())
            if (
                int(m["wave"]) != expect_wave
                or int(m["dedup_buckets"]) != cfg.dedup_buckets
                or int(m["bloom_num_probes"]) != cfg.bloom_num_probes
            ):
                return None
            paths = {int(b): p for b, p in m["buckets"].items()}
            for p in paths.values():  # verify referenced files exist
                if not (Path(root) / p).is_file():
                    return None
            return cls(
                root, cfg, int(m["m_bits"]), int(m["capacity"]),
                int(m["wave"]), paths,
            )
        except Exception:  # noqa: BLE001 — best-effort cache by contract
            return None

    # -- verdict -----------------------------------------------------------
    def verdict(
        self, cand: DataFrame, hash_expr: F.Column, flag: str = "maybe_seen"
    ) -> DataFrame:
        """Partition-local stage-1 verdict (no false negatives).

        Candidates are co-partitioned by the state's bucket key and
        sorted within partitions, so each task streams bucket-contiguous
        batches and holds at most ONE bucket bitmap (total/n_buckets
        bytes) resident — the whole state is never assembled anywhere.

        Physically: the repartition/sort stays JVM-side (columnar
        shuffle), and the verdict itself is a NARROW scalar pandas UDF —
        only the 8-byte hash column crosses the Arrow boundary, never
        the candidate rows (a first version used mapInPandas, which
        ships every column through Python; measured +27% whole-crawl
        wall at 600k docs — the round-2 wide-Arrow lesson again).
        Schema in == schema out + the flag column.

        Staleness: the returned DataFrame reads the bucket FILES of the
        state as of this call.  Version GC is deferred by one update, so
        the result stays computable across ONE subsequent
        ``update()``/``build()`` on this state; materialize it fully
        before a second one, after which the captured files may be
        garbage-collected.
        """
        from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

        n_buckets, n_probes = self.cfg.dedup_buckets, self.cfg.bloom_num_probes
        root_s = str(self.root)
        paths_items = tuple(sorted(self.bucket_paths.items()))
        bcol = bucket_col(F.col("_bloom_h"), n_buckets)
        part = (
            cand.withColumn("_bloom_h", hash_expr)
            .repartition(n_buckets, bcol)
            .sortWithinPartitions(bcol)
        )

        def _test(hashes):  # pd.Series[int64] -> pd.Series[bool]
            import pandas as pd  # noqa: PLC0415

            tester = _cached_tester(root_s, paths_items, n_buckets, n_probes)
            return pd.Series(tester.test(hashes.to_numpy(dtype=np.int64)))

        return part.withColumn(flag, pandas_udf(_test, "boolean")(F.col("_bloom_h"))).drop(
            "_bloom_h"
        )
