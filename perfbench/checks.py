"""Output checks and the small statistics the report uses."""

from __future__ import annotations

import hashlib
import statistics
import sys
import time
import traceback


class Ops:
    """Counts operations attempted and failed.

    A crawl, a read-API call and a query each count as one operation. An
    operation fails when it raises or when any check on its output fails;
    the run goes on either way and reports ``failed / attempted``."""

    def __init__(self) -> None:
        self.attempted = 0
        self._failed_ops: set[int] = set()

    @property
    def failed(self) -> int:
        return len(self._failed_ops)

    def run(self, name: str, fn, *args, **kwargs):
        """Call ``fn``; on an exception count one failed op, return None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — the benchmark reports and goes on
            self._fail(name, traceback.format_exc(limit=3))
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Mark the op counted by the last ``run`` failed if ``ok`` is
        false. Several failed checks on one op fail it once."""
        if not ok:
            self._fail(name, detail)
        return ok

    def _fail(self, name: str, detail: str) -> None:
        self._failed_ops.add(self.attempted)
        print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)


T0 = time.time()


def phase(msg: str) -> None:
    """One progress line on stderr, stamped with seconds since start."""
    print(f"[{time.time() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def frontier_digest(nodes, edges) -> str:
    """Order-independent digest of a crawl state: node tuples
    ``(full_key, name, http_type, depth, status, attempts, wave, domain,
    ip, request_time)`` and edge tuples ``(src, dst, wave)``."""
    h = hashlib.sha256()
    for t in sorted(repr(tuple(n)) for n in nodes):
        h.update(t.encode())
    h.update(b"|edges|")
    for t in sorted(repr(tuple(e)) for e in edges):
        h.update(t.encode())
    return h.hexdigest()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs) -> tuple[float, float] | None:
    """(p, value) for the highest percentile p that has at least ten
    samples above it: the (n-10)-th smallest of n samples. None below 20
    samples, where p would fall under the median."""
    n = len(xs)
    if n < 20:
        return None
    return (n - 10) / n, sorted(xs)[n - 11]
