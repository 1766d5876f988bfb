"""Keyset-paginated batch source (SURVEY §2 A4/A5, §4, I5/I6).

Reference semantics (_pagination_core, pushshift.py:113-146 in
/root/reference/timesearch_modules/pushshift.py):

- pages ordered by ``created_utc`` asc, page size N;
- next page starts at ``after = last_created - 1`` (1-second overlap so
  same-second items on the boundary aren't lost);
- items whose id appeared in the previous page are dropped (the overlap
  re-fetches them);
- iteration stops when a page is empty or is a subset of the previous one
  (protocol limit, same as the reference: a same-SECOND burst >= page_size
  makes the next page a subset and stops the scan — ts-keyset pagination
  cannot advance inside one timestamp; size pages above the max expected
  burst.  Property-tested in tests/test_properties.py);
- requests are retried forever with backoff (common.py:115-133).  The
  reference also rate-limits them (120/60 s, pushshift.py:54);
  :class:`RateLimiter` is that token bucket, for a ``fetch_page`` that
  needs it.

Spark shape: the network fetch is inherently driver-side (same as the
reference); each page becomes a small DataFrame appended through the
MERGE writer.  At scale the *archive* reads are partitioned parquet —
this source exists for live backfill, where the remote API is the
bottleneck (~2,000 items/s ceiling), so a driver loop loses nothing.
The cross-page dedup here mirrors the reference exactly; end-to-end
exactly-once lands in the idempotent upsert (operators.upsert).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator


class RateLimiter:
    """Token-bucket limiter (pushshift.py:54: allowance 120 / period 60 s)."""

    def __init__(self, allowance: int = 120, period: float = 60.0,
                 clock=time.monotonic, sleep=time.sleep):
        self.allowance = allowance
        self.period = period
        self._clock = clock
        self._sleep = sleep
        self._tokens = float(allowance)
        self._last = clock()

    def acquire(self) -> None:
        now = self._clock()
        self._tokens = min(
            self.allowance, self._tokens + (now - self._last) * self.allowance / self.period
        )
        self._last = now
        if self._tokens < 1.0:
            wait = (1.0 - self._tokens) * self.period / self.allowance
            self._sleep(wait)
            self._tokens = 1.0
            self._last = self._clock()
        self._tokens -= 1.0


def retry_forever(fn: Callable, sleep=time.sleep):
    """Retry-forever wrapper (common.py:115-133): a failed call is retried
    every 2 s, matching the reference's never-kill-the-stream behavior."""
    while True:
        try:
            return fn()
        except Exception:
            sleep(2.0)


def paginate(
    fetch_page: Callable[[int, int | None, int], list[dict]],
    lower: int = 0,
    upper: int | None = None,
    page_size: int = 1000,
) -> Iterator[list[dict]]:
    """Yield pages of dicts with the reference's keyset/overlap/dedup
    semantics.  ``fetch_page(after, before, limit)`` returns items sorted
    by ``created_utc`` asc, each a dict with ``id`` and ``created_utc``.
    """
    prev_ids: set = set()
    after = lower
    while True:
        batch = retry_forever(lambda: fetch_page(after, upper, page_size))
        if not batch:
            break
        ids = {item["id"] for item in batch}
        if ids.issubset(prev_ids):  # pushshift.py:143-145
            break
        new_items = [it for it in batch if it["id"] not in prev_ids]
        if new_items:
            yield new_items
        prev_ids = ids
        # keyset step with 1-second overlap (pushshift.py:138-142)
        after = batch[-1]["created_utc"] - 1


def enrichment_interleave(
    pages: Iterator[list[dict]],
    lookup: Callable[[list[str]], dict[str, dict]],
) -> Iterator[list[dict]]:
    """A5/C4: batched remote enrichment, later-wins ordering.

    For every 100 ids, fetch live copies and emit dummy rows at
    priority 1 followed by live rows at priority 2 — the ordering contract
    of supplement_reddit_data (pushshift.py:224-243) made explicit for the
    upsert's later-wins pick (operators.upsert._latest_per_key).
    """
    for page in pages:
        out = []
        for i in range(0, len(page), 100):
            chunk = page[i : i + 100]
            live = lookup([item["id"] for item in chunk])
            for item in chunk:
                out.append({**item, "source_priority": 1})
                if item["id"] in live:
                    out.append({**live[item["id"]], "source_priority": 2})
        yield out
