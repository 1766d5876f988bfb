"""Concrete ``fetch_page`` adapters for the paginated source seam.

``sources.paginated.paginate`` abstracts the remote API as
``fetch_page(after, before, limit) -> list[dict]`` (items sorted by
``created_utc`` asc, each carrying ``id`` + ``created_utc``).  The
reference hard-codes one remote (pushshift.py:148-164 builds the URL,
common.py:115-133 retries); this engine keeps the seam injectable and
ships two reference implementations:

- ``ndjson_fetch_page``: a local NDJSON archive file served as keyset
  pages — the offline stand-in used by the CLI (this sandbox has no
  network), and the shape any bulk-dump replay takes.
- ``http_fetch_page``: the remote-API shape (URL template with
  after/before/limit query params, JSON body with a ``data`` list),
  mirroring pushshift.py:148-164.  The HTTP opener is injectable so the
  adapter is unit-testable without a network; production callers pass
  nothing and get urllib.  Rate limiting and retry stay where they
  already live (paginated.RateLimiter / retry_forever) — the adapter
  only fetches.

Both run driver-side by design: the remote API (or its file stand-in)
is the bottleneck of a live backfill (~2,000 items/s ceiling), so a
driver loop loses nothing; archive READS are partitioned parquet.
"""

from __future__ import annotations

import json
from collections.abc import Callable


def ndjson_fetch_page(path: str) -> Callable[[int, int | None, int], list[dict]]:
    """A ``fetch_page`` over a local NDJSON file: lines parsed once,
    sorted by (created_utc, id), then served as keyset slices with
    exactly the remote semantics (half-open ``(after, before)``
    exclusive bounds, ``limit`` items per page, asc order).

    Memory is bounded by the archive file — the same bound the
    reference's one-process ingest has; this is the API *stand-in*, not
    the analytic read path.
    """
    items: list[dict] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            obj = json.loads(line)
            if obj.get("created_utc") is None or obj.get("id") is None:
                continue
            items.append(obj)
    items.sort(key=lambda it: (it["created_utc"], it["id"]))
    created = [it["created_utc"] for it in items]  # sorted, for bisect

    def fetch_page(after: int, before: int | None, limit: int) -> list[dict]:
        import bisect

        # binary-search the first item with ts > after: a linear skip
        # made a full pagination pass O(n²/page_size) over a large
        # archive (every page rescanned the consumed prefix)
        start = bisect.bisect_right(created, after)
        out = []
        for it in items[start : start + limit]:
            if before is not None and it["created_utc"] >= before:
                break
            out.append(it)
        return out

    return fetch_page


def http_fetch_page(
    url_template: str,
    opener: Callable[[str], bytes] | None = None,
) -> Callable[[int, int | None, int], list[dict]]:
    """A ``fetch_page`` over a remote JSON API (pushshift.py:148-164's
    shape): ``url_template`` is formatted with ``after``/``before``/
    ``limit`` (e.g. ``https://host/search?after={after}&before={before}
    &limit={limit}``), the response body is JSON whose ``data`` key holds
    the item list.

    ``opener(url) -> bytes`` is injectable for tests / custom auth; the
    default uses urllib with a 30 s timeout.  Retry/backoff belongs to
    ``paginated.retry_forever`` (the caller), not here, so one policy
    governs every adapter.
    """
    if opener is None:  # pragma: no cover - no network in this sandbox
        from urllib.request import urlopen

        def opener(url: str) -> bytes:
            with urlopen(url, timeout=30) as resp:
                return resp.read()

    def fetch_page(after: int, before: int | None, limit: int) -> list[dict]:
        url = url_template.format(
            after=after, before="" if before is None else before, limit=limit
        )
        body = json.loads(opener(url).decode("utf-8"))
        data = body.get("data", []) if isinstance(body, dict) else body
        # drop malformed items (null/absent created_utc or id) — the same
        # contract ndjson_fetch_page applies.  A KeyError here would be
        # DETERMINISTIC, and the caller's retry_forever would re-fetch the
        # same page every backoff interval for eternity.
        data = [
            it
            for it in data
            if it.get("created_utc") is not None and it.get("id") is not None
        ]
        return sorted(data, key=lambda it: (it["created_utc"], it["id"]))

    return fetch_page
