"""Fetch transports with retry/backoff semantics.

Re-expresses the reference crawler's asyncRequest.py:31-139
(``send_http``): bounded retries (``:61-66``), multiplicative backoff
(``:68-75``), retryable status codes {500, 502, 503, 504} (``:9``).

Two transports:

- ``PagesTableTransport`` — resolves URLs against the Common-Crawl-style
  pages parquet (the sandbox's network stand-in per FIXTURES.md: "every
  fetch resolves against the pages table"). Opens the parquet once per
  process (module-global cache) and serves lookups from an in-memory dict;
  on a real cluster this slot is an HTTP client pool or a KV store.
- ``FlakyTransport`` — deterministic failure injection for retry tests.

The crawl engine does not call a transport: it fetches with a relational
LEFT join of the dequeued URLs against the page store cached
hash-partitioned and sorted on url (``CrawlEngine._process``), which
Catalyst/AQE plan without a per-row Python hop.
"""

from __future__ import annotations

RETRYABLE = (500, 502, 503, 504)  # asyncRequest.py:9

_PAGES_CACHE: dict[str, dict[str, bytes]] = {}


def _load_pages(path: str) -> dict[str, bytes]:
    if path not in _PAGES_CACHE:
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=["url", "html"])
        _PAGES_CACHE[path] = dict(
            zip(tbl.column("url").to_pylist(), tbl.column("html").to_pylist())
        )
    return _PAGES_CACHE[path]


class PagesTableTransport:
    """fetch(url) -> (status, html) against the pages parquet."""

    def __init__(self, pages_path: str):
        self.pages_path = pages_path

    def fetch(self, url: str) -> tuple[int, bytes | None]:
        pages = _load_pages(self.pages_path)
        html = pages.get(url)
        return (200, html) if html is not None else (404, None)


class FlakyTransport(PagesTableTransport):
    """Fails the first ``fail_times`` attempts per URL matching ``marker``
    with a retryable 503 — deterministic, per-executor attempt counters."""

    def __init__(self, pages_path: str, marker: str = "/p/1", fail_times: int = 2):
        super().__init__(pages_path)
        self.marker = marker
        self.fail_times = fail_times
        self._attempts: dict[str, int] = {}

    def fetch(self, url: str) -> tuple[int, bytes | None]:
        if self.marker in url:
            n = self._attempts.get(url, 0)
            self._attempts[url] = n + 1
            if n < self.fail_times:
                return (503, None)
        return super().fetch(url)


def fetch_with_retry(
    transport, url: str, retries: int = 3, interval_s: float = 0.0, backoff: float = 1.0
) -> tuple[int, bytes | None, int]:
    """send_http semantics: retry retryable statuses up to ``retries`` times
    with multiplicative backoff. interval defaults to 0 in tests (the
    reference sleeps 5 s, asyncRequest.py:31-38)."""
    import time

    attempt = 0
    wait = interval_s
    while True:
        attempt += 1
        status, html = transport.fetch(url)
        if status == 200 or status not in RETRYABLE or attempt > retries:
            return status, html, attempt
        if wait > 0:
            time.sleep(wait)
            wait *= backoff
