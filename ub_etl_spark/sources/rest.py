"""Paginated REST source (SURVEY.md A1) as a Spark 4 Python DataSource.

The reference fetches pages serially in-process with sleep-based pacing
and ad-hoc retry (scripts/course_catalog.py:178-224,
scripts/user_course_activity.py:129-162; policy README.md:128-140).  The
Spark-native design:

  - **partitioned fetch**: the page space is split into page-ranges, one
    InputPartition per range, so a 1000-executor cluster fetches in
    parallel instead of one page at a time (the reference's ceiling was
    ~1.9 records/s — SURVEY.md §6).
  - **retry with bounded backoff** per request inside the partition
    reader (classes of the reference's handle_http_error: retryable
    statuses get exponential backoff, capped; others raise).
  - **token-bucket pacing** per partition replaces the global modulo
    sleeps: `min_request_interval_s` bounds request rate per reader.
  - cursor-style APIs (opaque `next` URLs) degrade to a single partition
    (cursor chains are inherently serial); offset/page APIs parallelize.

Registration:
    spark.dataSource.register(RestPaginatedDataSource)
    df = (spark.read.format("rest_paginated")
          .schema(record_schema)
          .option("url", "http://host/api/courses")
          .option("pages", 100)            # total pages to fetch
          .option("page_size", 20)
          .option("partitions", 8)         # page-ranges fetched in parallel
          .load())

Streaming (`spark.readStream.format("rest_paginated")`): a
SimpleDataSourceStreamReader whose checkpointed offset IS the page
cursor — each micro-batch pulls `pages_per_batch` pages, recovery
replays the exact page window (readBetweenOffsets), and the offset pins
when the API drains so `trigger(availableNow)` terminates.  This is the
Spark-native form of the reference's incremental-refresh contract
(README.md:156-163) feeding the idempotent merge sinks (A10/A11).

Cursor mode (`.option("mode", "cursor")`): for APIs whose `next` is an
opaque token/URL rather than a page number.  One InputPartition (cursor
chains are inherently serial — each response reveals the next URL);
follows `next` until null or `max_pages` requests.  Relative `next`
values resolve against the request URL (urljoin).

The HTTP layer is urllib-only (stdlib); tests drive it against a local
http.server stub — no external network involved.
"""

from __future__ import annotations

import http.client
import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

RETRYABLE_STATUSES = {429, 503, 524}  # scripts/user_course_activity.py:165-178


@dataclass
class PageRange(InputPartition):
    start_page: int  # 1-based, inclusive
    end_page: int  # exclusive


@dataclass
class CursorChain(InputPartition):
    start_url: str


def fetch_json(url: str, timeout: float, max_retries: int, backoff_s: float):
    """GET+parse with bounded exponential backoff on retryable failures.

    Mirrors the reference's retry classes (JSON decode error and HTTP
    429/503/524 retry; everything else aborts) but with sane backoff
    instead of fixed 30-60 min sleeps.  Transport faults are retried too:
    a connection reset before the response (``RemoteDisconnected``, which
    urllib does not wrap in ``URLError``) and a truncated body
    (``IncompleteRead``); under ``local[N]`` one such fault would
    otherwise fail the whole read.
    """
    attempt = 0
    while True:
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            if e.code not in RETRYABLE_STATUSES or attempt >= max_retries:
                raise
        except (
            json.JSONDecodeError,
            urllib.error.URLError,
            TimeoutError,
            ConnectionError,
            http.client.HTTPException,
        ):
            if attempt >= max_retries:
                raise
        time.sleep(min(backoff_s * (2**attempt), 30.0))
        attempt += 1


class RestPaginatedReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema_ = schema
        self.url = options["url"]
        self.pages = int(options.get("pages", 1))
        self.page_size = int(options.get("page_size", 20))
        self.n_partitions = int(options.get("partitions", 4))
        self.timeout = float(options.get("timeout", 10.0))
        self.max_retries = int(options.get("max_retries", 3))
        self.backoff_s = float(options.get("backoff_s", 0.1))
        self.min_interval = float(options.get("min_request_interval_s", 0.0))
        self.results_key = options.get("results_key", "results")
        self.mode = options.get("mode", "pages")  # "pages" | "cursor"
        self.next_key = options.get("next_key", "next")
        # cursor mode: hard request cap so a server that always returns a
        # `next` link can't loop the reader forever.  The default must NOT
        # fall back to `pages` (its default of 1 would silently stop after
        # one request); cursor APIs advertise no page count, so the cap is
        # the only bound.
        if "max_pages" in options:
            self.max_pages = int(options["max_pages"])
        else:
            self.max_pages = self.pages if self.mode == "pages" else 10000

    def partitions(self):
        if self.mode == "cursor":
            # opaque-next chains are serial by construction: degrade to ONE
            # partition rather than fabricating page numbers the API never
            # promised (doc header; reference pagination contract
            # scripts/course_catalog.py:204-208)
            return [CursorChain(self.url)]
        n = max(1, min(self.n_partitions, self.pages))
        per = (self.pages + n - 1) // n
        return [
            PageRange(start, min(start + per, self.pages + 1))
            for start in range(1, self.pages + 1, per)
        ]

    def _pace(self, last_request: float) -> float:
        # token-bucket pacing (replaces modulo sleeps,
        # scripts/course_catalog.py:216-221)
        if self.min_interval > 0:
            wait = self.min_interval - (time.monotonic() - last_request)
            if wait > 0:
                time.sleep(wait)
        return time.monotonic()

    def read(self, partition):
        fields = [f.name for f in self.schema_.fields]
        last_request = 0.0
        if isinstance(partition, CursorChain):
            from urllib.parse import urljoin

            url = partition.start_url
            for _ in range(self.max_pages):
                last_request = self._pace(last_request)
                data = fetch_json(url, self.timeout, self.max_retries, self.backoff_s)
                for rec in data.get(self.results_key, []):
                    yield tuple(rec.get(f) for f in fields)
                nxt = data.get(self.next_key)
                if not nxt:
                    return
                url = urljoin(url, nxt)
            return
        for page in range(partition.start_page, partition.end_page):
            last_request = self._pace(last_request)
            sep = "&" if "?" in self.url else "?"
            url = f"{self.url}{sep}page={page}&page_size={self.page_size}"
            data = fetch_json(url, self.timeout, self.max_retries, self.backoff_s)
            for rec in data.get(self.results_key, []):
                yield tuple(rec.get(f) for f in fields)


class RestStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch incremental REST ingestion — the Spark-native shape of
    the reference's refresh contract (README.md:156-163): each trigger
    pulls the next `pages_per_batch` pages, the page cursor IS the
    checkpointed offset, and failure recovery replays the exact page
    window via readBetweenOffsets (deterministic: page-addressed APIs
    return the same window for the same offsets — exactly-once lands on
    the idempotent sink, A10/A17).

    When a page reports no `next` link the offset stops advancing, so
    `trigger(availableNow=True)` drains the API and terminates — the
    batch-job usage — while a processing-time trigger keeps polling for
    newly published pages (the incremental-refresh usage, A18).
    """

    def __init__(self, schema, options):
        self.schema_ = schema
        self.url = options["url"]
        self.page_size = int(options.get("page_size", 20))
        self.pages_per_batch = int(options.get("pages_per_batch", 10))
        self.timeout = float(options.get("timeout", 10.0))
        self.max_retries = int(options.get("max_retries", 3))
        self.backoff_s = float(options.get("backoff_s", 0.1))
        self.results_key = options.get("results_key", "results")
        self.next_key = options.get("next_key", "next")

    def initialOffset(self) -> dict:
        return {"page": 1}

    def _fetch_page(self, page: int):
        sep = "&" if "?" in self.url else "?"
        url = f"{self.url}{sep}page={page}&page_size={self.page_size}"
        return fetch_json(url, self.timeout, self.max_retries, self.backoff_s)

    def read(self, start: dict):
        fields = [f.name for f in self.schema_.fields]
        first = start["page"]
        rows: list[tuple] = []
        page = first
        while page < first + self.pages_per_batch:
            data = self._fetch_page(page)
            recs = data.get(self.results_key, [])
            if not recs and not data.get(self.next_key):
                # drained: do NOT consume this page — the offset pins here,
                # which is what lets trigger(availableNow) terminate and a
                # processing-time trigger pick up pages published later
                break
            rows.extend(tuple(rec.get(f) for f in fields) for rec in recs)
            page += 1
            if not data.get(self.next_key):
                break
        if page == first:
            return iter(()), start
        return iter(rows), {"page": page}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay of [start.page, end.page) after recovery."""
        fields = [f.name for f in self.schema_.fields]
        for page in range(start["page"], end["page"]):
            data = self._fetch_page(page)
            for rec in data.get(self.results_key, []):
                yield tuple(rec.get(f) for f in fields)


class RestCursorStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch incremental ingestion for OPAQUE-cursor APIs: the
    checkpointed offset is the next unconsumed URL itself, not a page
    number (a page-numbered offset cannot address an API whose `next` is
    an opaque token).  Each trigger follows up to `pages_per_batch` links
    from the checkpointed URL; recovery replay (readBetweenOffsets)
    re-walks the chain from start URL to end URL — deterministic as long
    as the server's chain is stable for already-served cursors, which is
    the same contract page-mode replay assumes of page contents.

    When the chain ends the offset records done=True and pins, so
    `trigger(availableNow)` terminates; a later run with a processing-time
    trigger re-probes the LAST url for a newly-published `next` link
    (cursor APIs extend the chain at the tail)."""

    def __init__(self, schema, options):
        self.schema_ = schema
        self.url = options["url"]
        self.pages_per_batch = int(options.get("pages_per_batch", 10))
        self.timeout = float(options.get("timeout", 10.0))
        self.max_retries = int(options.get("max_retries", 3))
        self.backoff_s = float(options.get("backoff_s", 0.1))
        self.results_key = options.get("results_key", "results")
        self.next_key = options.get("next_key", "next")

    def initialOffset(self) -> dict:
        return {"url": self.url, "done": False}

    def _walk(self, url: str, limit: int):
        """Follow up to `limit` links; yield (url, data) per request."""
        from urllib.parse import urljoin

        for _ in range(limit):
            data = fetch_json(url, self.timeout, self.max_retries, self.backoff_s)
            yield url, data
            nxt = data.get(self.next_key)
            if not nxt:
                return
            url = urljoin(url, nxt)

    def read(self, start: dict):
        from urllib.parse import urljoin

        fields = [f.name for f in self.schema_.fields]
        url = start["url"]
        if start.get("done"):
            # re-probe the pinned tail once: a drained chain can grow a new
            # `next` after later publishes; records at the tail URL itself
            # were already consumed by the batch that pinned it
            data = fetch_json(url, self.timeout, self.max_retries, self.backoff_s)
            nxt = data.get(self.next_key)
            if not nxt:
                return iter(()), start
            start = {"url": urljoin(url, nxt), "done": False}
            url = start["url"]
        rows: list[tuple] = []
        last_url, last_data = url, None
        for last_url, last_data in self._walk(url, self.pages_per_batch):
            rows.extend(
                tuple(rec.get(f) for f in fields)
                for rec in last_data.get(self.results_key, [])
            )
        if last_data is None:
            return iter(()), start
        nxt = last_data.get(self.next_key)
        if nxt:
            end = {"url": urljoin(last_url, nxt), "done": False}
        else:
            end = {"url": last_url, "done": True}
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay [start.url, end.url) — or through end.url itself when end
        is a pinned done-offset (a done offset's records WERE consumed by
        the batch that pinned it; an open offset's belong to the next)."""
        from urllib.parse import urljoin

        fields = [f.name for f in self.schema_.fields]
        if start.get("done"):
            # the start URL's records are consumed; replay begins at the
            # link its tail grew afterwards (if none, nothing to replay)
            if start["url"] == end["url"]:
                return
            data = fetch_json(
                start["url"], self.timeout, self.max_retries, self.backoff_s
            )
            nxt = data.get(self.next_key)
            if not nxt:
                return
            begin = urljoin(start["url"], nxt)
        else:
            begin = start["url"]
        if begin == end["url"] and not end.get("done"):
            return
        for url, data in self._walk(begin, 10_000_000):
            if not end.get("done") and url == end["url"]:
                return
            for rec in data.get(self.results_key, []):
                yield tuple(rec.get(f) for f in fields)
            if end.get("done") and url == end["url"]:
                return


class RestPaginatedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rest_paginated"

    def reader(self, schema) -> DataSourceReader:
        return RestPaginatedReader(schema, self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        if self.options.get("mode", "pages") == "cursor":
            return RestCursorStreamReader(schema, self.options)
        return RestStreamReader(schema, self.options)
