"""Mock-HTTP exercise of the fetcher seam (VERDICT r5 #6): a requests-shaped
fake transport — status codes, 429 Retry-After, empty last page — wired
through the DataSource ``fetcher`` option END TO END, proving the "live HTTP
is a config swap" claim without network. The shipped HTTP fetcher
(sources/http.py, stdlib urllib) is the real implementation; only the
transport layer is faked here (ref contract: TrafficAnalysis.py:31-53)."""

from __future__ import annotations

import json
import os

import pytest

from trafficanalysisbigdata_spark.sources.http import (
    HttpStatusError,
    RateLimitedError,
    fetch_page_http,
)
from trafficanalysisbigdata_spark.sources.paginated import FetchError, RetryingFetcher

# ---------------------------------------------------------------------------
# fake server: address = a page file path; the transport wraps its content in
# an HTTP envelope. Pages named *flaky* 429 exactly once (a sentinel file
# keeps the state OUT of this module, because the executor imports its own
# copy); missing files 404. Module-level so the DataSource's dotted-path
# option can resolve it on the executor.
# ---------------------------------------------------------------------------


def fake_server_transport(url: str) -> tuple[int, dict, bytes]:
    if "flaky" in os.path.basename(url):
        sentinel = url + ".hit429"
        if not os.path.exists(sentinel):
            with open(sentinel, "w") as f:
                f.write("1")
            return 429, {"Retry-After": "0.01"}, b""
    if not os.path.exists(url):
        return 404, {}, b""
    with open(url, "rb") as f:
        return 200, {"Content-Type": "application/json"}, f.read()


def fake_api_fetch(url: str) -> list[dict]:
    """The PageFetcher the DataSource option names: shipped HTTP fetcher over
    the fake transport."""
    return fetch_page_http(url, transport=fake_server_transport)


# ---------------------------------------------------------------------------
# driver-side unit coverage of the HTTP status contract
# ---------------------------------------------------------------------------


def test_http_fetcher_status_handling():
    ok = lambda body: (lambda url: (200, {}, body))  # noqa: E731
    assert fetch_page_http("u", ok(b'[{"a": "1"}]')) == [{"a": "1"}]
    assert fetch_page_http("u", ok(b"")) == []  # empty last page: API ran dry
    assert fetch_page_http("u", ok(b"  \n")) == []

    with pytest.raises(HttpStatusError) as e:
        fetch_page_http("u", lambda url: (404, {}, b"gone"))
    assert e.value.status == 404

    with pytest.raises(RateLimitedError) as e:
        fetch_page_http("u", lambda url: (429, {"retry-after": "7"}, b""))
    assert e.value.retry_after_s == 7.0

    # HTTP-date Retry-After isn't parsed — backoff decides instead of crashing
    with pytest.raises(RateLimitedError) as e:
        fetch_page_http(
            "u", lambda url: (429, {"Retry-After": "Wed, 21 Oct 2026 07:28:00 GMT"}, b"")
        )
    assert e.value.retry_after_s is None

    with pytest.raises(ValueError):
        fetch_page_http("u", ok(b'{"not": "a list"}'))


def test_retrying_fetcher_honors_retry_after():
    """A 429's Retry-After stretches the pause beyond exponential backoff;
    the backoff floor still applies when Retry-After is shorter."""
    slept, calls = [], []

    def rate_limited_then_ok(url):
        calls.append(url)
        if len(calls) < 3:
            # server asks for 5s — far above the 0.1s backoff
            raise RateLimitedError(url, 5.0)
        return [{"a": "1"}]

    f = RetryingFetcher(
        rate_limited_then_ok, "test-http-429", retries=3, backoff_s=0.1, sleep=slept.append
    )
    assert f("p") == [{"a": "1"}]
    assert slept == [5.0, 5.0]  # max(backoff, retry_after) both times

    slept2, calls2 = [], []

    def tiny_retry_after(url):
        calls2.append(url)
        if len(calls2) < 2:
            raise RateLimitedError(url, 0.01)
        return []

    f2 = RetryingFetcher(
        tiny_retry_after, "test-http-retry-after", retries=2, backoff_s=1.0, sleep=slept2.append
    )
    assert f2("p") == []
    assert slept2 == [1.0]  # backoff floor wins over a tiny Retry-After

    def always_404(url):
        raise HttpStatusError(url, 404)

    f3 = RetryingFetcher(
        always_404, "test-http-404", retries=1, backoff_s=0.0, sleep=lambda s: None
    )
    with pytest.raises(FetchError):  # budget exhausts, cause chained
        f3("p")


# ---------------------------------------------------------------------------
# end to end: DataSource → fetcher option → HTTP fetcher → fake transport
# ---------------------------------------------------------------------------


def test_paginated_scan_over_mock_http(spark, tmp_path):
    """Three pages through the full executor path: a normal page, a page
    that 429s once then succeeds (Retry-After honored by the retry option),
    and an empty last page. Every row lands; the 429 demonstrably fired."""
    from trafficanalysisbigdata_spark.session import prep
    from trafficanalysisbigdata_spark.sources.paginated import PaginatedJsonDataSource

    prep(spark)
    pages = tmp_path / "api_pages"
    pages.mkdir()
    # HTTP body shape: a JSON LIST per page (the Socrata contract), unlike
    # the default file fetcher's JSONL — the HTTP fetcher owns the parse.
    (pages / "page-00000.json").write_text(
        json.dumps([{"requestid": "1", "boro": "Queens"}, {"requestid": "2", "boro": "Bronx"}])
    )
    (pages / "page-00001-flaky.json").write_text(json.dumps([{"requestid": "3"}]))
    (pages / "page-00002.json").write_text("")  # API ran dry

    spark.dataSource.register(PaginatedJsonDataSource)
    df = (
        spark.read.format("paginated_json")
        .option("fetcher", "tests.test_http_fetcher:fake_api_fetch")
        .option("retries", "3")
        .option("backoff_s", "0.01")
        .load(str(pages))
    )
    assert df.rdd.getNumPartitions() == 3
    got = {r.requestid for r in df.select("requestid").collect()}
    assert got == {"1", "2", "3"}
    # the flaky page really exercised the 429 → Retry-After → retry path
    assert os.path.exists(str(pages / "page-00001-flaky.json.hit429"))
