"""REST-shaped source tests (SURVEY.md §2.1 S4-S6, S11): the Python Data
Source and the mapInPandas fetch path must agree bit-for-bit (same pluggable
fetcher), partitioning must follow the page structure, and the retry wrapper
must implement the reference's 3-retry/429-backoff contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.sources import (
    CHUNK_DAYS, SyntheticMarketReader, chunk_table, fetch_history_distributed,
    read_market_api, register_sources, synthetic_fetch, with_retry)


@pytest.fixture(scope="module")
def market_df(spark):
    return read_market_api(spark, ["btc", "eth", "sol"], n_days=400)


def test_datasource_rows_and_schema(market_df):
    assert market_df.columns == ["coin_id", "day", "price", "volume", "market_cap"]
    assert market_df.count() == 3 * 400
    per_coin = dict(market_df.groupBy("coin_id").count().collect())
    assert per_coin == {"btc": 400, "eth": 400, "sol": 400}
    # 365+ days span exactly; all prices positive
    assert market_df.filter(F.col("price") <= 0).count() == 0


def test_datasource_partitions_are_pages():
    reader = SyntheticMarketReader(
        {"coins": "btc,eth,sol", "n_days": "400", "start_day": "19000"})
    parts = reader.partitions()
    # ceil(400/179)=3 chunks per coin
    assert len(parts) == 9
    spans = {(p.coin, p.start_day, p.n_days) for p in parts}
    assert ("btc", 19000, CHUNK_DAYS) in spans
    assert ("btc", 19000 + 2 * CHUNK_DAYS, 400 - 2 * CHUNK_DAYS) in spans
    # chunks tile the range exactly, per coin
    for coin in ("btc", "eth", "sol"):
        total = sum(p.n_days for p in parts if p.coin == coin)
        assert total == 400


def test_datasource_deterministic(spark, market_df):
    # a second read re-registers the already registered format
    again = read_market_api(spark, ["btc", "eth", "sol"], n_days=400)
    a = sorted(map(tuple, market_df.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_register_sources_defers_registration(spark, monkeypatch):
    """Set-up registers nothing (the first registration in a JVM starts a
    Python lookup process); every read_market_api call registers once."""
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    real = DataSourceRegistration.register

    def counting(self, cls):
        calls.append(cls)
        return real(self, cls)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    register_sources(spark)
    assert calls == []
    df = read_market_api(spark, ["btc"], n_days=3)
    assert len(calls) == 1
    read_market_api(spark, ["btc"], n_days=3)
    assert len(calls) == 2
    assert df.count() == 3


def test_mapinpandas_fetch_matches_datasource(spark, market_df):
    via_map = fetch_history_distributed(spark, ["btc", "eth", "sol"],
                                        n_days=400)
    a = sorted(map(tuple, market_df.collect()))
    b = sorted(map(tuple, via_map.collect()))
    assert a == b


def test_chunk_table_tiles_range(spark):
    ct = chunk_table(spark, ["a", "b"], start_day=100, n_days=400)
    rows = ct.collect()
    assert len(rows) == 2 * 3
    for coin in ("a", "b"):
        spans = sorted((r.from_day, r.n_days) for r in rows if r.coin_id == coin)
        assert spans[0][0] == 100
        assert sum(n for _, n in spans) == 400
        # contiguous, no overlap
        for (f1, n1), (f2, _) in zip(spans, spans[1:]):
            assert f1 + n1 == f2


def test_retry_backoff_contract():
    calls, sleeps = [], []

    def flaky(x):
        calls.append(x)
        if len(calls) < 3:
            raise RuntimeError("HTTP 429 Too Many Requests")
        return x * 2

    wrapped = with_retry(flaky, retries=3, backoff_s=65.0,
                         sleeper=sleeps.append)
    assert wrapped(21) == 42
    assert len(calls) == 3
    assert sleeps == [65.0, 65.0]

    def always_fails():
        raise ValueError("boom")

    wrapped2 = with_retry(always_fails, retries=3, sleeper=sleeps.append)
    with pytest.raises(ValueError, match="boom"):
        wrapped2()


def test_synthetic_fetch_shape():
    rows = synthetic_fetch("btc", 19000, 5)
    assert len(rows) == 5
    days = [r[1] for r in rows]
    assert days == sorted(days)
    assert all(len(r) == 5 for r in rows)


# ---------------------------------------------------------------------------
# Real HTTP boundary: a local-socket stdlib fixture
# server — no external network — exercises the fetcher seam end-to-end:
# URL building, JSON (de)serialization in EXECUTOR processes, HTTP error
# propagation into with_retry's 429 contract.
# ---------------------------------------------------------------------------

def _make_history_server(flaky_429s: int = 0):
    """ThreadingHTTPServer on an ephemeral localhost port serving
    ``/history?coin=..&start=..&n=..`` as JSON built from
    ``synthetic_fetch`` (so HTTP results cross-check bit-for-bit against
    the in-process fetcher). ``flaky_429s``: each distinct (coin, start)
    key 429s that many times before succeeding — the reference's
    rate-limit shape (universe_generation_pipeline.py:53-76)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    hits: dict = {}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def do_GET(self):
            u = urlparse(self.path)
            q = parse_qs(u.query)
            coin = q["coin"][0]
            start, n = int(q["start"][0]), int(q["n"][0])
            with lock:
                seen = hits[(coin, start)] = hits.get((coin, start), 0) + 1
            if seen <= flaky_429s:
                self.send_response(429)
                self.end_headers()
                return
            rows = [{"coin_id": c, "day": d.isoformat(), "price": p,
                     "volume": v, "market_cap": m}
                    for c, d, p, v, m in synthetic_fetch(coin, start, n)]
            body = json.dumps({"data": rows}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}", hits


def _http_fetcher(base_url: str):
    """A real (urllib) HTTP client with the pluggable-fetcher signature.
    Closure over a plain string — cloudpickles to executor processes."""
    def fetch(coin: str, start_day: int, n_days: int):
        import datetime
        import json
        from urllib.request import urlopen

        url = f"{base_url}/history?coin={coin}&start={start_day}&n={n_days}"
        with urlopen(url, timeout=10) as resp:  # raises HTTPError on 429
            payload = json.load(resp)
        return [(r["coin_id"], datetime.date.fromisoformat(r["day"]),
                 r["price"], r["volume"], r["market_cap"])
                for r in payload["data"]]
    return fetch


def test_http_fetcher_distributed_matches_in_process(spark):
    """fetch_history_distributed with a REAL http client (executors hit a
    local fixture server concurrently, one request per page) returns
    bit-identical rows to the in-process synthetic fetcher."""
    srv, base, hits = _make_history_server()
    try:
        via_http = fetch_history_distributed(
            spark, ["btc", "eth"], n_days=360, fetcher=_http_fetcher(base))
        rows_http = sorted(map(tuple, via_http.collect()))
    finally:
        srv.shutdown()
    want = sorted(map(tuple, fetch_history_distributed(
        spark, ["btc", "eth"], n_days=360).collect()))
    assert rows_http == want
    # one request per (coin, chunk) page: ceil(360/179)=3 pages per coin
    assert len(hits) == 6 and all(v == 1 for v in hits.values())


def test_http_fetcher_429_retry_contract():
    """with_retry around the HTTP client on the real boundary: urllib's
    HTTPError for a 429 matches with_retry's "429" probe, the
    backoff sleeps fire, and the payload parses after recovery."""
    srv, base, hits = _make_history_server(flaky_429s=2)
    sleeps = []
    try:
        fetch = with_retry(_http_fetcher(base), retries=3, backoff_s=65.0,
                           sleeper=sleeps.append)
        rows = fetch("btc", 19000, 4)
    finally:
        srv.shutdown()
    assert rows == synthetic_fetch("btc", 19000, 4)
    assert sleeps == [65.0, 65.0]          # two rate-limited backoffs
    assert hits[("btc", 19000)] == 3       # 429, 429, 200


def test_http_fetcher_429_exhaustion_raises():
    """More consecutive 429s than total attempts surfaces the HTTPError."""
    from urllib.error import HTTPError

    srv, base, _ = _make_history_server(flaky_429s=5)
    sleeps = []
    try:
        fetch = with_retry(_http_fetcher(base), retries=3,
                           sleeper=sleeps.append)
        with pytest.raises(HTTPError):
            fetch("btc", 19000, 2)
    finally:
        srv.shutdown()
    assert sleeps == [65.0, 65.0]


def test_http_fetcher_distributed_retry_on_executors(spark):
    """The retry wrapper composes with the DISTRIBUTED fetch path: each
    page's first request 429s, executors back off (tiny injected sleep)
    and recover — rows still bit-identical to the in-process fetcher."""
    import time as _time

    srv, base, hits = _make_history_server(flaky_429s=1)
    fetch = with_retry(_http_fetcher(base), retries=3, backoff_s=0.05,
                       sleeper=_time.sleep)
    try:
        got = sorted(map(tuple, fetch_history_distributed(
            spark, ["btc"], n_days=200, fetcher=fetch).collect()))
    finally:
        srv.shutdown()
    want = sorted(map(tuple, fetch_history_distributed(
        spark, ["btc"], n_days=200).collect()))
    assert got == want
    assert all(v == 2 for v in hits.values())  # one 429 + one success per page
