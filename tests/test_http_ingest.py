"""A1 — HTTP ingest front door, exercised against a live localhost server.

Covers the full `handler.go:30-93` status matrix, the `caching.go:26-80`
LRU+TTL auth decorator, the `publisher.go:34-94` async batch/linger/flush
queue, and the front-door -> spool -> streaming-pipeline end-to-end path
(the same downstream dataflow the Kafka source feeds)."""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request

import pytest

from kafka_clickhouse_ingest_pipeline_spark.sources import http_ingest as H
from kafka_clickhouse_ingest_pipeline_spark.streaming import pipeline as P


def _req(url, method="GET", body=None, api_key=None):
    req = urllib.request.Request(url, data=body, method=method)
    if api_key is not None:
        req.add_header(H.API_KEY_HEADER, api_key)
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


@pytest.fixture()
def server(tmp_path):
    pub = H.SpoolPublisher(str(tmp_path / "spool"), batch_size=100, batch_timeout_s=0.2)
    srv = H.IngestHTTPServer(pub, authenticate=lambda k: k == "good-key").start()
    yield srv
    srv.close()


def test_status_code_matrix(server):
    u = server.url
    # healthz: GET 200 "OK", other methods 405 (main.go:77-80)
    assert _req(u + "/healthz") == (200, "OK\n")
    assert _req(u + "/healthz", "POST", b"{}")[0] == 405
    # wrong method on /ingest -> 405 (handler.go:32-35)
    assert _req(u + "/ingest", "GET")[0] == 405
    assert _req(u + "/ingest", "PUT", b"{}")[0] == 405
    # unknown route -> 404 (mux default)
    assert _req(u + "/nope")[0] == 404
    # missing key -> 401 before anything else (handler.go:38-42)
    assert _req(u + "/ingest", "POST", b'{"a":1}')[0] == 401
    # invalid key -> 401 (handler.go:51-56)
    assert _req(u + "/ingest", "POST", b'{"a":1}', api_key="bad")[0] == 401
    # empty body AFTER auth -> 400 (handler.go:59-71)
    assert _req(u + "/ingest", "POST", b"", api_key="good-key")[0] == 400
    # invalid JSON -> 400 (handler.go:74-78)
    assert _req(u + "/ingest", "POST", b'{"a":', api_key="good-key")[0] == 400
    # valid -> 202 Accepted, async queue semantics (handler.go:81-93)
    assert _req(u + "/ingest", "POST", b'{"a":1}', api_key="good-key") == (
        202,
        "Payload accepted\n",
    )


def test_auth_backend_error_is_500(tmp_path):
    def boom(_key):
        raise RuntimeError("db down")

    pub = H.SpoolPublisher(str(tmp_path / "spool"))
    srv = H.IngestHTTPServer(pub, authenticate=boom).start()
    try:
        assert _req(srv.url + "/ingest", "POST", b"{}", api_key="k")[0] == 500
    finally:
        srv.close()


def test_caching_authenticator_lru_ttl_semantics():
    calls = []
    now = [0.0]

    def backend(key):
        calls.append(key)
        if key == "err":
            raise RuntimeError("transient")
        return key == "ok"

    auth = H.CachingAuthenticator(backend, size=2, ttl_s=10.0, clock=lambda: now[0])
    # miss then hit: one backend call (caching.go:61-66)
    assert auth("ok") is True
    assert auth("ok") is True
    assert calls == ["ok"]
    # invalid verdicts are cached too (caching.go:77-79)
    assert auth("nope") is False
    assert auth("nope") is False
    assert calls == ["ok", "nope"]
    # TTL expiry forces re-check
    now[0] = 11.0
    assert auth("ok") is True
    assert calls == ["ok", "nope", "ok"]
    # errors propagate and are NOT cached (caching.go:71-75)
    with pytest.raises(RuntimeError):
        auth("err")
    with pytest.raises(RuntimeError):
        auth("err")
    assert calls.count("err") == 2
    # empty key: no cache, no backend (caching.go:57-59)
    assert auth("") is False
    assert "" not in calls
    # LRU bound: size=2, inserting a third evicts the least-recent
    auth("third")
    assert len(auth._cache) <= 2


def test_caching_disabled_when_size_nonpositive():
    calls = []
    auth = H.CachingAuthenticator(lambda k: calls.append(k) or True, size=0)
    auth("k")
    auth("k")
    assert calls == ["k", "k"]  # every call delegates (caching.go:28-31)


def test_keys_authenticator_matches_active_dim(spark):
    df = spark.createDataFrame(
        [("alpha", True), ("beta", False)], ["api_key", "is_active"]
    )
    auth = H.keys_authenticator(df)
    assert auth("alpha") and not auth("beta") and not auth("ghost")


def test_spool_batching_size_trigger(tmp_path):
    pub = H.SpoolPublisher(str(tmp_path / "s"), batch_size=3, batch_timeout_s=60.0)
    for i in range(3):
        pub.publish(None, json.dumps({"i": i}).encode())
    # size trigger: file visible without close or linger
    files = [f for f in os.listdir(pub.spool_dir) if not f.startswith("._")]
    assert len(files) == 1
    lines = open(os.path.join(pub.spool_dir, files[0])).read().splitlines()
    assert [json.loads(x)["i"] for x in lines] == [0, 1, 2]
    pub.close()


def test_spool_linger_flushes_partial_batch(tmp_path):
    pub = H.SpoolPublisher(str(tmp_path / "s"), batch_size=100, batch_timeout_s=0.2)
    pub.publish(None, b'{"x":1}')
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline:
        if [f for f in os.listdir(pub.spool_dir) if not f.startswith("._")]:
            break
        time.sleep(0.05)
    else:
        pytest.fail("linger flush never happened")
    pub.close()


def test_spool_flush_on_close(tmp_path):
    pub = H.SpoolPublisher(str(tmp_path / "s"), batch_size=100, batch_timeout_s=60.0)
    pub.publish(None, b'{"x":1}')
    pub.close()  # publisher.go:83-94
    files = [f for f in os.listdir(pub.spool_dir) if not f.startswith("._")]
    assert len(files) == 1
    with pytest.raises(RuntimeError):
        pub.publish(None, b"{}")


def test_http_to_streaming_pipeline_end_to_end(spark, tmp_path):
    """POST through the front door, then run the identical downstream
    dataflow the Kafka source feeds (file_source on the spool dir)."""
    spool = str(tmp_path / "spool")
    pub = H.SpoolPublisher(spool, batch_size=2, batch_timeout_s=0.2)
    srv = H.IngestHTTPServer(pub, authenticate=lambda k: k == "good-key").start()
    payloads = [
        {"sensorId": "s1", "temperature": 21.5, "timestamp": "2024-01-01T00:00:00Z"},
        {"sensorId": "s2", "value": 7},
        {"sensorId": "s3"},
    ]
    try:
        for p in payloads:
            code, _ = _req(
                srv.url + "/ingest", "POST", json.dumps(p).encode(), api_key="good-key"
            )
            assert code == 202
        # rejected traffic never reaches the spool
        assert _req(srv.url + "/ingest", "POST", b"not json", api_key="good-key")[0] == 400
        assert _req(srv.url + "/ingest", "POST", b'{"a":1}', api_key="stolen")[0] == 401
    finally:
        srv.close()  # graceful drain (A17): flushes the partial batch

    out = str(tmp_path / "out")
    q = P.run_pipeline(
        P.file_source(spark, spool),
        out_path=out,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    result = spark.read.parquet(os.path.join(out, "data"))
    rows = {r.sensorId: r for r in result.collect()}
    assert set(rows) == {"s1", "s2", "s3"}
    assert rows["s1"].temperature == 21.5
    assert json.loads(rows["s2"]._raw_data)["sensorId"] == "s2"


def _nested(sensor_id: str, depth: int) -> bytes:
    return f'{{"sensorId":"{sensor_id}","n":{"[" * depth}{"]" * depth}}}'.encode()


# (body, front-door status, sensorId the sink must hold). Statuses are Go
# json.Valid's, except nesting past the decoder's ~1,000 levels: Go allows
# 10,000, but Spark's JSON parser stops at 1,000, so the door refuses it.
AGREEMENT_CASES = [
    (b'{"sensorId":"plain"}', 202, "plain"),
    (b'\t{"sensorId":"tab"}', 202, "tab"),
    (b'{"sensorId":"dup-first","sensorId":"dup"}', 202, "dup"),  # last wins
    (b'{"sensorId":\r"cr"}\r\n', 202, "cr"),
    (b'\n{"sensorId":"lf"}\n', 202, "lf"),
    (_nested("deep", 64), 202, "deep"),
    (b'{"sensorId":"nan","temperature":NaN}', 400, None),
    (b'{"sensorId":"inf","temperature":Infinity}', 400, None),
    (b'{"sensorId":"ninf","temperature":-Infinity}', 400, None),
    (b'{"sensorId":"junk"}junk', 400, None),
    (b'{"sensorId":"comma",}', 400, None),
    (_nested("too-deep", 5000), 400, None),
    (b'{"sensorId":"bad-utf8\xff"}', 400, None),
    (b'\xef\xbb\xbf{"sensorId":"bom"}', 400, None),
    ('{"sensorId":"utf16"}'.encode("utf-16"), 400, None),
    # valid non-objects are accepted, then dropped by the typed parse
    # exactly as kotlinx decodeFromString<IngestedData> drops them
    (b"42", 202, None),
    (b'"scalar"', 202, None),
    (b"null", 202, None),
    (b'[{"sensorId":"array"}]', 202, None),
]


def test_front_door_and_stream_agree_on_json_validity(spark, tmp_path):
    """A 202 means the payload reaches the consumer (handler.go:74-93):
    every object body the front door accepts lands in the sink, and no
    body it refuses does."""
    spool = str(tmp_path / "spool")
    pub = H.SpoolPublisher(spool, batch_size=100, batch_timeout_s=0.2)
    srv = H.IngestHTTPServer(pub, authenticate=lambda k: k == "good-key").start()
    try:
        statuses = [
            _req(srv.url + "/ingest", "POST", body, api_key="good-key")[0]
            for body, _, _ in AGREEMENT_CASES
        ]
    finally:
        srv.close()
    assert statuses == [status for _, status, _ in AGREEMENT_CASES]

    out = str(tmp_path / "out")
    P.run_pipeline(
        P.file_source(spark, spool),
        out_path=out,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    ).awaitTermination(120)
    stored = [r.sensorId for r in spark.read.parquet(os.path.join(out, "data")).collect()]
    assert sorted(stored) == sorted(sid for _, _, sid in AGREEMENT_CASES if sid)


def test_interrupted_flush_tmp_file_is_invisible_to_spark(spark, tmp_path):
    """A crash between tmp-write and rename leaves `._tmp-*` in the spool;
    Spark's file listing skips dot/underscore-prefixed files, so a
    half-written batch can never be half-read by the stream."""
    spool = tmp_path / "spool"
    pub = H.SpoolPublisher(str(spool), batch_size=1)
    pub.publish(None, b'{"ok":1}')
    pub.close()
    # simulate the crash artifact
    (spool / "._tmp-batch-000000099.jsonl").write_text('{"half":')
    got = spark.read.text(str(spool)).collect()
    assert [r.value for r in got] == ['{"ok":1}']


def test_config_parity_with_reference_defaults():
    """BASELINE.md config parity: producer batch 100 / linger 1 s
    (publisher.go:45-46), auth cache 10000 keys / 60 m TTL
    (config.go:19-20), HTTP read timeout 15 s (main.go:86)."""
    assert H.DEFAULT_BATCH_SIZE == 100
    assert H.DEFAULT_BATCH_TIMEOUT_S == 1.0
    assert H.DEFAULT_AUTH_CACHE_SIZE == 10_000
    assert H.DEFAULT_AUTH_CACHE_TTL_S == 3600.0
    assert H.HTTP_READ_TIMEOUT_S == 15
    assert H.HTTP_WRITE_TIMEOUT_S == 15
    assert H.HTTP_IDLE_TIMEOUT_S == 60
    assert H._Handler.timeout == 15


def test_keepalive_connection_survives_early_rejections(server):
    """Regression: early replies (401/405) must drain the unread body, or
    the next request on the same keep-alive connection parses the stale
    body as a request line and gets a bogus 501."""
    import http.client

    host, port = server.server_address[:2]
    conn = http.client.HTTPConnection(host, port, timeout=10)
    try:
        exchanges = [
            ("POST", b'{"a":1}', {H.API_KEY_HEADER: "stolen"}, 401),
            ("POST", b'{"a":2}', {H.API_KEY_HEADER: "good-key"}, 202),
            ("PUT", b'{"x":1}', {}, 405),
            ("POST", b'{"a":3}', {H.API_KEY_HEADER: "good-key"}, 202),
        ]
        for method, body, headers, expected in exchanges:
            conn.request(method, "/ingest", body=body, headers=headers)
            resp = conn.getresponse()
            status = resp.status
            resp.read()  # finish the response so the socket can be reused
            assert status == expected, (method, status, expected)
    finally:
        conn.close()


def test_malformed_content_length_is_400_not_crash(server):
    """ADVICE r3: a non-numeric Content-Length used to raise ValueError in
    the handler thread (connection dropped with a traceback); Go's
    net/http rejects such requests with 400 before the handler runs."""
    import http.client

    host, port = server.server_address[:2]
    for bad in ("abc", "-5", "12x"):
        conn = http.client.HTTPConnection(host, port, timeout=10)
        try:
            conn.putrequest("POST", "/ingest", skip_host=False)
            conn.putheader(H.API_KEY_HEADER, "good-key")
            conn.putheader("Content-Length", bad)
            conn.endheaders()
            resp = conn.getresponse()
            assert resp.status == 400, (bad, resp.status)
            resp.read()
        finally:
            conn.close()
    # the server is still alive and serving afterwards
    assert _req(server.url + "/healthz") == (200, "OK\n")
