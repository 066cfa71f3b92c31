"""HTTP serving layer: the four reference routes (``Api.hs:31-38``)
driven over real sockets against a scratch engine — status codes,
response bodies, 400 error texts (both wire modes), CORS headers."""

from __future__ import annotations

import http.client
import json
import os
import socket
import statistics
import time
import subprocess
import sys
import threading
import urllib.error
import urllib.request

import pytest

from timeseries_db_spark import wire
from timeseries_db_spark.engine import TsdbEngine
from timeseries_db_spark.server import make_server

ROWS = [
    {"timestamp": 1000, "tag": "a", "value": 1.5},
    {"timestamp": 1000, "tag": "b", "value": 2.5},
    {"timestamp": 2000, "tag": "a", "value": 3.5},
]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    engine = TsdbEngine(spark, str(tmp_path_factory.mktemp("srv") / "tbl"))
    httpd = make_server(engine, port=0)  # ephemeral port
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    yield base
    httpd.shutdown()
    thread.join(timeout=5)


def _call(base, method, path, payload=None):
    data = None if payload is None else json.dumps(payload).encode()
    req = urllib.request.Request(
        base + path, data=data, method=method,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode(), dict(resp.headers)
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read().decode(), dict(exc.headers)


def test_insert_query_update_delete_roundtrip(served):
    status, body, headers = _call(served, "POST", "/timeseries", ROWS)
    assert (status, body) == (200, "[]")  # aeson: () encodes as []
    assert headers["Access-Control-Allow-Origin"] == "*"

    # rows shape
    status, body, _ = _call(served, "POST", "/timeseries/query", {"tagEq": "a"})
    assert status == 200
    assert json.loads(body) == [
        {"timestamp": 1000, "tag": "a", "value": 1.5},
        {"timestamp": 2000, "tag": "a", "value": 3.5},
    ]

    # scalar + groups shapes
    status, body, _ = _call(
        served, "POST", "/timeseries/query", {"aggFunc": "count"}
    )
    assert (status, json.loads(body)) == (200, {"result": 3.0})
    status, body, _ = _call(
        served, "POST", "/timeseries/query",
        {"aggFunc": "sum", "groupBy": "tag"},
    )
    assert (status, json.loads(body)) == (
        200, [{"group": "a", "result": 5.0}, {"group": "b", "result": 2.5}]
    )

    # update, then verify the new value is served
    status, body, _ = _call(
        served, "PUT", "/timeseries",
        [{"timestamp": 1000, "tag": "a", "value": 9.0}],
    )
    assert (status, body) == (200, "[]")
    _, body, _ = _call(served, "POST", "/timeseries/query", {"tsEq": 1000})
    assert {r["tag"]: r["value"] for r in json.loads(body)} == {
        "a": 9.0, "b": 2.5,
    }

    # keyed delete
    status, body, _ = _call(
        served, "DELETE", "/timeseries", [{"timestamp": 2000, "tag": "a"}]
    )
    assert (status, body) == (200, "[]")
    _, body, _ = _call(served, "POST", "/timeseries/query", {})
    assert len(json.loads(body)) == 2

    # a whole-number value is a Double on the wire (aeson decodes 5 as
    # 5.0, and JSON.stringify(5.0) sends 5) — on insert and on update
    status, body, _ = _call(
        served, "POST", "/timeseries", [{"timestamp": 3000, "tag": "a", "value": 5}]
    )
    assert (status, body) == (200, "[]")
    status, body, _ = _call(
        served, "PUT", "/timeseries", [{"timestamp": 3000, "tag": "a", "value": 6}]
    )
    assert (status, body) == (200, "[]")
    _, body, _ = _call(served, "POST", "/timeseries/query", {"tsEq": 3000})
    assert body == '[{"timestamp": 3000, "tag": "a", "value": 6.0}]'
    # an int no double can hold stays a 400
    status, _, _ = _call(
        served, "POST", "/timeseries", [{"timestamp": 4000, "tag": "a", "value": 10**400}]
    )
    assert status == 400


def test_http_400_error_texts_both_wire_modes(served):
    # illegal combo: modern text by default
    status, body, _ = _call(
        served, "POST", "/timeseries/query", {"groupBy": "tag"}
    )
    assert status == 400
    assert body == "Illegal query: 'groupBy' requires 'aggFunc'."

    # DML conflict: unlines — one trailing newline per message
    status, body, _ = _call(served, "POST", "/timeseries", ROWS[:1])
    assert status == 400
    assert body == "Key already exists: timestamp=1000, tag=a.\n"

    # byte-exact reference bodies under the wire flag (typo included)
    wire.set_reference_wire(True)
    try:
        status, body, _ = _call(
            served, "POST", "/timeseries/query", {"groupBy": "tag"}
        )
        assert body == "You must provie 'aggFunc' with 'groupBy'."
        status, body, _ = _call(served, "POST", "/timeseries", ROWS[:1])
        assert body == 'Timestamp = 1000 and tag = "a" already exists.\n'
    finally:
        wire.set_reference_wire(False)

    # presence miss
    status, body, _ = _call(
        served, "POST", "/timeseries/query", {"tagEq": "zz"}
    )
    assert (status, body) == (400, "No data for tag zz.")

    # malformed body is a 400, not a 500
    req = urllib.request.Request(
        served + "/timeseries/query", data=b"{not json", method="POST"
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as exc:
        assert exc.code == 400


def test_concurrent_queries_are_threadsafe(served):
    """The threading server submits Spark actions from several handler
    threads at once; every response must be complete and correct."""
    import concurrent.futures

    _call(served, "DELETE", "/timeseries")  # reset
    _call(served, "POST", "/timeseries", ROWS)

    def one(i):
        if i % 2 == 0:
            status, body, _ = _call(
                served, "POST", "/timeseries/query", {"aggFunc": "count"}
            )
            return status == 200 and json.loads(body) == {"result": 3.0}
        status, body, _ = _call(served, "POST", "/timeseries/query", {"tagEq": "a"})
        return status == 200 and len(json.loads(body)) == 2

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(one, range(8)))
    assert all(results), results


def test_truncate_via_empty_delete_and_cors_preflight(served):
    _call(served, "POST", "/timeseries", ROWS)  # may 400 if keys exist; fine
    status, body, _ = _call(served, "DELETE", "/timeseries")  # no body
    assert (status, body) == (200, "[]")
    _, body, _ = _call(served, "POST", "/timeseries/query", {})
    assert json.loads(body) == []

    # CORS preflight
    status, _, headers = _call(served, "OPTIONS", "/timeseries")
    assert status == 200
    assert headers["Access-Control-Allow-Methods"] == "GET, POST, PUT, DELETE"
    assert headers["Access-Control-Allow-Headers"] == "Content-Type"

    # unknown route
    status, _, _ = _call(served, "POST", "/nope", {})
    assert status == 404


def test_bad_typed_bodies_get_http_400_not_connection_drop(served):
    """Field-level type errors must come back as real HTTP 400s (aeson
    would reject them at decode time), never as an unanswered socket:
    a NULL value against the non-nullable TS schema, a string where a
    timestamp bound belongs, and a wrongly-typed tagEq."""
    status, body, _ = _call(
        served, "POST", "/timeseries",
        [{"timestamp": 7777, "tag": "nulled", "value": None}],
    )
    assert status == 400, body

    status, body, _ = _call(
        served, "POST", "/timeseries/query", {"gt": "abc"}
    )
    assert status == 400
    assert "'gt' expects an integer" in body

    status, body, _ = _call(
        served, "POST", "/timeseries/query", {"tagEq": 7}
    )
    assert status == 400
    assert "'tag_eq' expects a string" in body

    # booleans are ints in Python but not on the wire
    status, body, _ = _call(
        served, "POST", "/timeseries/query", {"limit": True}
    )
    assert status == 400

    # the server must still be alive and serving afterwards
    status, _, _ = _call(served, "POST", "/timeseries/query", {"aggFunc": "count"})
    assert status == 200


def test_limit_past_int32_answers_everything(served):
    """The wire's limit is an Int64 and the reference's ``take n`` past
    the data returns it all; Spark's LIMIT is an Int, so a limit of 2^31
    or more must clamp, not answer 500."""
    _call(served, "DELETE", "/timeseries")  # reset
    _call(served, "POST", "/timeseries", ROWS)
    status, body, _ = _call(
        served, "POST", "/timeseries/query", {"tagEq": "a", "limit": 2**31}
    )
    assert (status, json.loads(body)) == (
        200,
        [{"timestamp": 1000, "tag": "a", "value": 1.5},
         {"timestamp": 2000, "tag": "a", "value": 3.5}],
    )
    status, body, _ = _call(
        served, "POST", "/timeseries/query",
        {"aggFunc": "count", "groupBy": "tag", "limit": 2**40},
    )
    assert (status, json.loads(body)) == (
        200, [{"group": "a", "result": 2.0}, {"group": "b", "result": 1.0}]
    )


def test_keepalive_replies_do_not_wait_on_delayed_ack():
    """A reply is two small writes (headers, then body). With Nagle's
    algorithm on, the body waits for the client's delayed ACK, about
    40 ms per request on one keep-alive connection; with TCP_NODELAY a
    reply from an engine that does no work takes a few ms."""

    class StubEngine:
        def query_json(self, qm):
            return [{"timestamp": 1000, "tag": "a", "value": 1.5}]

        def insert(self, rows):
            pass

    httpd = make_server(StubEngine(), port=0)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    conn = http.client.HTTPConnection("127.0.0.1", httpd.server_address[1], timeout=20)
    headers = {"Content-Type": "application/json"}
    requests = [("/timeseries/query", {"tagEq": "a"})] * 30 + [
        ("/timeseries", ROWS)
    ] * 5
    try:
        took = []
        for path, payload in requests:
            start = time.perf_counter()
            conn.request("POST", path, json.dumps(payload), headers)
            resp = conn.getresponse()
            resp.read()
            took.append(time.perf_counter() - start)
            assert resp.status == 200
    finally:
        conn.close()
        httpd.shutdown()
        thread.join(timeout=5)
    assert statistics.median(took) < 0.020, sorted(took)


def test_internal_valueerror_is_500_not_400():
    """ADVICE r7: only RowDecodeError (the wire/decode seam) maps to 400.
    A genuine engine bug that raises a bare ValueError (numpy reshape,
    frombuffer, …) must surface as a 500, not masquerade as a client
    error."""

    class BoomEngine:
        def query_json(self, qm):
            raise ValueError("reshape blew up deep inside the engine")

    httpd = make_server(BoomEngine(), port=0)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        status, body, _ = _call(base, "POST", "/timeseries/query", {})
        assert (status, body) == (500, "Internal server error.")
    finally:
        httpd.shutdown()
        thread.join(timeout=5)


def test_integral_float_bounds_accepted_like_aeson(served):
    """{"gt": 1.0} decodes as gt=1 (aeson accepts integral scientifics);
    {"gt": 1.5} stays a 400."""
    status, body, _ = _call(
        served, "POST", "/timeseries/query", {"gt": 0.0, "aggFunc": "count"}
    )
    assert status == 200, body
    status, _, _ = _call(
        served, "POST", "/timeseries/query", {"gt": 1.5, "aggFunc": "count"}
    )
    assert status == 400


def test_nonfinite_numeric_fields_get_400(served):
    """Code-review r8: json.loads accepts Infinity/NaN; int(inf) raises
    OverflowError — the finiteness check must turn these into 400s, not
    500s. In an insert or update body they are a 400 too: a stored NaN
    would be served back as invalid JSON."""
    _call(served, "POST", "/timeseries", [{"timestamp": 5000, "tag": "nf", "value": 1.0}])
    for literal in ("Infinity", "-Infinity", "NaN"):
        for method, path, body in (
            ("POST", "/timeseries/query", '{"gt": ' + literal + ', "aggFunc": "count"}'),
            ("POST", "/timeseries", '[{"timestamp": 6000, "tag": "nf", "value": ' + literal + "}]"),
            ("PUT", "/timeseries", '[{"timestamp": 5000, "tag": "nf", "value": ' + literal + "}]"),
        ):
            req = urllib.request.Request(
                served + path, data=body.encode(), method=method,
                headers={"Content-Type": "application/json"},
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    status = resp.status
            except urllib.error.HTTPError as exc:
                status = exc.code
            assert status == 400, (literal, method, path)
    # nothing was stored: the table still answers in strict JSON
    status, body, _ = _call(served, "POST", "/timeseries/query", {"tagEq": "nf"})
    assert (status, json.loads(body)) == (
        200, [{"timestamp": 5000, "tag": "nf", "value": 1.0}]
    )


def test_malformed_content_length_gets_400(served):
    """A non-integer or negative Content-Length is a 400 over a raw
    socket — not a 500, and not a handler blocked on ``read(-1)`` until
    the client hangs up."""
    port = int(served.rsplit(":", 1)[1])
    for declared in (b"abc", b"-1"):
        with socket.create_connection(("127.0.0.1", port), timeout=20) as sock:
            sock.sendall(
                b"POST /timeseries/query HTTP/1.1\r\nHost: localhost\r\n"
                b"Content-Type: application/json\r\n"
                b"Content-Length: " + declared + b"\r\n\r\n{}"
            )
            reply = b""
            while b"\r\n" not in reply:
                chunk = sock.recv(4096)
                if not chunk:
                    break
                reply += chunk
        assert reply.startswith(b"HTTP/1.1 400 "), (declared, reply)


def test_history_and_restore_routes(spark, tmp_path):
    """Extension routes: GET /timeseries/history lists versions; POST
    /timeseries/restore rolls back as a new commit; bad bodies and
    out-of-range versions are 400s."""
    from timeseries_db_spark.engine import TsdbEngine
    from timeseries_db_spark.server import make_server

    engine = TsdbEngine(spark, str(tmp_path / "vr"))
    httpd = make_server(engine, port=0)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        _call(base, "POST", "/timeseries", [{"timestamp": 1, "tag": "a", "value": 1.0}])
        v1 = engine.version()
        _call(base, "POST", "/timeseries", [{"timestamp": 2, "tag": "b", "value": 2.0}])

        status, body, _ = _call(base, "GET", "/timeseries/history")
        hist = json.loads(body)
        assert status == 200 and hist[0]["current"] and len(hist) >= 3

        status, body, _ = _call(base, "POST", "/timeseries/restore", {"version": v1})
        assert (status, body) == (200, "[]")
        _, body, _ = _call(base, "POST", "/timeseries/query", {"aggFunc": "count"})
        assert json.loads(body) == {"result": 1.0}

        status, _, _ = _call(base, "POST", "/timeseries/restore", {"version": 9999})
        assert status == 400
        status, _, _ = _call(base, "POST", "/timeseries/restore", {"ver": 1})
        assert status == 400
    finally:
        httpd.shutdown()
        thread.join(timeout=5)


#: everything the four routes need; the rest of the package is off-route
CORE_MODULES = {
    "timeseries_db_spark",
    "timeseries_db_spark.engine",
    "timeseries_db_spark.operators",
    "timeseries_db_spark.operators.dml",
    "timeseries_db_spark.plans",
    "timeseries_db_spark.plans.compiler",
    "timeseries_db_spark.schema",
    "timeseries_db_spark.server",
    "timeseries_db_spark.session",
    "timeseries_db_spark.wire",
}


def test_serving_path_loads_only_core_modules(tmp_path):
    """Import the server, insert through TsdbEngine, then query, in a
    fresh interpreter: every package module that got loaded is core."""
    script = f"""
import json, sys
import timeseries_db_spark.server
from timeseries_db_spark.engine import TsdbEngine
from timeseries_db_spark.session import get_spark

engine = TsdbEngine(get_spark("closure", shuffle_partitions=1), {str(tmp_path / "tbl")!r})
engine.insert([{{"timestamp": 1000, "tag": "a", "value": 1.5}}])
assert engine.query_json({{"tagEq": "a"}}) == [{{"timestamp": 1000, "tag": "a", "value": 1.5}}]
print(json.dumps(sorted(m for m in sys.modules if m.split(".")[0] == "timeseries_db_spark")))
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=root,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    loaded = set(json.loads(done.stdout.strip().splitlines()[-1]))
    assert "timeseries_db_spark.server" in loaded
    assert loaded <= CORE_MODULES, sorted(loaded - CORE_MODULES)
