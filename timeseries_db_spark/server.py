"""HTTP serving layer — the reference's servant/warp surface
(``Api.hs:31-38``, ``App.hs:17-22``) over :class:`TsdbEngine`, stdlib
only (no Flask/FastAPI in the environment — ``http.server`` is enough
for a wire-parity layer; a production deployment would front the same
engine with any WSGI/ASGI stack).

Routes (byte-level parity with the reference where it is observable):

* ``POST   /timeseries``        — insert ``[{"timestamp","tag","value"}]``
* ``PUT    /timeseries``        — value-only update, same body shape
* ``DELETE /timeseries``        — delete ``[{"timestamp","tag"}]``;
  empty/absent body → truncate (``Api.hs:37``, ``Handlers.hs:72-73``)
* ``POST   /timeseries/query``  — ``QueryModel`` JSON → the untagged
  ``QueryR`` union (rows / ``{group,result}`` pairs / ``{result}``)

Extension routes beyond the reference's four (clearly additive — the
reference has no versioning surface at all):

* ``GET    /timeseries/history``  — retained version list (newest first)
* ``POST   /timeseries/restore``  — ``{"version": N}`` → roll back as a
  new commit (404-free parity note: unknown routes stay 404)

Parity details:

* success responses encode servant's ``Post '[JSON] ()`` the way aeson
  does — the body is ``[]`` (unit encodes as an empty JSON array);
* validation / data-dependent failures are HTTP 400 with a plain-text
  body: DML errors are the ≤10 messages joined by ``unlines`` (one
  trailing newline each — ``Api.hs:51,61,71``), query errors are the
  bare message (``Api.hs:79,83``); flip
  :func:`timeseries_db_spark.wire.set_reference_wire` for the
  reference's byte-exact strings;
* CORS mirrors ``corsPolicy`` (``Api.hs:95-104``):
  ``Access-Control-Allow-Origin: *``, methods GET/POST/PUT/DELETE,
  ``Content-Type`` request header, with OPTIONS preflight handled;
* writes serialize through a lock — the acid-state write serialization
  (``Handlers.hs:98``) in miniature; reads are snapshot-isolated by the
  manifest protocol, so queries never block behind writes.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from timeseries_db_spark.operators.dml import DmlError
from timeseries_db_spark.schema import QueryError, RowDecodeError

_CORS_HEADERS = {
    "Access-Control-Allow-Origin": "*",
    "Access-Control-Allow-Methods": "GET, POST, PUT, DELETE",
    "Access-Control-Allow-Headers": "Content-Type",
}


class _BadRequest(Exception):
    """Maps to HTTP 400 with a plain-text body."""


def _ts_rows(payload, *, keys: tuple[str, ...]) -> list[tuple]:
    """Decode a ``[TS]`` / ``[TS']`` body. aeson's strict decoding
    rejects missing fields (``Model.hs:197-199``); wrong top-level
    shapes are likewise a 400, not a 500."""
    if not isinstance(payload, list):
        raise _BadRequest("Expected a JSON array of entries.")
    rows = []
    for entry in payload:
        if not isinstance(entry, dict) or any(k not in entry for k in keys):
            raise _BadRequest(
                f"Each entry requires fields {list(keys)}: got {entry!r}."
            )
        rows.append(tuple(_wire_value(entry[k]) if k == "value" else entry[k]
                          for k in keys))
    return rows


def _wire_value(v):
    """aeson decodes a whole JSON number such as ``5`` into the Double
    ``value`` (and JavaScript sends ``5.0`` as ``5``), so an int becomes
    a float here; a bool stays, for the schema check to reject."""
    if isinstance(v, int) and not isinstance(v, bool):
        try:
            return float(v)
        except OverflowError:
            raise _BadRequest("Field 'value' is out of range for a double.") from None
    return v


def _reject_constant(name: str):
    """``json.loads`` accepts ``NaN``/``Infinity``/``-Infinity``; they are
    not JSON, and a stored one would be served back as invalid JSON."""
    raise _BadRequest(f"Malformed JSON body: {name} is not a JSON number.")


class _Handler(BaseHTTPRequestHandler):
    # set by make_server
    engine = None
    write_lock: threading.Lock = None
    protocol_version = "HTTP/1.1"
    # TCP_NODELAY: a reply leaves as two small writes (headers, then
    # body), and with Nagle on the body waits for the client's delayed
    # ACK — about 40 ms on every keep-alive reply
    disable_nagle_algorithm = True

    # ---- plumbing ----

    def log_message(self, fmt, *args):  # quiet; tests drive many requests
        pass

    def _body(self):
        declared = self.headers.get("Content-Length") or "0"
        if not (declared.isascii() and declared.isdigit()):
            # the body's extent is unknown: answer, then drop the connection
            # (rfile.read(-1) would block until the client hangs up)
            self.close_connection = True
            raise _BadRequest(f"Malformed Content-Length: {declared!r}.")
        length = int(declared)
        raw = self.rfile.read(length) if length else b""
        if not raw.strip():
            return None
        try:
            return json.loads(raw, parse_constant=_reject_constant)
        except json.JSONDecodeError as exc:
            raise _BadRequest(f"Malformed JSON body: {exc}.") from exc

    def _respond(self, status: int, body: bytes, ctype: str) -> None:
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in _CORS_HEADERS.items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _ok_json(self, obj) -> None:
        self._respond(200, json.dumps(obj).encode(), "application/json")

    def _bad_request(self, text: str) -> None:
        self._respond(400, text.encode(), "text/plain; charset=utf-8")

    def _dispatch(self, fn) -> None:
        try:
            fn()
        except DmlError as exc:
            # unlines: every message gets a trailing newline (Api.hs:51)
            self._bad_request("".join(e + "\n" for e in exc.errors))
        except QueryError as exc:
            self._bad_request(str(exc))
        except _BadRequest as exc:
            self._bad_request(str(exc))
        except RowDecodeError as exc:
            # field-level decode/shape failures at the wire seam (e.g. a
            # string timestamp or NULL value against the TS schema) —
            # aeson would have 400'd these at decode time. Only this
            # dedicated type maps to 400: a ValueError escaping engine
            # internals (numpy reshape, frombuffer, …) is a real 500
            # (ADVICE r7)
            self._bad_request(str(exc))
        except Exception:  # noqa: BLE001 — keep the connection protocol-valid
            # anything else is a real 500: answer it rather than letting
            # the handler thread die mid-response (connection reset)
            import traceback

            traceback.print_exc()
            self._respond(
                500, b"Internal server error.", "text/plain; charset=utf-8"
            )

    def _route(self) -> str:
        return self.path.rstrip("/")

    # ---- verbs ----

    def do_OPTIONS(self):  # CORS preflight
        self._respond(200, b"", "text/plain")

    def do_GET(self):
        if self._route() == "/timeseries/history":
            self._dispatch(lambda: self._ok_json(self.engine.history()))
        else:
            self._respond(404, b"Not found.", "text/plain")

    def do_POST(self):
        route = self._route()
        if route == "/timeseries":

            def insert():
                rows = _ts_rows(
                    self._body() or [], keys=("timestamp", "tag", "value")
                )
                with self.write_lock:
                    self.engine.insert(rows)
                self._ok_json([])  # aeson: () encodes as []

            self._dispatch(insert)
        elif route == "/timeseries/restore":

            def restore():
                body = self._body()
                if not isinstance(body, dict) or "version" not in body:
                    raise _BadRequest('Expected {"version": N}.')
                v = body["version"]
                if isinstance(v, bool) or not isinstance(v, int):
                    raise _BadRequest(f"Field 'version' expects an integer, got {v!r}.")
                try:
                    with self.write_lock:
                        self.engine.restore(v)
                except ValueError as exc:
                    raise _BadRequest(str(exc)) from exc
                self._ok_json([])

            self._dispatch(restore)
        elif route == "/timeseries/query":

            def query():
                qm = self._body()
                if not isinstance(qm, dict):
                    raise _BadRequest("Expected a QueryModel JSON object.")
                self._ok_json(self.engine.query_json(qm))

            self._dispatch(query)
        else:
            self._respond(404, b"Not found.", "text/plain")

    def do_PUT(self):
        if self._route() != "/timeseries":
            self._respond(404, b"Not found.", "text/plain")
            return

        def update():
            rows = _ts_rows(
                self._body() or [], keys=("timestamp", "tag", "value")
            )
            with self.write_lock:
                self.engine.update(rows)
            self._ok_json([])

        self._dispatch(update)

    def do_DELETE(self):
        if self._route() != "/timeseries":
            self._respond(404, b"Not found.", "text/plain")
            return

        def delete():
            payload = self._body()
            keys = (
                None
                if payload in (None, [])
                else _ts_rows(payload, keys=("timestamp", "tag"))
            )
            with self.write_lock:
                # empty body → truncate (the reference's fourth route)
                self.engine.delete(keys)
            self._ok_json([])

        self._dispatch(delete)


def make_server(engine, host: str = "127.0.0.1", port: int = 8081):
    """Build (not start) a threading HTTP server bound to ``engine``.
    ``port=0`` picks an ephemeral port (tests). The reference binds warp
    on :8081 (``App.hs:22``) — same default here."""
    handler = type(
        "BoundHandler",
        (_Handler,),
        {"engine": engine, "write_lock": threading.Lock()},
    )
    return ThreadingHTTPServer((host, port), handler)


def serve(engine, host: str = "0.0.0.0", port: int = 8081) -> None:
    """Blocking serve loop — ``startApp`` (``App.hs:17-22``)."""
    with make_server(engine, host, port) as httpd:
        httpd.serve_forever()


def main(argv: list[str] | None = None) -> None:
    """``python -m timeseries_db_spark.server --path /data/tsdb`` — the
    one-command switch for a reference user: same routes, same port,
    storage under ``--path`` instead of acid-state's local state dir."""
    import argparse

    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--path", required=True, help="table storage dir")
    parser.add_argument("--host", default="0.0.0.0")
    parser.add_argument("--port", type=int, default=8081)
    parser.add_argument(
        "--reference-wire", action="store_true",
        help="emit the reference's byte-exact error strings",
    )
    args = parser.parse_args(argv)

    from timeseries_db_spark import wire
    from timeseries_db_spark.engine import TsdbEngine
    from timeseries_db_spark.session import get_spark

    if args.reference_wire:
        wire.set_reference_wire(True)
    engine = TsdbEngine(get_spark("tsdb-server"), args.path)
    print(f"tsdb serving on http://{args.host}:{args.port} (path={args.path})")
    serve(engine, args.host, args.port)


if __name__ == "__main__":
    main()
