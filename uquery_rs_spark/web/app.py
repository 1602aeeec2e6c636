"""The HTTP service: stdlib ThreadingHTTPServer implementation of the
reference's axum router (src/web/routers.rs).

Per-request pipeline (reference §3.1, re-expressed):
  parse body (≤256 KiB; JSON {"query"} or raw SQL)        request.rs:23-67
  → negotiate Accept (406 on no match)                    routers.rs:91-104
  → engine.prepare (blocks on pool permit)                duckdb.rs:31-39
  → execute on the handler thread into the format writer  routers.rs:114-148
  → the first write commits 200 chunked (gzip if requested) and streams
    straight to the socket; before it, a timer may answer 408 and an
    error answers 400/500                                 routers.rs:153-184
"""

from __future__ import annotations

import json
import threading
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..engine import Engine
from ..errors import PROBLEM_JSON, UQueryError
from ..writers import writer_for_format
from .negotiate import first_compatible_format

MAX_BODY_BYTES = 256 * 1024  # request.rs:41


class _ResponseSink:
    """The response body as a file object for the format writers.

    The first write commits the response: it sends the 200 chunked
    headers, then every write goes to the socket as one chunk. Until then
    the deadline timer may claim the response for a 408 instead; a write
    after that raises, which unwinds execute(). Implements the minimal
    file-object protocol pyarrow's IPC writer probes (`closed`, `flush`,
    `writable`).
    """

    closed = False

    def __init__(self, handler: "UQueryHandler", content_type: str, gzip_out: bool) -> None:
        self._handler = handler
        self._content_type = content_type
        self._compressor = zlib.compressobj(wbits=31) if gzip_out else None
        self._lock = threading.Lock()
        self._claimed = False
        self._committed = False

    def claim(self) -> bool:
        """Take the right to answer the request; only the first caller gets it."""
        with self._lock:
            taken, self._claimed = self._claimed, True
        return not taken

    def _commit(self) -> None:
        if not self.claim():
            raise ConnectionAbortedError("the response was already sent")
        h = self._handler
        h.send_response(200)
        h.send_header("Content-Type", self._content_type)
        if self._compressor is not None:
            h.send_header("Content-Encoding", "gzip")
        h.send_header("Transfer-Encoding", "chunked")
        h._cors_headers()
        h.end_headers()
        self._committed = True

    def _write_chunk(self, data: bytes) -> None:
        if data:
            self._handler.wfile.write(b"%x\r\n%b\r\n" % (len(data), data))

    def write(self, data: bytes) -> int:
        if data:
            if not self._committed:
                self._commit()
            self._write_chunk(self._compressor.compress(data) if self._compressor else data)
        return len(data)

    def end(self) -> None:
        """Terminate the body (committing an empty one if nothing was written)."""
        if not self._committed:
            self._commit()
        if self._compressor is not None:
            self._write_chunk(self._compressor.flush())
        self._handler.wfile.write(b"0\r\n\r\n")

    def flush(self) -> None:
        pass

    def writable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return False


class ServiceConfig:
    def __init__(
        self,
        engine: Engine,
        query_timeout_secs: float | None = 30.0,
        cors_enabled: bool = False,
    ):
        self.engine = engine
        # reference: 0 disables the timeout (options.rs:104-106)
        self.query_timeout = query_timeout_secs if query_timeout_secs else None
        self.cors_enabled = cors_enabled


class UQueryHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    config: ServiceConfig  # injected by make_server

    # -- plumbing ---------------------------------------------------------

    def log_message(self, fmt, *args):  # quiet; reference logs at debug
        pass

    def _cors_headers(self) -> None:
        if self.config.cors_enabled:
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header("Access-Control-Allow-Methods", "*")
            self.send_header("Access-Control-Allow-Headers", "*")

    def _send_problem(self, err: UQueryError, close: bool = False) -> None:
        body = err.to_json()
        self.send_response(err.status)
        self.send_header("Content-Type", PROBLEM_JSON)
        self.send_header("Content-Length", str(len(body)))
        if close:  # the handler thread may still be unwinding the query
            self.send_header("Connection", "close")
        self._cors_headers()
        self.end_headers()
        self.wfile.write(body)

    # -- routes -----------------------------------------------------------

    def do_GET(self) -> None:
        if self.path == "/health":  # routers.rs:75
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self._cors_headers()
            self.end_headers()
        else:
            self._send_problem(UQueryError(404, "Not Found", self.path))

    def do_OPTIONS(self) -> None:  # CORS preflight (main.rs:261-287)
        self.send_response(200)
        self._cors_headers()
        self.send_header("Content-Length", "0")
        self.end_headers()

    def do_POST(self) -> None:
        try:
            sql = self._read_sql()
            fmt = first_compatible_format(self.headers.get("Accept"))
            if fmt is None:
                raise UQueryError.not_acceptable(self.headers.get("Accept", "").lower())
            self._run_query(sql, *fmt)
        except UQueryError as e:
            self._send_problem(e)
        except (BrokenPipeError, ConnectionResetError):
            pass
        except Exception as e:  # noqa: BLE001
            self._send_problem(UQueryError.internal(str(e)[:300]))

    # -- request parsing (request.rs:23-67) -------------------------------

    def _read_sql(self) -> str:
        length = int(self.headers.get("Content-Length", 0))
        if length > MAX_BODY_BYTES:
            raise UQueryError.body_too_large(f"length limit exceeded ({length} > {MAX_BODY_BYTES})")
        body = self.rfile.read(length)
        ctype = self.headers.get("Content-Type", "")
        if "application/json" in ctype:
            try:
                payload = json.loads(body)
                return str(payload["query"])
            except (json.JSONDecodeError, KeyError, TypeError) as e:
                raise UQueryError.invalid_json(str(e)) from e
        try:
            return body.decode("utf-8")
        except UnicodeDecodeError as e:
            raise UQueryError.invalid_utf8(str(e)) from e

    # -- execution + streaming -------------------------------------------

    def _run_query(self, sql: str, fmt_key: str, content_type: str) -> None:
        cfg = self.config
        sink = _ResponseSink(self, content_type, "gzip" in self.headers.get("Accept-Encoding", ""))
        writer = writer_for_format(fmt_key, sink)
        prepared = cfg.engine.prepare(sql)
        timer = None
        if cfg.query_timeout:
            timer = threading.Timer(cfg.query_timeout, self._time_out, (sink, prepared))
            timer.start()
        try:
            prepared.execute(writer)
            sink.end()
        except Exception:
            if sink.claim():
                raise  # nothing sent yet: do_POST answers with the problem
            # mid-stream failure, disconnect, or already answered 408: stop
            # the jobs and drop the connection without the final chunk
            prepared.cancel()
            self.close_connection = True
        finally:
            if timer is not None:
                timer.cancel()
                timer.join()  # a 408 being sent finishes before the socket closes

    def _time_out(self, sink: _ResponseSink, prepared) -> None:
        """Deadline for the first batch (routers.rs:153-164)."""
        if sink.claim():
            prepared.cancel()  # job-group interrupt replaces Drop-based release
            self._send_problem(UQueryError.query_timeout(self.config.query_timeout), close=True)


def make_server(host: str, port: int, config: ServiceConfig) -> ThreadingHTTPServer:
    handler = type("BoundHandler", (UQueryHandler,), {"config": config})
    return ThreadingHTTPServer((host, port), handler)
