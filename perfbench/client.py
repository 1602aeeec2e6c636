"""Closed-loop HTTP load generator and response checks.

Each client thread keeps one HTTP/1.1 connection and sends its next
request only after the previous reply has been read to the last byte.
Requests come from one shared, seed-ordered list of rounds; a round is
the workload's full mix, and the measured requests are whole rounds
(see `run_rounds`).

Bodies are hashed while they stream. The first body seen for each
distinct (request kind, hash) pair is kept and checked against DuckDB
after the timed phase, so the check never competes with the server for
the cores it is timed on.
"""

from __future__ import annotations

import csv
import gzip
import hashlib
import http.client
import io
import itertools
import json
import math
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa

ACCEPT = {
    "arrow": "application/vnd.apache.arrow.stream",
    "json": "application/json",
    "jsonl": "application/jsonl",
    "csv": "text/csv",
}


@dataclass(frozen=True)
class Request:
    key: str  # request kind: one per distinct (text, format, encoding)
    sql: str
    fmt: str = "json"
    gzip: bool = False


@dataclass
class Result:
    req: Request
    rid: str = ""  # X-Request-Id, joins the reply to the traced server's record
    status: int = 0
    content_type: str = ""
    ttfb: float = 0.0
    latency: float = 0.0
    nbytes: int = 0
    sha: str = ""
    error: str = ""


@dataclass
class Bodies:
    """First body per (key, sha), for the offline check."""

    lock: threading.Lock = field(default_factory=threading.Lock)
    kept: dict[tuple[str, str], bytes] = field(default_factory=dict)

    def keep(self, key: str, sha: str, chunks: list[bytes]) -> None:
        with self.lock:
            if (key, sha) not in self.kept:
                self.kept[(key, sha)] = b"".join(chunks)


_request_ids = itertools.count(1)


class Client:
    def __init__(self, port: int, deadline_s: float):
        self.port = port
        self.deadline_s = deadline_s
        self.conn: http.client.HTTPConnection | None = None

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None

    def send(self, req: Request, bodies: Bodies | None = None) -> Result:
        """POST one query and read the reply to its last byte. The socket
        timeout is the client deadline: the server's permit wait has no
        timeout of its own."""
        res = Result(req, rid=str(next(_request_ids)))
        headers = {
            "Content-Type": "application/json",
            "Accept": ACCEPT[req.fmt],
            "X-Request-Id": res.rid,
        }
        if req.gzip:
            headers["Accept-Encoding"] = "gzip"
        payload = json.dumps({"query": req.sql}).encode()
        t0 = time.perf_counter()
        chunks: list[bytes] = []
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.deadline_s)
            self.conn.request("POST", "/", body=payload, headers=headers)
            resp = self.conn.getresponse()
            res.ttfb = time.perf_counter() - t0
            res.status = resp.status
            res.content_type = resp.getheader("Content-Type", "")
            h = hashlib.sha256()
            while True:
                buf = resp.read(1 << 16)
                if not buf:
                    break
                h.update(buf)
                res.nbytes += len(buf)
                chunks.append(buf)
                if time.perf_counter() - t0 > self.deadline_s:
                    raise TimeoutError("client deadline")
            res.latency = time.perf_counter() - t0
            res.sha = h.hexdigest()
            if res.status == 200 and bodies is not None:
                bodies.keep(req.key, res.sha, chunks)
            elif res.status != 200:
                res.error = b"".join(chunks)[:300].decode(errors="replace")
        except (OSError, http.client.HTTPException, TimeoutError) as e:
            res.latency = time.perf_counter() - t0
            res.error = f"{type(e).__name__}: {e}"
            self.close()
        return res


def run_rounds(
    port: int,
    rounds: list[list[Request]],
    clients: int,
    seconds: float,
    deadline_s: float,
    bodies: Bodies | None,
) -> tuple[list[Result], list[Result], float]:
    """Closed loop over whole rounds.

    The measured requests are every round started before `seconds` had
    passed. While any of them is still running, the other clients keep
    sending requests from later rounds, unmeasured, so the measured ones
    never see a draining, emptier server. Ends early when `rounds` run
    out. Returns (measured, unmeasured, seconds until the last measured
    reply ended)."""
    flat = [(i, r) for i, rnd in enumerate(rounds) for r in rnd]
    lock = threading.Lock()
    state = {"next": 0, "stop_round": None, "in_flight": 0, "last_end": 0.0}
    measured: list[Result] = []
    extra: list[Result] = []
    t_start = time.perf_counter()

    def take():
        with lock:
            n = state["next"]
            if n >= len(flat):
                return None
            rnd, req = flat[n]
            if state["stop_round"] is None and time.perf_counter() - t_start >= seconds:
                state["stop_round"] = rnd if n and flat[n - 1][0] == rnd else rnd - 1
            is_measured = state["stop_round"] is None or rnd <= state["stop_round"]
            if not is_measured and state["in_flight"] == 0:
                return None
            state["next"] = n + 1
            state["in_flight"] += is_measured
            return req, is_measured

    def loop():
        c = Client(port, deadline_s)
        try:
            while (item := take()) is not None:
                req, is_measured = item
                res = c.send(req, bodies)
                with lock:
                    if is_measured:
                        measured.append(res)
                        state["in_flight"] -= 1
                        state["last_end"] = time.perf_counter() - t_start
                    else:
                        extra.append(res)
        finally:
            c.close()

    threads = [threading.Thread(target=loop, name=f"client-{i}") for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return measured, extra, state["last_end"]


# -- decoding and checking ------------------------------------------------


def decode(fmt: str, body: bytes, gzipped: bool, schema: pa.Schema) -> tuple[list[str], list[tuple]]:
    """Response body → (column names, row tuples) for `oracle.digest`.

    Text formats carry no types, so CSV cells are read back as the
    oracle's column types. Timestamps in columns the oracle types as
    TIMESTAMP are compared as naive UTC instants: the server's session
    time zone is UTC, and Spark's TIMESTAMP is zoned where DuckDB's is
    not, so the served text may carry a "+00:00" offset."""
    if gzipped:
        body = gzip.decompress(body)
    if fmt == "arrow":
        table = pa.ipc.open_stream(body).read_all()
        cols, rows = table.column_names, list(zip(*[c.to_pylist() for c in table.columns]))
    elif fmt == "csv":
        reader = csv.reader(io.StringIO(body.decode()))
        cols = next(reader)
        casts = [_csv_cast(schema.field(c).type) if c in schema.names else str for c in cols]
        rows = [tuple(None if v == "" else f(v) for f, v in zip(casts, row)) for row in reader]
    else:
        if fmt == "json":
            objs = json.loads(body)
        elif fmt == "jsonl":
            objs = [json.loads(line) for line in io.BytesIO(body) if line.strip()]
        else:
            raise ValueError(f"no decoder for {fmt}")
        cols = list(objs[0].keys()) if objs else list(schema.names)
        rows = [tuple(o.get(c) for c in cols) for o in objs]
    ts = [i for i, c in enumerate(cols) if c in schema.names and pa.types.is_timestamp(schema.field(c).type)]
    if ts:
        rows = [tuple(_naive_utc(v) if i in ts else v for i, v in enumerate(r)) for r in rows]
    return cols, rows


def body_digest(fmt: str, body: bytes, gzipped: bool, schema: pa.Schema, ordered: bool):
    """(sorted column names, oracle.digest, rows in ORDER BY order) of one
    body, or (None, error text, False). With `ordered`, the first two
    columns are the sort key. Runs in a worker process."""
    from uquery_rs_spark.oracle import digest

    try:
        cols, rows = decode(fmt, body, gzipped, schema)
    except (ValueError, KeyError, UnicodeDecodeError, OSError, pa.ArrowInvalid) as e:
        return None, f"undecodable body: {e}", False
    in_order = not ordered or all(a[:2] <= b[:2] for a, b in zip(rows, rows[1:]))
    return sorted(cols), digest(cols, rows), in_order


def table_digest(table: pa.Table):
    """(sorted column names, oracle.digest) of a DuckDB answer."""
    from uquery_rs_spark.oracle import digest

    rows = list(zip(*[c.to_pylist() for c in table.columns]))
    return sorted(table.column_names), digest(table.column_names, rows)


def _naive_utc(v):
    if isinstance(v, str):
        v = datetime.fromisoformat(v)
    if isinstance(v, datetime) and v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def _csv_cast(t: pa.DataType):
    if pa.types.is_integer(t):
        return int
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return float
    return str


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def highest_percentile_with_tail(n: int, tail: int = 10) -> int | None:
    """Largest whole percentile with at least `tail` samples beyond it."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= tail:
            return q
    return None
