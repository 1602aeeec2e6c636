"""HTTP service-contract tests — 1:1 port of the reference's integration
suite (src/main.rs:107-527 + tests/docker_smoke_test.sh), same SQL, same
golden bytes.
"""

from __future__ import annotations

import gzip
import http.client
import io
import json
import os
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

import pyarrow as pa
import pytest

from uquery_rs_spark.engine import Engine
from uquery_rs_spark.errors import PROBLEM_JSON
from uquery_rs_spark.rewrite import SqlRewriter
from uquery_rs_spark.web.app import ServiceConfig, make_server

TEST_QUERY = (
    "SELECT * FROM (VALUES (1,'Rust','Safe, concurrent, performant systems language')) "
    "Language(Id,Name,Description)"
)
GOLDEN_JSON = (
    b'[{"Id":1,"Name":"Rust","Description":"Safe, concurrent, performant systems language"}]'
)
GOLDEN_CSV = b'Id,Name,Description\n1,Rust,"Safe, concurrent, performant systems language"\n'

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(TESTS_DIR, "fixtures")


def _serve(spark, engine=None, **cfg_kwargs):
    if engine is None:
        rewriter = SqlRewriter(spark, allowed_dirs=[TESTS_DIR])
        engine = Engine(spark, pool_size=2, rewriter=rewriter)
    server = make_server("127.0.0.1", 0, ServiceConfig(engine, **cfg_kwargs))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, f"http://127.0.0.1:{server.server_address[1]}"


@pytest.fixture(scope="module")
def base_url(spark):
    server, url = _serve(spark, query_timeout_secs=30)
    yield url
    server.shutdown()


@pytest.fixture(scope="module")
def cors_url(spark):
    server, url = _serve(spark, query_timeout_secs=30, cors_enabled=True)
    yield url
    server.shutdown()


def post(
    url, body, content_type="application/json", accept="application/json", headers=None, timeout=120
):
    data = json.dumps({"query": body}).encode() if content_type == "application/json" else body.encode()
    req = urllib.request.Request(url + "/", data=data, method="POST")
    req.add_header("Content-Type", content_type)
    req.add_header("Accept", accept)
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    try:
        resp = urllib.request.urlopen(req, timeout=timeout)
        return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read()


# -- golden formats (main.rs:154-228) ---------------------------------------


def test_query_json(base_url):
    status, headers, body = post(base_url, TEST_QUERY)
    assert status == 200
    assert headers["Content-Type"] == "application/json"
    assert body == GOLDEN_JSON


def test_query_text_plain(base_url):
    status, _, body = post(base_url, TEST_QUERY, content_type="text/plain")
    assert status == 200 and body == GOLDEN_JSON


def test_query_csv(base_url):
    status, headers, body = post(base_url, TEST_QUERY, accept="text/csv")
    assert status == 200
    assert headers["Content-Type"] == "text/csv"
    assert body == GOLDEN_CSV


def test_query_arrow_roundtrip(base_url):
    status, headers, body = post(
        base_url, TEST_QUERY, accept="application/vnd.apache.arrow.stream"
    )
    assert status == 200
    table = pa.ipc.open_stream(io.BytesIO(body)).read_all()
    assert table.column("Id").to_pylist() == [1]
    assert table.column("Name").to_pylist() == ["Rust"]
    assert table.column("Description").to_pylist() == [
        "Safe, concurrent, performant systems language"
    ]
    # cross-library decode: DuckDB's own IPC reader, a different
    # implementation than the pyarrow writer (mirrors the reference
    # decoding with polars, src/main.rs:196-213)
    import duckdb

    con = duckdb.connect()
    try:
        con.install_extension("arrow")
        con.load_extension("arrow")
        (row,) = con.sql(
            "SELECT Id, Name FROM scan_arrow_ipc(?)", params=[[body]]
        ).fetchall()
        assert row == (1, "Rust")
    except duckdb.Error:
        # arrow extension unavailable offline → decode via the relational
        # bridge instead (still a second consumer of the same bytes)
        reader = pa.ipc.open_stream(io.BytesIO(body)).read_all()
        assert con.sql("SELECT Id, Name FROM reader").fetchall() == [(1, "Rust")]
    finally:
        con.close()


def test_query_jsonl(base_url):
    status, _, body = post(base_url, TEST_QUERY, accept="application/jsonl")
    assert status == 200
    lines = body.decode().splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0])["Name"] == "Rust"


def test_query_gzip(base_url):
    status, headers, body = post(base_url, TEST_QUERY, headers={"Accept-Encoding": "gzip"})
    assert status == 200
    assert headers["Content-Encoding"] == "gzip"
    assert body[0] == 0x1F and body[1] == 0x8B  # main.rs:226-227
    assert gzip.decompress(body) == GOLDEN_JSON


# -- negotiation / errors (main.rs:289-302, routers.rs:191-205) -------------


def test_unsupported_accept_406(base_url):
    status, headers, body = post(base_url, TEST_QUERY, accept="text/html")
    assert status == 406
    assert headers["Content-Type"] == "application/problem+json"
    err = json.loads(body)
    assert err["title"] == "Unsupported response format"


def test_sql_error_400_problem_json(base_url):
    status, headers, body = post(base_url, "bad command")
    assert status == 400
    assert headers["Content-Type"] == "application/problem+json"
    err = json.loads(body)
    assert err["status"] == 400 and err["title"] == "SQL Error" and err["detail"]


def test_invalid_json_400(base_url):
    req = urllib.request.Request(base_url + "/", data=b"{not json", method="POST")
    req.add_header("Content-Type", "application/json")
    req.add_header("Accept", "application/json")
    try:
        resp = urllib.request.urlopen(req, timeout=30)
        status, body = resp.status, resp.read()
    except urllib.error.HTTPError as e:
        status, body = e.code, e.read()
    assert status == 400 and json.loads(body)["title"] == "Invalid JSON"


def test_body_too_large_400(base_url):
    status, _, body = post(base_url, "SELECT '" + "x" * (256 * 1024) + "'", content_type="text/plain")
    assert status == 400
    assert json.loads(body)["title"] == "Failed to read request body"


def test_forbidden_statement_400(base_url):
    status, _, body = post(base_url, "SET spark.sql.ansi.enabled=false")
    assert status == 400 and "locked" in json.loads(body)["detail"]


@pytest.mark.parametrize(
    "sql",
    [
        "-- x\nSET spark.sql.ansi.enabled=false",
        "/* c */ BEGIN SET spark.sql.ansi.enabled=false; END",
    ],
)
def test_comment_does_not_unlock_configuration(spark, base_url, sql):
    """A comment before a session-mutating statement is whitespace: the
    statement is refused like its bare form, and the shared session
    keeps ANSI on for the next request."""
    try:
        status, headers, body = post(base_url, sql)
        assert status == 400, body
        assert headers["Content-Type"] == "application/problem+json"
        assert "locked" in json.loads(body)["detail"]
        # with ANSI on, a bad cast fails (as in DuckDB) instead of NULL
        status, _, body = post(base_url, "SELECT CAST('abc' AS INTEGER) AS v")
        assert status == 400, body
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_sandbox_violation_400(base_url):
    status, _, body = post(base_url, "SELECT * FROM '/etc/passwd.csv'")
    assert status == 400 and "allowed directories" in json.loads(body)["detail"]


# -- health / CORS (main.rs:261-287, smoke :106) ----------------------------


def test_health(base_url):
    resp = urllib.request.urlopen(base_url + "/health", timeout=30)
    assert resp.status == 200


def test_cors_preflight(cors_url):
    req = urllib.request.Request(cors_url + "/", method="OPTIONS")
    req.add_header("Origin", "http://example.com")
    req.add_header("Access-Control-Request-Method", "POST")
    resp = urllib.request.urlopen(req, timeout=30)
    assert resp.status == 200
    assert resp.headers["Access-Control-Allow-Origin"] == "*"


def test_no_cors_headers_by_default(base_url):
    status, headers, _ = post(base_url, TEST_QUERY)
    assert status == 200 and "Access-Control-Allow-Origin" not in headers


# -- file scans (main.rs:304-368; same trio fixture) ------------------------


def test_scan_csv_path(base_url):
    status, _, body = post(
        base_url, f"SELECT * FROM '{FIXTURES}/test.csv' ORDER BY f_int"
    )
    assert status == 200
    rows = json.loads(body)
    assert rows[0] == {"f_str": "abc", "f_int": 123, "f_float": 4.56}


def test_scan_parquet_path(base_url):
    status, _, body = post(
        base_url, f"SELECT f_str, f_int, f_float FROM '{FIXTURES}/test.zstd.parquet' ORDER BY f_int"
    )
    assert status == 200
    rows = json.loads(body)
    assert [r["f_int"] for r in rows] == [123, 789]
    assert rows[1]["f_float"] == 10.12


def test_scan_jsonl_path(base_url):
    status, _, body = post(
        base_url,
        f"SELECT f_str, f_int, f_float FROM '{FIXTURES}/test.jsonl' ORDER BY f_int",
        accept="application/jsonl",
    )
    assert status == 200
    lines = [json.loads(l) for l in body.decode().splitlines()]
    assert len(lines) == 2 and lines[0]["f_str"] == "abc" and lines[0]["f_float"] == 4.56


def test_read_csv_tvf(base_url):
    status, _, body = post(
        base_url,
        f"SELECT count(*) AS n FROM read_csv('{FIXTURES}/test.csv', header=true)",
    )
    assert status == 200 and json.loads(body) == [{"n": 2}]


def test_format_equivalence_across_trio(base_url):
    results = []
    for f in ["test.csv", "test.jsonl", "test.zstd.parquet"]:
        status, _, body = post(
            base_url,
            f"SELECT f_str, CAST(f_int AS BIGINT) AS f_int, f_float FROM '{FIXTURES}/{f}' ORDER BY f_int",
        )
        assert status == 200
        results.append(json.loads(body))
    assert results[0] == results[1] == results[2]


# -- timeout (main.rs:452-469) ----------------------------------------------


def test_query_timeout_408(spark):
    server, url = _serve(spark, query_timeout_secs=0.05)
    try:
        # dialect-neutral slow query: since round 5 the gateway maps
        # FROM-position range() to DuckDB's column naming (`range`, not
        # Spark's `id`), so don't reference either by name here.
        slow = "SELECT count(*) AS n FROM range(3000000) a CROSS JOIN range(3000) b"
        status, _, body = post(url, slow)
        assert status == 408
        assert json.loads(body)["title"] == "Query Timeout"
    finally:
        server.shutdown()


def test_timeout_cancels_query_before_its_job_starts(spark):
    """The 408 fires during rewrite/analysis, before the query's job
    exists; the job must still never run, or it holds the permit."""
    engine = Engine(spark, pool_size=1, rewriter=SqlRewriter(spark, allowed_dirs=[TESTS_DIR]))
    short, short_url = _serve(spark, engine, query_timeout_secs=0.05)
    long, long_url = _serve(spark, engine, query_timeout_secs=30)
    try:
        slow = "SELECT count(*) AS n FROM range(3000000) a CROSS JOIN range(3000) b"
        status, headers, _ = post(short_url, slow)
        assert status == 408 and headers["Connection"] == "close"
        # same engine, one permit: served only once the slow query let go
        status, _, body = post(long_url, "SELECT 1 AS n", timeout=10)
        assert status == 200 and json.loads(body) == [{"n": 1}]
    finally:
        for server in (short, long):
            server.shutdown()
            server.server_close()


# -- one thread owns each response: streaming edge cases --------------------


def test_client_disconnect_releases_permits(spark):
    """Clients that hang up mid-stream must not keep pool permits: with a
    pool of 2, four abandoned Arrow streams, then a query is still served."""
    server, url = _serve(spark, query_timeout_secs=30)
    port = server.server_address[1]
    sql = b"SELECT id, id * 2 AS x FROM range(0, 600000, 1, 4) ORDER BY id DESC"
    request = (
        b"POST / HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: text/plain\r\n"
        b"Accept: application/vnd.apache.arrow.stream\r\n"
        b"Content-Length: %d\r\n\r\n%s" % (len(sql), sql)
    )
    try:
        streams = [socket.create_connection(("127.0.0.1", port), timeout=30) for _ in range(4)]
        for s in streams:
            s.sendall(request)
        for s in streams:
            try:
                s.recv(1024)
            except socket.timeout:
                pass
            s.close()
        status, _, body = post(url, "SELECT 1 AS n", timeout=10)
        assert status == 200 and json.loads(body) == [{"n": 1}]
    finally:
        server.shutdown()
        server.server_close()


def test_csv_export_streams(base_url):
    status, _, body = post(base_url, "SELECT * FROM range(100)", accept="text/csv")
    assert status == 200
    assert len(body.decode().splitlines()) == 101


def _fails_in_last_partition(parts: int) -> str:
    """1,000 rows in each of `parts` range partitions; only the last
    partition raises."""
    return (
        f"SELECT CASE WHEN id >= {1000 * (parts - 1)} THEN CAST(raise_error('boom') AS BIGINT) "
        f"ELSE id END AS v FROM range(0, {1000 * parts}, 1, {parts})"
    )


def test_mid_stream_failure_is_not_a_complete_200(spark, base_url):
    """An error after the 200 is committed cuts the chunked body short
    instead of ending it cleanly with some of the rows. The result is
    served in waves of defaultParallelism partitions; the error is in the
    last of 2·P + 1, so the first wave has been sent when it fails."""
    sql = _fails_in_last_partition(2 * spark.sparkContext.defaultParallelism + 1)
    with pytest.raises(http.client.IncompleteRead):
        post(base_url, sql, accept="application/jsonl")


def test_error_inside_the_first_wave_is_a_400(spark, base_url):
    """An error in any partition of the first wave comes before the first
    batch, so the client gets a problem+json 400 naming the Java cause,
    as the reference answers errors before the first batch
    (routers.rs:166-173)."""
    sql = _fails_in_last_partition(spark.sparkContext.defaultParallelism)
    status, headers, body = post(base_url, sql, accept="application/jsonl")
    assert status == 400 and headers["Content-Type"] == PROBLEM_JSON
    assert "boom" in json.loads(body)["detail"]


def test_one_spark_job_per_wave_in_partition_order(spark):
    """engine.execute() runs one Spark job per wave of at most
    defaultParallelism partitions (P), and serves the rows in partition
    order: a 4-partition range is 1 job, 2·P + 1 partitions are 3."""
    from uquery_rs_spark.writers import writer_for_format

    sc = spark.sparkContext
    eng = Engine(spark, pool_size=2)
    parts = 2 * sc.defaultParallelism + 1
    assert sc.defaultParallelism >= 4
    for sql, n, jobs in (
        ("SELECT id FROM range(0, 10, 1, 4)", 10, 1),
        (f"SELECT id FROM range(0, {10 * parts}, 1, {parts})", 10 * parts, 3),
    ):
        prepared = eng.prepare(sql)
        sink = io.BytesIO()
        prepared.execute(writer_for_format("jsonl", sink))
        assert [json.loads(line)["id"] for line in sink.getvalue().splitlines()] == list(range(n))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(prepared.job_group)) == jobs, sql


def test_wave_over_max_result_size_runs_one_partition_per_job(spark):
    """A wave whose results exceed spark.driver.maxResultSize runs again
    one partition per job, so a result whose partitions each fit is
    served whole and in order; the failed wave sent no frame."""
    from uquery_rs_spark.writers import writer_for_format

    sc = spark.sparkContext
    conf, p = sc._jsc.sc().conf(), sc.defaultParallelism
    rows = 2000 * p  # ~0.4 MiB of Arrow a partition, ~0.4·P MiB a wave
    old = conf.get("spark.driver.maxResultSize", "1g")
    conf.set("spark.driver.maxResultSize", "1m")
    try:
        prepared = Engine(spark, pool_size=1).prepare(
            f"SELECT id, repeat('x', 200) AS s FROM range(0, {rows}, 1, {p})"
        )
        sink = io.BytesIO()
        prepared.execute(writer_for_format("jsonl", sink))
    finally:
        conf.set("spark.driver.maxResultSize", old)
    assert [json.loads(line)["id"] for line in sink.getvalue().splitlines()] == list(range(rows))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(prepared.job_group)) == 1 + p


def test_no_delayed_ack_stall_between_headers_and_body(spark):
    """On one keep-alive connection the body of `SELECT 1` follows its
    headers at once. With Nagle's algorithm on, each small body chunk
    after the headers waited for the client's delayed ACK (~40 ms): the
    accepted socket must carry TCP_NODELAY, and the median wait stays
    well below that stall."""
    server, url = _serve(spark, query_timeout_secs=30)
    accepted, get_request = [], server.get_request

    def record():
        conn, addr = get_request()
        accepted.append(conn)
        return conn, addr

    server.get_request = record
    conn = http.client.HTTPConnection("127.0.0.1", server.server_address[1], timeout=30)
    headers = {"Content-Type": "text/plain", "Accept": "application/json"}
    gaps = []
    try:
        for _ in range(20):
            conn.request("POST", "/", body=b"SELECT 1 AS n", headers=headers)
            resp = conn.getresponse()
            t0 = time.perf_counter()
            body = resp.read()
            gaps.append(time.perf_counter() - t0)
            assert resp.status == 200 and json.loads(body) == [{"n": 1}]
        assert len(accepted) == 1
        assert accepted[0].getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
    finally:
        conn.close()
        server.shutdown()
    assert statistics.median(gaps) < 0.025, gaps


def test_sigterm_stops_server():
    root = os.path.dirname(TESTS_DIR)
    env = dict(os.environ, PYTHONPATH=root, UQ_DRIVER_MEMORY="1g")
    proc = subprocess.Popen(
        [sys.executable, "-u", "-m", "uquery_rs_spark.web", "--port", "0",
         "--addr", "127.0.0.1", "--cpus", "1"],
        cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True,
    )
    watchdog = threading.Timer(300, proc.kill)  # bounds the wait for the start line
    watchdog.start()
    try:
        for line in proc.stdout:
            if "started" in line:
                break
        watchdog.cancel()
        assert proc.poll() is None, "server exited before it started"
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=60)
        assert proc.returncode == 0, out[-2000:]
    finally:
        watchdog.cancel()
        try:  # whatever is left of the session, the JVM included
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def test_sigterm_right_after_start_line_stops_server():
    """The signal lands the moment the start line is written, before the
    server has returned from printing it: it still stops cleanly."""
    root = os.path.dirname(TESTS_DIR)
    env = dict(os.environ, PYTHONPATH=root, UQ_DRIVER_MEMORY="1g")
    code = (
        "import builtins, os, signal, sys\n"
        "from uquery_rs_spark.web.__main__ import main\n"
        "_print = builtins.print\n"
        "def print_then_signal(*args, **kwargs):\n"
        "    _print(*args, **kwargs)\n"
        "    if args and 'started' in str(args[0]):\n"
        "        os.kill(os.getpid(), signal.SIGTERM)\n"
        "builtins.print = print_then_signal\n"
        "sys.exit(main(['--port', '0', '--addr', '127.0.0.1', '--cpus', '1']))\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-u", "-c", code], cwd=root, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=300)
        assert proc.returncode == 0, out[-2000:]
        assert "shutting down" in out
    finally:
        try:  # whatever is left of the session, the JVM included
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def test_empty_result_streams_ok(base_url):
    status, _, body = post(base_url, "SELECT 1 AS x WHERE 1 = 0")
    assert status == 200 and body == b"[]"


# -- SELECT-shaped conveniences: DESCRIBE / SHOW / EXPLAIN (SURVEY §2.B.8) --


def test_describe_statement(base_url):
    status, _, body = post(
        base_url, f"DESCRIBE SELECT * FROM '{FIXTURES}/test.zstd.parquet'", "text/plain"
    )
    assert status == 200
    cols = {r["col_name"] for r in json.loads(body)}
    assert {"f_int", "f_float", "f_str"} <= cols


def test_show_functions_statement(base_url):
    status, _, body = post(base_url, "SHOW FUNCTIONS LIKE 'co*'", "text/plain")
    assert status == 200
    assert any("concat" in r["function"] for r in json.loads(body))


def test_explain_statement(base_url):
    status, _, body = post(base_url, "EXPLAIN SELECT 1 AS n", "text/plain")
    assert status == 200
    assert "Physical Plan" in json.loads(body)[0]["plan"]


# -- one encode path: execute() bytes vs an independent reference ------------


def _reference_bytes(table: pa.Table, fmt: str) -> bytes:
    """The response body for `table`, built from the collected result with
    pyarrow's stream writer, csv.writer and _dump_row joins."""
    import csv
    from datetime import date, datetime

    from uquery_rs_spark.writers.consumers import _dump_row

    if fmt == "arrow":
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            for b in table.to_batches(max_chunksize=8192):
                if b.num_rows:
                    w.write_batch(b)
        return sink.getvalue().to_pybytes()
    if fmt == "csv":
        buf = io.StringIO()
        out = csv.writer(buf, lineterminator="\n")
        out.writerow(table.column_names)
        cols = [c.to_pylist() for c in table.columns]
        for row in zip(*cols):
            out.writerow(
                "" if v is None else (v.isoformat() if isinstance(v, (datetime, date)) else v)
                for v in row
            )
        return buf.getvalue().encode()
    rows = [_dump_row(r) for r in table.to_pylist()]
    if fmt == "jsonl":
        return b"".join(r + b"\n" for r in rows)
    return b"[" + b",".join(rows) + b"]"


def _decoded(body: bytes, fmt: str) -> list:
    """The rows of a response body, in order."""
    if fmt == "arrow":
        return pa.ipc.open_stream(body).read_all().to_pylist()
    if fmt == "csv":
        import csv

        return list(csv.reader(io.StringIO(body.decode())))
    if fmt == "jsonl":
        return [json.loads(line) for line in body.splitlines()]
    return json.loads(body)


def test_execute_bytes_match_reference_all_formats(spark):
    """engine.execute() streams the JVM's Arrow batches to the writer,
    which encodes them on the driver in 8192-row slices; the bytes must
    equal a reference built from the collected result — across doubles,
    dates, timestamps, NULLs, unicode, quotes, several partitions, one
    partition of several JVM batches, nested and decimal types, plus an
    empty and a duplicate-name result. An ORDER BY over more range
    partitions than one wave (2·defaultParallelism + 1) is compared
    decoded, in row order."""
    from uquery_rs_spark.writers import writer_for_format

    eng = Engine(spark, pool_size=2)
    cases = [
        "SELECT id, CAST(id AS DOUBLE)/7 AS frac, "
        "concat('n\"é,', CAST(id AS STRING)) AS s, id % 2 = 0 AS b, "
        "DATE '2024-01-01' + CAST(id % 300 AS INT) AS d, "
        "TIMESTAMP_NTZ '2024-01-01 10:00:00' + make_interval(0,0,0,0,0,0,id % 86400) AS ts, "
        "IF(id % 10 = 0, NULL, id) AS nullable "
        "FROM range(40000) DISTRIBUTE BY id % 4",
        "SELECT 1 AS x WHERE 1 = 0",
        "SELECT 1 AS x, 2 AS X",
        # one partition, more rows than a JVM batch (65,536)
        "SELECT id, CAST(id AS STRING) AS s FROM range(0, 70000, 1, 1)",
        "SELECT TIMESTAMP_NTZ '2024-01-01 10:00:00' + make_interval(0,0,0,0,0,0,id) AS ntz, "
        "TIMESTAMP '2024-01-01 10:00:00' + make_interval(0,0,0,0,0,0,id) AS ltz, "
        "named_struct('a', id, 'b', IF(id % 3 = 0, NULL, CAST(id AS STRING))) AS st, "
        "map('k', id, 'v', id * 2) AS m, CAST(id AS DECIMAL(20, 3)) / 7 AS dec "
        "FROM range(0, 3000, 1, 2)",
        # float32, NaN, ±Inf, -0.0 and control characters
        "SELECT CAST(id / 7 AS FLOAT) AS f32, "
        "CAST(CASE id % 5 WHEN 0 THEN 'NaN' WHEN 1 THEN 'Infinity' WHEN 2 THEN '-Infinity' "
        "WHEN 3 THEN '-0.0' END AS DOUBLE) AS special, "
        "concat(chr(1 + id % 31), '\\\\', '\"', chr(127), CAST(id AS STRING)) AS ctl "
        "FROM range(0, 3000, 1, 2)",
    ]
    for sql in cases:
        table = spark.sql(sql).toArrow()
        for fmt in ("json", "jsonl", "csv", "arrow"):
            sink = io.BytesIO()
            eng.prepare(sql).execute(writer_for_format(fmt, sink))
            assert sink.getvalue() == _reference_bytes(table, fmt), (sql, fmt)

    ordered = "SELECT id, CAST(id AS STRING) AS s FROM range(0, 100000, 1, 3) ORDER BY id DESC"
    parts = 2 * spark.sparkContext.defaultParallelism + 1
    confs = {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.sql(ordered).rdd.getNumPartitions() == parts
        table = spark.sql(ordered).toArrow()
        assert table.column("id")[0].as_py() == 99999
        for fmt in ("json", "jsonl", "csv", "arrow"):
            sink = io.BytesIO()
            eng.prepare(ordered).execute(writer_for_format(fmt, sink))
            assert _decoded(sink.getvalue(), fmt) == _decoded(_reference_bytes(table, fmt), fmt), fmt
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_deadline_covers_the_permit_wait(spark):
    """A request that finds the pool saturated answers 408 at its deadline
    instead of waiting for a permit, and the pool serves again once the
    holder lets go. The holder is an Arrow stream whose client reads
    nothing, so it blocks on the full socket with the only permit."""
    engine = Engine(spark, pool_size=1, rewriter=SqlRewriter(spark, allowed_dirs=[TESTS_DIR]))
    holder, holder_url = _serve(spark, engine, query_timeout_secs=30)
    short, short_url = _serve(spark, engine, query_timeout_secs=0.5)
    sql = b"SELECT id, id * 2 AS x FROM range(0, 3000000, 1, 1)"
    request = (
        b"POST / HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: text/plain\r\n"
        b"Accept: application/vnd.apache.arrow.stream\r\n"
        b"Content-Length: %d\r\n\r\n%s" % (len(sql), sql)
    )
    stream = socket.create_connection(("127.0.0.1", holder.server_address[1]), timeout=60)
    try:
        stream.sendall(request)
        assert stream.recv(1024).startswith(b"HTTP/1.1 200")  # the permit is held
        t0 = time.monotonic()
        status, _, body = post(short_url, "SELECT 1 AS n", timeout=10)
        assert status == 408 and json.loads(body)["title"] == "Query Timeout"
        assert time.monotonic() - t0 < 5
        stream.close()
        status, _, body = post(holder_url, "SELECT 1 AS n", timeout=30)
        assert status == 200 and json.loads(body) == [{"n": 1}]
    finally:
        stream.close()
        for server in (holder, short):
            server.shutdown()
            server.server_close()


def test_recursive_cte_view_dropped_when_request_ends(spark, base_url):
    """A recursive CTE in the UNION form is served from a fixpoint temp
    view; the request drops it when it ends, so serving it leaves no
    `uq_rec_` view behind. Rows match DuckDB."""
    import duckdb

    sql = "WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT n + 1 FROM t WHERE n < 3) SELECT n FROM t"

    def rec_views():
        return {r.tableName for r in spark.sql("SHOW TABLES").collect() if r.tableName.startswith("uq_rec_")}

    before = rec_views()
    want = sorted(r[0] for r in duckdb.sql(sql).fetchall())
    for _ in range(2):
        status, _, body = post(base_url, sql)
        assert status == 200, body[:300]
        assert sorted(r["n"] for r in json.loads(body)) == want == [1, 2, 3]
    assert rec_views() <= before


def test_task_failure_detail_names_root_cause(base_url):
    """An error thrown inside a task reaches the client as its root cause,
    not as py4j's "An error occurred while calling oNN.getResult." wrapper."""
    status, _, body = post(
        base_url, "SELECT CAST(raise_error('boom') AS BIGINT) + id AS v FROM range(0, 10, 1, 2)"
    )
    assert status == 400
    detail = json.loads(body)["detail"]
    assert "boom" in detail and "getResult" not in detail


def test_interval_results_render_duckdb_text(base_url):
    """Round-10: interval-typed RESULT columns render as DuckDB's
    display text (engine.py::PreparedQuery.dataframe +
    functions/interval_text.py). Spark cannot convert Calendar/
    YearMonth intervals to Arrow at all, so these queries previously
    400'd through the serving path where the reference serves them;
    DayTime intervals serialized as raw durations where DuckDB prints
    '1 day 01:30:00'. Every expected string DuckDB-verified."""
    cases = [
        ("SELECT to_days(14) AS v", "14 days"),
        ("SELECT to_hours(25) AS v", "25:00:00"),
        ("SELECT INTERVAL 14 MONTH AS v", "1 year 2 months"),
        ("SELECT -INTERVAL 3 MONTH AS v", "-3 months"),
        ("SELECT INTERVAL 90 MINUTE AS v", "01:30:00"),
        (
            "SELECT TIMESTAMP '2024-03-15 10:00:00' - "
            "TIMESTAMP '2024-03-14 08:30:00' AS v",
            "1 day 01:30:00",
        ),
        (
            "SELECT TIMESTAMP '2024-03-14 08:30:00' - "
            "TIMESTAMP '2024-03-15 10:00:00.5' AS v",
            "-1 day -01:30:00.5",
        ),
        ("SELECT to_days(1) - to_minutes(30) AS v", "1 day -00:30:00"),
        ("SELECT to_months(1) - to_days(1) AS v", "1 month -1 day"),
        ("SELECT to_months(-14) AS v", "-1 year -2 months"),
        ("SELECT INTERVAL 0 SECOND AS v", "00:00:00"),
        ("SELECT to_seconds(90061.5) AS v", "25:01:01.5"),
        ("SELECT to_milliseconds(250) AS v", "00:00:00.25"),
        ("SELECT to_days(1) + to_microseconds(1) AS v", "1 day 00:00:00.000001"),
        ("SELECT to_quarters(5) AS v", "1 year 3 months"),
        ("SELECT CAST(NULL AS TIMESTAMP) - TIMESTAMP '2024-01-01' AS v", None),
    ]
    for sql, want in cases:
        status, _, body = post(base_url, sql)
        assert status == 200, (sql, body[:200])
        rows = json.loads(body)
        assert rows[0]["v"] == want, (sql, rows, want)


def test_interval_results_with_duplicate_column_names(base_url):
    """Round-11 (r10 ADVICE low, found broader): duplicate result-column
    names (legal SQL) 400'd through the WHOLE Arrow serving path — not
    just the interval re-select the ADVICE flagged. The JVM's Arrow
    batches carry columns by position, so they stream as they are; the
    interval transform is positional (toDF)."""
    # the pre-existing broader case: no intervals at all
    status, _, body = post(base_url, "SELECT 1 AS x, 2 AS x")
    assert status == 200, body[:300]
    status, _, body = post(
        base_url,
        "SELECT 1 AS x, 2 AS x, INTERVAL 90 MINUTE AS v, "
        "INTERVAL 1 DAY AS v",
    )
    assert status == 200, body[:300]
    line = json.loads(body)[0]
    # JSON objects collapse duplicate keys (last wins) — the serving
    # contract here is only that the query SUCCEEDS and the interval
    # text renders; column multiplicity is asserted via CSV below.
    assert line["v"] == "1 day"
    status, headers, body = post(base_url,
        "SELECT 1 AS x, 2 AS x, INTERVAL 90 MINUTE AS v",
        accept="text/csv",
    )
    assert status == 200, body[:300]
    head, first = body.decode().splitlines()[:2]
    assert head.split(",") == ["x", "x", "v"]
    assert first.split(",") == ["1", "2", "01:30:00"]


def test_case_variant_duplicate_column_names(base_url):
    """Round-12 ADVICE: case-variant duplicates (SELECT 1 AS x, 2 AS X)
    hit the same AMBIGUOUS_REFERENCE under Spark's case-insensitive
    resolution — the duplicate check now keys on casefolded names."""
    status, headers, body = post(
        base_url, "SELECT 1 AS x, 2 AS X", accept="text/csv"
    )
    assert status == 200, body[:300]
    head, first = body.decode().splitlines()[:2]
    assert head.split(",") == ["x", "X"]
    assert first.split(",") == ["1", "2"]
