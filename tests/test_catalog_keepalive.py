"""Persistent connections: the catalog server speaks HTTP/1.1 keep-alive
and RestCatalogClient keeps one connection per thread. These pin the
protocol obligations that keep-alive adds — every request's body is
consumed, every response is delimited, idle and closing connections are
handled — on both ends."""

from __future__ import annotations

import http.client
import json
import threading
import time

import pytest

from iceberg_rest_server_spark.catalog.auth import TokenVerifier, UnauthorizedError
from iceberg_rest_server_spark.catalog.client import RestCatalogClient
from iceberg_rest_server_spark.catalog.server import ServerThread

SCHEMA = {
    "type": "struct",
    "fields": [{"id": 1, "name": "id", "required": True, "type": "long"}],
}


def _count_connections(server: ServerThread) -> set:
    """Swap in a handler subclass that records each connection's client
    address; returns the set it fills."""
    seen: set = set()
    base = server.httpd.RequestHandlerClass

    class Counting(base):
        def setup(self):
            seen.add(self.client_address)
            super().setup()

    server.httpd.RequestHandlerClass = Counting
    return seen


def _client_with_table(server: ServerThread, tmp_path) -> RestCatalogClient:
    c = RestCatalogClient(server.base_url)
    c.create_warehouse("p", "wh", f"file://{tmp_path}/wh")
    c.configure("p", "wh")
    c.create_namespace(["ns"])
    c.create_table(["ns"], "t", SCHEMA)
    return c


def test_sequential_requests_share_one_connection(tmp_path):
    with ServerThread() as server:
        seen = _count_connections(server)
        c = _client_with_table(server, tmp_path)
        for _ in range(46):
            assert c.load_table(["ns"], "t")["metadata"]["current-schema-id"] == 0
        assert len(seen) == 1


def test_each_thread_gets_its_own_connection(tmp_path):
    """One client shared by threads: each thread has one connection,
    and their responses never interleave."""
    with ServerThread() as server:
        c = _client_with_table(server, tmp_path)
        seen = _count_connections(server)
        errors = []

        def work():
            try:
                for _ in range(20):
                    assert c.load_table(["ns"], "t")["metadata"]["location"]
                    assert c.list_tables(["ns"]) == ["t"]
            except Exception as e:  # noqa: BLE001 — reported by the main thread
                errors.append(e)

        threads = [threading.Thread(target=work) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
        assert not errors
        assert len(seen) == 4


class _RequireToken(TokenVerifier):
    def __init__(self):
        pass

    def verify(self, token):
        if token != "good":
            raise UnauthorizedError("bad token")


def test_unread_bodies_do_not_leak_into_the_next_request(tmp_path):
    """A metrics 204, a 401 and a 404, each with a request body, are
    each followed on the same connection by a load that returns a
    body that parses."""
    auth = {"Authorization": "Bearer good", "Content-Type": "application/json"}
    with ServerThread(verifier=_RequireToken()) as server:
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=10)

        def exchange(method, path, body=None, headers=auth):
            data = None if body is None else json.dumps(body)
            conn.request(method, path, data, headers)
            resp = conn.getresponse()
            return resp.status, resp.read()

        status, raw = exchange(
            "POST", "/management/v1/warehouse",
            {"project-id": "p", "warehouse-name": "wh", "base-location": f"file://{tmp_path}/wh"},
        )
        assert status == 201
        status, raw = exchange("GET", "/catalog/v1/config?warehouse=p%2Fwh")
        prefix = json.loads(raw)["overrides"]["prefix"]
        tables = f"/catalog/v1/{prefix}/namespaces/ns/tables"
        assert exchange("POST", f"/catalog/v1/{prefix}/namespaces", {"namespace": ["ns"]})[0] == 200
        assert exchange("POST", tables, {"name": "t", "schema": SCHEMA})[0] == 200

        report = {"report-type": "scan-report", "filter": "x" * 2000}
        refusals = [
            ("POST", f"{tables}/t/metrics", report, auth, 204),
            ("POST", f"{tables}/t", {"updates": []}, {"Authorization": "Bearer bad"}, 401),
            ("POST", f"/catalog/v1/{prefix}/no/such/route", report, auth, 404),
        ]
        for method, path, body, headers, code in refusals:
            assert exchange(method, path, body, headers)[0] == code
            status, raw = exchange("GET", f"{tables}/t")
            assert status == 200
            assert json.loads(raw)["metadata"]["current-schema-id"] == 0
        conn.close()


def test_every_response_is_delimited(tmp_path):
    """Non-HEAD responses — 204s and error envelopes included — carry
    Content-Length; HEAD responses carry no body, so the next exchange on
    the connection still parses."""
    with ServerThread() as server:
        c = _client_with_table(server, tmp_path)
        p = f"/catalog/v1/{c.prefix}"
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=10)
        exchanges = [
            ("GET", f"{p}/namespaces/ns/tables/t", 200),
            ("POST", f"{p}/namespaces/ns/tables/t/metrics", 204),
            ("GET", f"{p}/namespaces/ns/tables/missing", 404),
            ("HEAD", f"{p}/namespaces/ns/tables/t", 204),
            ("HEAD", f"{p}/namespaces/ns/tables/missing", 404),
            ("DELETE", f"{p}/namespaces/ns", 409),
            ("GET", "/health", 200),
        ]
        for method, path, code in exchanges:
            conn.request(method, path, b"{}" if method == "POST" else None)
            resp = conn.getresponse()
            raw = resp.read()
            assert resp.status == code, (method, path)
            if method == "HEAD":
                assert raw == b""
            else:
                assert int(resp.getheader("Content-Length")) == len(raw)
                assert code == 204 or json.loads(raw)
        conn.close()


def test_invalid_content_length_is_400_and_closes(tmp_path):
    """A body whose length cannot be known cannot be skipped: 400, and
    the server ends the connection instead of parsing the body bytes as
    the next request."""
    with ServerThread() as server:
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=10)
        conn.putrequest("POST", "/management/v1/warehouse")
        conn.putheader("Content-Length", "-1")
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 400
        assert json.loads(resp.read())["error"]["type"] == "ValidationException"
        assert conn.sock.recv(1) == b""  # closed by the server
        conn.close()


def test_client_reconnects_once_after_the_server_drops_an_idle_connection(tmp_path):
    with ServerThread() as server:
        server.httpd.RequestHandlerClass.timeout = 0.2
        seen = _count_connections(server)
        c = _client_with_table(server, tmp_path)
        assert len(seen) == 1
        time.sleep(0.6)  # the server times the idle connection out
        assert c.list_tables(["ns"]) == ["t"]
        assert len(seen) == 2
        assert c.load_table(["ns"], "t")["metadata"]["current-schema-id"] == 0
        assert len(seen) == 2


def test_server_exit_is_prompt_with_a_connection_open(tmp_path):
    with ServerThread() as server:
        c = _client_with_table(server, tmp_path)
        t0 = time.perf_counter()
    assert time.perf_counter() - t0 < 2.0
    # the parked connection was ended with the server, not served on
    with pytest.raises(ConnectionError):
        c.list_tables(["ns"])
