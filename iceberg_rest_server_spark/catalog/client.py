"""Python client for the catalog REST API (http.client, stdlib-only) —
the same protocol surface Spark's RESTCatalog/pyiceberg speak to the
reference (tests/python/tests/conftest.py:204-226).

Each client keeps one persistent HTTP/1.1 connection per thread, as
Iceberg's pooled Java HTTPClient does, so successive requests skip the
TCP handshake and the server's per-connection thread start."""

from __future__ import annotations

import http.client
import json
import threading
import urllib.parse
from typing import Any

from .store import UNIT_SEPARATOR

# a kept-alive connection the server has since closed (idle timeout,
# restart) fails with one of these before any response arrives
_STALE_CONNECTION = (http.client.RemoteDisconnected, BrokenPipeError, ConnectionResetError)


class CatalogHTTPError(Exception):
    def __init__(self, code: int, error: dict):
        super().__init__(f"{code}: {error.get('message')}")
        self.code = code
        self.error_type = error.get("type")
        self.error = error


class RestCatalogClient:
    def __init__(self, base_url: str):
        self.base_url = base_url.rstrip("/")
        url = urllib.parse.urlsplit(self.base_url)
        self._netloc, self._base_path = url.netloc, url.path
        self._local = threading.local()  # .conn: this thread's connection
        self.prefix: str | None = None

    def _request(self, method: str, path: str, body: dict | None = None) -> dict | None:
        data = None if body is None else json.dumps(body).encode()
        headers = {"Content-Type": "application/json"}
        url = self._base_path + path
        conn = getattr(self._local, "conn", None)
        reused = conn is not None
        if not reused:
            conn = self._local.conn = http.client.HTTPConnection(self._netloc)
        try:
            try:
                conn.request(method, url, data, headers)
                resp = conn.getresponse()
            except _STALE_CONNECTION:
                if not reused:
                    raise
                # reconnect once: request() reopens a closed connection
                conn.close()
                conn.request(method, url, data, headers)
                resp = conn.getresponse()
            raw = resp.read()
        except BaseException:
            # a failed exchange leaves the connection in an unknown state
            conn.close()
            self._local.conn = None
            raise
        if resp.status >= 400:
            try:
                payload = json.loads(raw) if raw else {}
            except json.JSONDecodeError:
                payload = {}
            raise CatalogHTTPError(resp.status, payload.get("error", {"message": raw.decode()}))
        return json.loads(raw) if raw else None

    @staticmethod
    def _ns(namespace: list[str]) -> str:
        return urllib.parse.quote(UNIT_SEPARATOR.join(namespace))

    # ------------------------------------------------------------- config

    def configure(self, project: str, warehouse_name: str) -> dict:
        """GET /config — resolves the warehouse prefix for later calls."""
        out = self._request(
            "GET",
            f"/catalog/v1/config?warehouse={urllib.parse.quote(f'{project}/{warehouse_name}')}",
        )
        self.prefix = out["overrides"]["prefix"]
        return out

    def _p(self) -> str:
        if self.prefix is None:
            raise RuntimeError("call configure() first")
        return f"/catalog/v1/{self.prefix}"

    # --------------------------------------------------------- namespaces

    def create_namespace(self, namespace: list[str], properties: dict | None = None) -> dict:
        return self._request(
            "POST",
            f"{self._p()}/namespaces",
            {"namespace": namespace, "properties": properties or {}},
        )

    def list_namespaces(self, parent: list[str] | None = None) -> list[list[str]]:
        path = f"{self._p()}/namespaces"
        if parent:
            path += f"?parent={self._ns(parent)}"
        return self._request("GET", path)["namespaces"]

    def load_namespace(self, namespace: list[str]) -> dict:
        return self._request("GET", f"{self._p()}/namespaces/{self._ns(namespace)}")

    def drop_namespace(self, namespace: list[str]) -> None:
        self._request("DELETE", f"{self._p()}/namespaces/{self._ns(namespace)}")

    def update_namespace_properties(
        self, namespace: list[str], removals: list[str] | None = None, updates: dict | None = None
    ) -> dict:
        return self._request(
            "POST",
            f"{self._p()}/namespaces/{self._ns(namespace)}/properties",
            {"removals": removals or [], "updates": updates or {}},
        )

    # ------------------------------------------------------------- tables

    def create_table(
        self,
        namespace: list[str],
        name: str,
        schema: dict,
        partition_spec: dict | None = None,
        write_order: dict | None = None,
        properties: dict | None = None,
        stage_create: bool = False,
    ) -> dict:
        body: dict[str, Any] = {"name": name, "schema": schema}
        if partition_spec is not None:
            body["partition-spec"] = partition_spec
        if write_order is not None:
            body["write-order"] = write_order
        if properties is not None:
            body["properties"] = properties
        if stage_create:
            body["stage-create"] = True
        return self._request(
            "POST", f"{self._p()}/namespaces/{self._ns(namespace)}/tables", body
        )

    def list_tables(self, namespace: list[str]) -> list[str]:
        out = self._request("GET", f"{self._p()}/namespaces/{self._ns(namespace)}/tables")
        return [ident["name"] for ident in out["identifiers"]]

    def load_table(self, namespace: list[str], name: str) -> dict:
        return self._request(
            "GET", f"{self._p()}/namespaces/{self._ns(namespace)}/tables/{name}"
        )

    def drop_table(self, namespace: list[str], name: str) -> None:
        self._request("DELETE", f"{self._p()}/namespaces/{self._ns(namespace)}/tables/{name}")

    def rename_table(
        self, src_ns: list[str], src_name: str, dst_ns: list[str], dst_name: str
    ) -> None:
        self._request(
            "POST",
            f"{self._p()}/tables/rename",
            {
                "source": {"namespace": src_ns, "name": src_name},
                "destination": {"namespace": dst_ns, "name": dst_name},
            },
        )

    def commit_table(
        self, namespace: list[str], name: str, requirements: list[dict], updates: list[dict]
    ) -> dict:
        return self._request(
            "POST",
            f"{self._p()}/namespaces/{self._ns(namespace)}/tables/{name}",
            {"requirements": requirements, "updates": updates},
        )

    def commit_transaction(self, table_changes: list[dict]) -> None:
        self._request(
            "POST", f"{self._p()}/transactions/commit", {"table-changes": table_changes}
        )

    def sign_s3(
        self,
        method: str,
        uri: str,
        headers: dict | None = None,
        namespace: list[str] | None = None,
        name: str | None = None,
        region: str | None = None,
        amz_date: str | None = None,
    ) -> dict:
        """POST the sign request. With namespace/name, uses the
        table-scoped route; otherwise the prefix-only route (the one
        Spark's S3V4RestSigner actually calls — the table is resolved
        from the URI by location prefix)."""
        body: dict[str, Any] = {"method": method, "uri": uri, "headers": headers or {}}
        if region:
            body["region"] = region
        if amz_date:
            body["amz-date"] = amz_date
        if namespace is not None and name is not None:
            path = f"{self._p()}/namespaces/{self._ns(namespace)}/tables/{name}/v1/aws/s3/sign"
        else:
            path = f"{self._p()}/v1/aws/s3/sign"
        return self._request("POST", path, body)

    def report_metrics(self, namespace: list[str], name: str, report: dict) -> None:
        self._request(
            "POST",
            f"{self._p()}/namespaces/{self._ns(namespace)}/tables/{name}/metrics",
            report,
        )

    # --------------------------------------------------------- management

    def create_warehouse(self, project_id: str, name: str, base_location: str) -> str:
        out = self._request(
            "POST",
            "/management/v1/warehouse",
            {"project-id": project_id, "warehouse-name": name, "base-location": base_location},
        )
        return out["warehouse-id"]
