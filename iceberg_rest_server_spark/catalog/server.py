"""HTTP front for the catalog store: the Iceberg REST catalog protocol
(reference routes: `crates/iceberg-catalog/src/api/router.rs:40-52`,
handlers under `src/catalog/`), stdlib-only (http.server).

Connections are persistent: the handler speaks HTTP/1.1 keep-alive, as
the reference's hyper server does, so a client (Iceberg's pooled Java
HTTPClient, RestCatalogClient's per-thread connection) pays for one TCP
connection and one server thread, not one per request. Table metadata
is served in its stored wire form: the load, create and commit
responses splice the text the store encoded once per version into the
envelope, with no parse, scrub or second encode.

Routes (prefix = warehouse id, as in the reference's `{prefix}`):

  GET    /catalog/v1/config?warehouse={project}/{name}
  GET    /catalog/v1/{prefix}/namespaces[?parent=]
  POST   /catalog/v1/{prefix}/namespaces
  GET    /catalog/v1/{prefix}/namespaces/{ns}
  HEAD   /catalog/v1/{prefix}/namespaces/{ns}
  DELETE /catalog/v1/{prefix}/namespaces/{ns}
  POST   /catalog/v1/{prefix}/namespaces/{ns}/properties
  GET    /catalog/v1/{prefix}/namespaces/{ns}/tables
  POST   /catalog/v1/{prefix}/namespaces/{ns}/tables
  GET    /catalog/v1/{prefix}/namespaces/{ns}/tables/{tbl}
  HEAD   /catalog/v1/{prefix}/namespaces/{ns}/tables/{tbl}
  POST   /catalog/v1/{prefix}/namespaces/{ns}/tables/{tbl}   (commit)
  DELETE /catalog/v1/{prefix}/namespaces/{ns}/tables/{tbl}
  POST   /catalog/v1/{prefix}/tables/rename
  POST   /catalog/v1/{prefix}/transactions/commit             (multi-table)
  POST   /catalog/v1/{prefix}/namespaces/{ns}/tables/{tbl}/metrics
  POST   /management/v1/warehouse
  GET    /management/v1/warehouse?project={id}
  POST   /management/v1/warehouse/{id}/activate|deactivate|rename

Errors use the reference's envelope
{"error": {"message", "type", "code"}} (rest/error.rs:22-70).
Namespace path segments use the 0x1F unit separator
(api/iceberg/v1/namespace.rs:89-112). register_table returns 501 like
the reference (catalog/tables.rs:211-225); views return 404/501 stubs
(catalog/views.rs:21-190).
"""

from __future__ import annotations

import json
import re
import socket
import sys
import threading
import urllib.parse
from collections.abc import Callable
from typing import Any
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .auth import TokenVerifier, UnauthorizedError
from .metadata import CommitError
from .s3_signer import (
    SigningError,
    parse_s3_uri,
    permission_for_method,
    sign_s3_request,
)
from .store import (  # noqa: F401 — SCRUBBED_NULL_KEYS is re-exported
    SCRUBBED_NULL_KEYS,
    UNIT_SEPARATOR,
    CatalogStore,
    ConflictError,
    NotFoundError,
    ValidationError,
    _scrub_table_metadata,
)


def _error(code: int, message: str, etype: str) -> tuple[int, dict]:
    return code, {"error": {"message": message, "type": etype, "code": code}}


def _amz_now() -> str:
    import time as _time

    return _time.strftime("%Y%m%dT%H%M%SZ", _time.gmtime())


def _uuid7() -> str:
    """UUIDv7 (RFC 9562): 48-bit unix-ms timestamp + random, so request
    ids sort by arrival time — same generator class the reference's
    MakeRequestUuid7 uses. Stdlib `uuid` has no v7 before 3.13."""
    import os as _os
    import time as _time

    ms = int(_time.time() * 1000) & ((1 << 48) - 1)
    rand_a = int.from_bytes(_os.urandom(2), "big") & 0x0FFF
    rand_b = int.from_bytes(_os.urandom(8), "big") & ((1 << 62) - 1)
    val = (ms << 80) | (0x7 << 76) | (rand_a << 64) | (0b10 << 62) | rand_b
    h = f"{val:032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _ns_from_path(segment: str) -> list[str]:
    return urllib.parse.unquote(segment).split(UNIT_SEPARATOR)


def _scrub_metadata_nulls(payload: dict) -> dict:
    """Wire-format parity with the reference's serde `Option` fields
    (skip_serializing_if none), stated over a payload dict: OPTIONAL
    table-metadata keys with no value are OMITTED, never null — the
    OpenAPI document types `current-snapshot-id` / `parent-snapshot-id`
    / `metadata-location` as non-nullable, so an explicit null is a
    contract violation (caught by tests/openapi_schema.py validating
    every conformance exchange). Only the keys in SCRUBBED_NULL_KEYS are
    dropped (contract-tested in
    tests/test_catalog.py::test_scrub_strips_exactly_the_pinned_keys).
    `next-page-token: null` stays — the spec's PageToken is nullable
    and clients read null as end-of-listing.

    The routes never build this dict: the store scrubs each version
    when it encodes it and `_table_body` splices that text. This is the
    reference the spliced bodies are tested against
    (tests/test_metadata_properties.py)."""
    out = dict(payload)
    if isinstance(out.get("metadata"), dict):
        out["metadata"] = _scrub_table_metadata(out["metadata"])
    if "metadata-location" in out and out["metadata-location"] is None:
        del out["metadata-location"]
    if isinstance(out.get("results"), list):  # commit_transaction
        out["results"] = [
            r if not isinstance(r, dict) else _scrub_metadata_nulls(r)
            for r in out["results"]
        ]
    return out


def _table_body(metadata_json: str, metadata_location: str | None, **rest) -> bytes:
    """The LoadTableResult body ``{"metadata": ..., "metadata-location":
    ..., **rest}``, byte for byte what ``json.dumps`` of that dict gives,
    with the stored wire text spliced in as the ``metadata`` value: no
    parse, scrub or second encode. A null ``metadata-location`` (a
    stage-created table) is omitted."""
    if metadata_location is not None:
        rest = {"metadata-location": metadata_location, **rest}
    tail = json.dumps(rest)  # "{...}": its members follow the metadata
    return b'{"metadata": %s%s%s' % (
        metadata_json.encode(),
        b", " if rest else b"",
        tail[1:].encode(),
    )


class CatalogHandler(BaseHTTPRequestHandler):
    store: CatalogStore  # injected by make_server
    verifier: "TokenVerifier | None" = None  # optional OIDC middleware
    # Config-time token exchange hook (config.rs:115-139
    # exchange_token_for_warehouse): called with (headers, project_id,
    # warehouse_id); a returned string becomes overrides["token"] in the
    # GET /config response. The reference's only shipped implementation
    # (implementations/authz.rs:37-44, AllowAllAuthZHandler) returns
    # None — same default here; deployments plug in their exchanger.
    token_exchanger: "Callable[[dict, str, str], str | None] | None" = None
    server_version = "iceberg-rest-server-spark/0.1"
    # keep-alive: one connection and one handler thread per client
    protocol_version = "HTTP/1.1"
    # headers and body go out in two sends; with Nagle on, the body
    # waits for the client's delayed ACK (~40 ms per response)
    disable_nagle_algorithm = True
    # seconds an idle connection may park its thread
    timeout = 30

    def log_message(self, *args) -> None:  # silence request logging
        pass

    # ------------------------------------------------------------ plumbing

    def _body(self) -> dict:
        return json.loads(self._raw_body) if self._raw_body else {}

    @staticmethod
    def _require(body: dict, *keys: str) -> Any:
        """Fetch a required wire field, 400-ing (ValidationException)
        when absent — parity with axum/serde extraction, which rejects
        malformed bodies with 4xx before the handler runs. A bare
        KeyError would fall through to the generic 500 handler, and the
        repo's own contract validators treat undocumented 5xx as a
        contract failure (openapi_schema.py, ADVICE r9/r10)."""
        for key in keys:
            if not isinstance(body, dict) or key not in body:
                raise ValidationError(f"missing required field {key!r}")
            body = body[key]
        return body

    def _send(self, code: int, payload: dict | bytes | None = None) -> None:
        """Send ``payload`` (a dict to encode, or an encoded body) with
        ``Content-Length`` on every response: keep-alive clients find the
        end of each body by it."""
        if isinstance(payload, bytes):
            data = payload
        else:
            data = b"" if payload is None else json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        # CompressionLayer parity (api/router.rs:67): gzip when the client
        # negotiates it and the body is worth compressing (metadata JSON
        # shrinks ~5-10x; tiny envelopes aren't worth the header)
        accept = self.headers.get("Accept-Encoding", "")
        if data and len(data) >= 256 and "gzip" in accept.lower():
            import gzip as _gzip

            data = _gzip.compress(data, compresslevel=6)
            self.send_header("Content-Encoding", "gzip")
        self.send_header("Content-Length", str(len(data)))
        # x-request-id middleware (api/router.rs:58-77: set_x_request_id
        # (MakeRequestUuid7) + propagate_x_request_id): echo the client's
        # id when present, else mint a time-ordered uuid7 — correlates
        # client logs with server logs across retries
        self.send_header(
            "x-request-id", self.headers.get("x-request-id") or _uuid7()
        )
        self.end_headers()
        if data and self.command != "HEAD":
            self.wfile.write(data)

    def _authorize(self) -> tuple[int, dict] | None:
        """Optional OIDC middleware (token_verification.rs:46-75): when a
        verifier is configured, every route requires a valid Bearer token;
        without one the request is 401 before any routing happens."""
        if self.verifier is None:
            return None
        authz = self.headers.get("Authorization", "")
        if not authz.startswith("Bearer "):
            return _error(401, "Missing authorization header", "UnauthorizedError")
        try:
            self.verifier.verify(authz[len("Bearer ") :])
        except UnauthorizedError as e:
            return _error(401, str(e), e.error_type)
        return None

    def _dispatch(self) -> None:
        # read the whole body first: on a kept-alive connection, bytes
        # left unread by a 401, a 404 or a route that ignores its body
        # would be parsed as the next request
        try:
            length = int(self.headers.get("Content-Length") or 0)
            if length < 0:
                raise ValueError(length)
        except ValueError:
            self.close_connection = True
            self._send(*_error(400, "invalid Content-Length", "ValidationException"))
            return
        self._raw_body = self.rfile.read(length) if length else b""
        parsed = urllib.parse.urlparse(self.path)
        qs = urllib.parse.parse_qs(parsed.query)
        parts = [p for p in parsed.path.split("/") if p]
        # /health sits outside the auth layer (api/router.rs:53 mounts it
        # on the top-level router, not behind the token middleware)
        if parts != ["health"]:
            denied = self._authorize()
            if denied is not None:
                self._send(*denied)
                return
        try:
            code, payload = self.route(self.command, parts, qs)
        except NotFoundError as e:
            code, payload = _error(404, str(e), e.error_type)
        except ConflictError as e:
            # subclasses carry the reference's specific type string
            # (NamespaceAlreadyExists, TableAlreadyExists, ...)
            code, payload = _error(409, str(e), e.error_type)
        except ValidationError as e:
            code, payload = _error(400, str(e), "ValidationException")
        except CommitError as e:
            status = 409 if e.error_type == "CommitFailedException" else 400
            if e.error_type == "NoSuchTableException":
                status = 404
            code, payload = _error(status, str(e), e.error_type)
        except Exception as e:  # noqa: BLE001 — error envelope parity
            code, payload = _error(500, f"{type(e).__name__}: {e}", "InternalServerError")
        self._send(code, payload)

    do_GET = do_POST = do_DELETE = do_HEAD = _dispatch

    # ------------------------------------------------------------- signing

    def _table_config(self, prefix: str) -> dict:
        """Per-table config vended on load_table (storage/s3.rs:313-377
        generate_table_config): region keys, endpoint, path-style flag,
        and remote-signing enablement — what a RESTCatalog client needs
        to route its IO through the signer."""
        wh = self.store.get_warehouse(prefix)
        profile = wh.get("storage_profile")
        if not profile:
            return {}
        region = profile.get("region", "")
        config = {
            "s3.region": region,
            "region": region,
            "client.region": region,
            "s3.remote-signing-enabled": "true",
        }
        if profile.get("path-style-access"):
            config["s3.path-style-access"] = "true"
        if profile.get("endpoint"):
            config["s3.endpoint"] = profile["endpoint"]
        return config

    def _sign_profile(self, prefix: str) -> dict:
        """The warehouse's storage profile, loaded once per sign request;
        a warehouse without one cannot sign (400)."""
        profile = self.store.get_warehouse(prefix).get("storage_profile")
        if not profile:
            raise ValidationError("warehouse has no storage profile")
        return profile

    def _sign_route(
        self, prefix: str, body: dict, table_location: str, profile: dict
    ) -> tuple[int, dict | None]:
        """Shared sign flow for the table-scoped and prefix-only routes:
        region check against the loaded profile, then URI validation +
        SigV4."""
        if body.get("region") and body["region"] != profile.get("region"):
            # region must match the profile (s3_signer.rs:309-320)
            return _error(
                400,
                f"region {body.get('region')!r} does not match profile",
                "ValidationException",
            )
        creds = self.store.get_storage_credentials(prefix, profile)
        if not creds.get("access-key-id") or not creds.get("secret-access-key"):
            # MissingStorageCredential (storage/s3.rs:264-275)
            return _error(400, "storage credentials missing", "MissingStorageCredential")
        try:
            permission_for_method(body["method"])
            signed = sign_s3_request(
                method=body["method"],
                uri=body["uri"],
                headers=body.get("headers", {}),
                table_location=table_location,
                region=profile["region"],
                access_key=creds["access-key-id"],
                secret_key=creds["secret-access-key"],
                amz_date=body.get("amz-date") or _amz_now(),
                endpoint_host=profile.get("endpoint-host"),
            )
        except SigningError as e:
            return _error(403, str(e), "SignAccessDenied")
        return 200, {"uri": body["uri"], "headers": signed}

    # -------------------------------------------------------------- routes

    def route(
        self, method: str, parts: list[str], qs: dict
    ) -> tuple[int, dict | bytes | None]:
        if parts == ["health"] and method == "GET":
            # api/router.rs:53 — unauthenticated liveness probe
            return 200, {"status": "ok"}
        if parts[:2] == ["catalog", "v1"]:
            return self._catalog_route(method, parts[2:], qs)
        if parts[:2] == ["management", "v1"]:
            return self._management_route(method, parts[2:], qs)
        return _error(404, f"unknown path {'/'.join(parts)}", "NoSuchObjectException")

    def _catalog_route(
        self, method: str, p: list[str], qs: dict
    ) -> tuple[int, dict | bytes | None]:
        store = self.store
        if p == ["oauth", "tokens"] and method == "POST":
            # Parity stub: the reference routes POST /oauth/tokens
            # (api/iceberg/v1/oauth.rs:22-33) to a Service trait that has
            # no implementation anywhere in the crates — clients must
            # bring external OIDC. We answer with the same "unimplemented"
            # envelope instead of a 404 so clients get a clear signal.
            return _error(501, "OAuth token endpoint is not implemented", "NotImplemented")
        if p == ["config"]:
            # catalog/config.rs:35-143 — warehouse arg "{project}/{name}"
            wh_arg = qs.get("warehouse", [""])[0]
            if "/" not in wh_arg:
                return _error(400, "warehouse must be '{project}/{name}'", "ValidationException")
            project, name = wh_arg.split("/", 1)
            wh = store.get_warehouse_by_name(project, name)
            overrides = {}
            # Give the auth handler a chance to exchange / enrich the
            # token (config.rs:115-130): a returned token lands in
            # overrides BEFORE prefix/uri so it can never clobber them.
            if self.token_exchanger is not None:
                new_token = self.token_exchanger(
                    dict(self.headers), project, wh["warehouse_id"]
                )
                if new_token is not None:
                    overrides["token"] = new_token
            overrides["prefix"] = wh["warehouse_id"]
            host = self.headers.get("Host") or "127.0.0.1"
            # config.rs:137-139 — clients are redirected to this server's
            # base uri (reference default ends in /catalog/, config.rs:85)
            overrides["uri"] = f"http://{host}/catalog/"
            if wh.get("storage_profile"):
                # warehouse-scoped signer base; the client appends
                # v1/aws/s3/sign (storage/s3.rs:278-288,
                # config.rs s3_signer_uri_for_warehouse)
                overrides["s3.signer.uri"] = (
                    f"http://{host}/catalog/v1/{wh['warehouse_id']}"
                )
            return 200, {"overrides": overrides, "defaults": {}}
        if len(p) >= 2:
            prefix, rest = p[0], p[1:]
            if rest == ["namespaces"]:
                if method == "GET":
                    parent = qs.get("parent", [None])[0]
                    parent_ns = _ns_from_path(parent) if parent else None
                    page_token = qs.get("pageToken", [None])[0]
                    page_size = qs.get("pageSize", [None])[0]
                    names, next_token = store.list_namespaces(
                        prefix, parent_ns, page_token, int(page_size) if page_size else None
                    )
                    return 200, {"namespaces": names, "next-page-token": next_token}
                if method == "POST":
                    body = self._body()
                    out = store.create_namespace(
                        prefix, body["namespace"], body.get("properties")
                    )
                    return 200, out
            if len(rest) == 2 and rest[0] == "namespaces":
                ns = _ns_from_path(rest[1])
                if method == "GET":
                    return 200, store.load_namespace(prefix, ns)
                if method == "HEAD":
                    if store.namespace_exists(prefix, ns):
                        return 204, None
                    return _error(404, f"namespace {ns} not found", "NoSuchNamespaceException")
                if method == "DELETE":
                    store.drop_namespace(prefix, ns)
                    return 204, None
            if len(rest) == 3 and rest[0] == "namespaces" and rest[2] == "properties":
                body = self._body()
                out = store.update_namespace_properties(
                    prefix,
                    _ns_from_path(rest[1]),
                    body.get("removals", []),
                    body.get("updates", {}),
                )
                return 200, out
            if len(rest) == 3 and rest[0] == "namespaces" and rest[2] == "tables":
                ns = _ns_from_path(rest[1])
                if method == "GET":
                    page_token = qs.get("pageToken", [None])[0]
                    page_size = qs.get("pageSize", [None])[0]
                    names, next_token = store.list_tables(
                        prefix, ns, page_token, int(page_size) if page_size else None
                    )
                    return 200, {
                        "identifiers": [{"namespace": ns, "name": n} for n in names],
                        "next-page-token": next_token,
                    }
                if method == "POST":
                    body = self._body()
                    out = store.create_table(
                        prefix,
                        ns,
                        body["name"],
                        body["schema"],
                        partition_spec=body.get("partition-spec"),
                        write_order=body.get("write-order"),
                        properties=body.get("properties"),
                        stage_create=bool(body.get("stage-create")),
                        location=body.get("location"),
                    )
                    return 200, _table_body(out["metadata-json"], out["metadata-location"])
            if len(rest) == 4 and rest[0] == "namespaces" and rest[2] == "tables":
                ns, tbl = _ns_from_path(rest[1]), rest[3]
                if method == "GET":
                    out = store.load_table(prefix, ns, tbl)
                    return 200, _table_body(
                        out["metadata"],
                        out["metadata-location"],
                        config=self._table_config(prefix),
                    )
                if method == "HEAD":
                    if store.table_exists(prefix, ns, tbl):
                        return 204, None
                    return _error(404, f"table {tbl} not found", "NoSuchTableException")
                if method == "DELETE":
                    store.drop_table(prefix, ns, tbl)
                    return 204, None
                if method == "POST":
                    body = self._body()
                    (result,) = store.commit_transaction(
                        prefix,
                        [
                            {
                                "namespace": ns,
                                "name": tbl,
                                "requirements": body.get("requirements", []),
                                "updates": body.get("updates", []),
                            }
                        ],
                    )
                    return 200, _table_body(result["metadata"], result["metadata-location"])
            if (
                len(rest) == 5
                and rest[0] == "namespaces"
                and rest[2] == "tables"
                and rest[4] == "metrics"
            ):
                # accepted and discarded (catalog/metrics.rs:12-20)
                return 204, None
            if (
                len(rest) == 8
                and rest[0] == "namespaces"
                and rest[2] == "tables"
                and rest[4:] == ["v1", "aws", "s3", "sign"]
            ):
                # POST .../tables/{tbl}/v1/aws/s3/sign (s3_signer.rs:38-173)
                ns, tbl = _ns_from_path(rest[1]), rest[3]
                table = store.load_table(prefix, ns, tbl)
                return self._sign_route(
                    prefix, self._body(), table["table-location"], self._sign_profile(prefix)
                )
            if rest == ["v1", "aws", "s3", "sign"] and method == "POST":
                # prefix-only sign route — the one Spark actually calls
                # when s3.signer.uri is warehouse-scoped: resolve the
                # table from the request URI by location prefix
                # (catalog/s3_signer.rs:55-90)
                body = self._body()
                profile = self._sign_profile(prefix)
                try:
                    s3loc = parse_s3_uri(body["uri"], profile.get("endpoint-host"))
                    key = urllib.parse.unquote(s3loc.key)
                    table = store.resolve_table_by_location(
                        prefix, f"s3://{s3loc.bucket}/{key}"
                    )
                except SigningError as e:
                    return _error(403, str(e), "SignAccessDenied")
                except NotFoundError as e:
                    # reference maps location-resolution failure to 401
                    # InvalidLocation (catalog/s3_signer.rs:70-80)
                    return _error(401, str(e), "InvalidLocation")
                return self._sign_route(prefix, body, table["table-location"], profile)
            if rest == ["tables", "rename"]:
                body = self._body()
                store.rename_table(
                    prefix,
                    body["source"]["namespace"],
                    body["source"]["name"],
                    body["destination"]["namespace"],
                    body["destination"]["name"],
                )
                return 204, None
            if rest == ["transactions", "commit"]:
                body = self._body()
                changes = [
                    {
                        "namespace": t["identifier"]["namespace"],
                        "name": t["identifier"]["name"],
                        "requirements": t.get("requirements", []),
                        "updates": t.get("updates", []),
                    }
                    for t in body.get("table-changes", [])
                ]
                store.commit_transaction(prefix, changes)
                return 204, None
            if (
                method == "POST"
                and len(rest) == 3
                and rest[0] == "namespaces"
                and rest[2] == "register"
            ):
                # 501 parity (catalog/tables.rs:211-225). The spec route
                # is /v1/{prefix}/namespaces/{namespace}/register; the
                # pre-r9 match (`rest == ["register"]`) tested a path
                # that doesn't exist, so a real RESTCatalog
                # register_table call fell through to a generic 404
                # instead of the structured 501 — found by the r9
                # OpenAPI route-coverage test. POST-only (ADVICE r9):
                # the reference registers the route with axum `post()`,
                # so GET/DELETE on the same path 404 there, not 501.
                return _error(501, "register_table is not implemented", "NotImplemented")
            if len(rest) >= 3 and rest[0] == "namespaces" and rest[2] == "views":
                if method == "GET" and len(rest) == 3:
                    return 200, {"identifiers": []}  # catalog/views.rs:43-46
                return _error(501, "views are not implemented", "NotImplemented")
        return _error(404, "no such route", "NoSuchObjectException")

    # ------------------------- management wire-shape translation helpers
    # The reference's management contract is compile-time utoipa
    # (management/mod.rs ManagementApiDoc + v1/warehouse.rs serde
    # derives); tests/management_openapi.py is the same document derived
    # by inspection, and every exchange below is validated against it in
    # tests/test_management_contract.py. The store keeps its own
    # neutral keys — only this HTTP layer speaks the wire dialect.

    @staticmethod
    def _profile_to_wire(profile: dict | None) -> dict | None:
        """Store profile -> S3Profile wire shape (storage/mod.rs:18
        internally-tagged `type: s3`, s3.rs:66-86 kebab fields). The
        storage-secret-id pointer is internal and must NEVER serialize —
        it indexes the encrypted secret table."""
        if not profile:
            return None
        out = {"type": "s3"}
        for k in (
            "bucket", "key-prefix", "assume-role-arn",
            "endpoint", "region", "path-style-access",
        ):
            if profile.get(k) is not None:
                out[k] = profile[k]
        return out

    @staticmethod
    def _profile_from_wire(p: dict) -> dict:
        if p.get("type") != "s3":
            # storage/mod.rs:18 — S3 is the only StorageProfile variant
            raise ValidationError(f"unsupported storage profile type {p.get('type')!r}")
        return {k: v for k, v in p.items() if k != "type" and v is not None}

    @staticmethod
    def _credential_from_wire(c: dict | None) -> dict | None:
        """StorageCredential wire (nested tags `type: s3` +
        `credential-type: access-key`, storage/mod.rs:161 + s3.rs:428)
        -> store credential keys. The legacy flat shape (access-key-id,
        ...) is kept as a local extension for pre-r10 callers."""
        if c is None:
            return None
        if "credential-type" in c or "aws-access-key-id" in c:
            if c.get("credential-type", "access-key") != "access-key":
                raise ValidationError(
                    f"unsupported credential-type {c.get('credential-type')!r}"
                )
            return {
                "access-key-id": CatalogHandler._require(c, "aws-access-key-id"),
                "secret-access-key": CatalogHandler._require(c, "aws-secret-access-key"),
            }
        return c

    def _warehouse_to_wire(self, w: dict) -> dict:
        """Store row -> GetWarehouseResponse (warehouse.rs:84-97: id,
        name, project-id, storage-profile, status; kebab-case)."""
        out = {
            "id": w["warehouse_id"],
            "name": w["name"],
            "project-id": w["project_id"],
            "status": w["status"],
        }
        profile = self._profile_to_wire(w.get("storage_profile"))
        if profile is not None:
            # always present on reference-shaped warehouses (the create
            # request requires a profile); absent only for the
            # base-location local-testing extension
            out["storage-profile"] = profile
        return out

    def _management_route(self, method: str, p: list[str], qs: dict) -> tuple[int, dict | None]:
        store = self.store
        if p == ["project"] and method == "GET":
            # management/mod.rs:214-218 + warehouse.rs:70-81.
            # ProjectResponse is the one management struct WITHOUT
            # #[serde(rename_all = "kebab-case")] (warehouse.rs:70-74),
            # so the key is snake_case project_id on the wire — pinned
            # by tests/test_management_contract.py (pre-r10 we emitted
            # kebab project-id; found deriving the contract document).
            return 200, {
                "projects": [{"project_id": pid} for pid in store.list_projects()]
            }
        if p == ["warehouse"]:
            if method == "POST":
                # CreateWarehouseRequest (warehouse.rs:14-26): requires
                # warehouse-name, project-id, storage-profile; optional
                # storage-credential. `base-location` is OUR local
                # extension (the reference is S3-only; this container
                # has no S3, so file:// warehouses keep e2e tests real).
                body = self._body()
                if "storage-profile" in body:
                    profile = self._profile_from_wire(body["storage-profile"])
                    creds = self._credential_from_wire(body.get("storage-credential"))
                    base = f"s3://{profile.get('bucket', '')}"
                    if profile.get("key-prefix"):
                        base += f"/{profile['key-prefix']}"
                    wid = store.create_warehouse(
                        self._require(body, "project-id"),
                        self._require(body, "warehouse-name"),
                        base,
                    )
                    store.set_storage_profile(wid, {**profile, **(creds or {})})
                else:
                    wid = store.create_warehouse(
                        self._require(body, "project-id"),
                        self._require(body, "warehouse-name"),
                        self._require(body, "base-location"),
                    )
                return 201, {"warehouse-id": wid}  # axum 201 (warehouse.rs:115-119)
            if method == "GET":
                # ListWarehousesRequest query params (warehouse.rs:50-62):
                # repeatable warehouse-status enum is an INCLUSION filter
                # (postgres/warehouse.rs:152 `unwrap_or([Active])` then
                # `status = ANY(...)`) — `?warehouse-status=inactive`
                # alone excludes active warehouses. project-id absent →
                # 400 MissingProjectId (warehouse.rs:205-211). The
                # pre-r10 `project`/`include-inactive` params stay as
                # legacy aliases.
                project = (qs.get("project-id") or qs.get("project") or [""])[0]
                if not project:
                    return _error(400, "project-id is required", "MissingProjectId")
                statuses = tuple(qs.get("warehouse-status", []))
                if not statuses:
                    statuses = (
                        ("active", "inactive")
                        if qs.get("include-inactive", ["false"])[0] == "true"
                        else ("active",)
                    )
                return 200, {
                    "warehouses": [
                        self._warehouse_to_wire(w)
                        for w in store.list_warehouses(project, statuses)
                    ]
                }
        if len(p) == 2 and p[0] == "warehouse":
            if method == "GET":
                return 200, self._warehouse_to_wire(store.get_warehouse(p[1]))
            if method == "DELETE":
                # management/mod.rs:268-270 `.delete(delete_warehouse)`;
                # 409 WarehouseNotEmpty on contained namespaces/tables
                # (typed ConflictError → envelope via the generic
                # handler). Result<()> responds 200 with empty body
                # (axum IntoResponse for unit), not 204.
                store.delete_warehouse(p[1])
                return 200, None
        if len(p) == 3 and p[0] == "warehouse":
            wid, action = p[1], p[2]
            if action == "storage":
                # the REFERENCE route (management/mod.rs:282-285):
                # UpdateWarehouseStorageRequest carries a typed
                # storage-profile + optional storage-credential. With no
                # credential the OLD secret is detached and deleted
                # (warehouse.rs:360-386: 'The existing credential is not
                # re-used. If no credential is provided, we assume that
                # this storage does not require credentials.') — silently
                # retaining it would leave the signer using a credential
                # the caller believes was dropped.
                body = self._body()
                profile = self._profile_from_wire(self._require(body, "storage-profile"))
                creds = self._credential_from_wire(body.get("storage-credential"))
                store.set_storage_profile(
                    wid, {**profile, **(creds or {})}, retain_credential=False
                )
                return 200, None
            if action == "storage-profile":
                # legacy local alias (flat un-tagged profile dict)
                store.set_storage_profile(wid, self._body())
                return 200, None
            if action == "storage-credential":
                # management/mod.rs:288-292: rotate only the credential,
                # storage profile untouched
                body = self._body()
                store.update_storage_credential(
                    wid, self._credential_from_wire(body.get("new-storage-credential"))
                )
                return 200, None
            if action == "activate":
                store.set_warehouse_status(wid, "active")
                return 200, None
            if action == "deactivate":
                store.set_warehouse_status(wid, "inactive")
                return 200, None
            if action == "rename":
                store.rename_warehouse(wid, self._require(self._body(), "new-name"))
                return 200, None
        return _error(404, "no such route", "NoSuchObjectException")


class CatalogHTTPServer(ThreadingHTTPServer):
    """ThreadingHTTPServer that ends its kept-alive connections when it
    closes: a handler thread parked on an idle connection would
    otherwise keep serving the old store until its client hangs up or
    the idle timeout fires."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._open: set[socket.socket] = set()
        self._open_lock = threading.Lock()

    def process_request(self, request, client_address) -> None:
        with self._open_lock:
            self._open.add(request)
        super().process_request(request, client_address)

    def shutdown_request(self, request) -> None:
        with self._open_lock:
            self._open.discard(request)
        super().shutdown_request(request)

    def handle_error(self, request, client_address) -> None:
        # a client that drops or resets its kept-alive connection is not
        # a server fault; anything else still prints its traceback
        if not isinstance(sys.exc_info()[1], ConnectionError):
            super().handle_error(request, client_address)

    def server_close(self) -> None:
        super().server_close()
        with self._open_lock:
            parked = list(self._open)
        for sock in parked:
            # the handler's pending read sees end-of-stream and returns,
            # and the client sees the connection close; a request that
            # races the close is cut, as it would be by a process exit
            try:
                sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass  # already closed by its handler


def make_server(
    store: CatalogStore,
    port: int = 0,
    verifier: "TokenVerifier | None" = None,
    token_exchanger: "Callable[[dict, str, str], str | None] | None" = None,
) -> CatalogHTTPServer:
    handler = type(
        "BoundCatalogHandler",
        (CatalogHandler,),
        {
            "store": store,
            "verifier": verifier,
            # staticmethod: a bare function stored on the class would
            # bind as a method and receive the handler as first arg
            "token_exchanger": (
                staticmethod(token_exchanger) if token_exchanger is not None else None
            ),
        },
    )
    return CatalogHTTPServer(("127.0.0.1", port), handler)


class ServerThread:
    """Run the catalog server on a daemon thread; `with` support."""

    def __init__(
        self,
        store: CatalogStore | None = None,
        port: int = 0,
        verifier: "TokenVerifier | None" = None,
        token_exchanger: "Callable[[dict, str, str], str | None] | None" = None,
    ):
        self.store = store or CatalogStore()
        self.httpd = make_server(self.store, port, verifier, token_exchanger)
        self.port = self.httpd.server_address[1]
        self.base_url = f"http://127.0.0.1:{self.port}"
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)

    def __enter__(self) -> "ServerThread":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
