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

Every route is one entry of `CatalogHandler.ROUTES`, keyed by (method,
path template) in the OpenAPI document's template spelling; an
unlisted pair is a 404. Every request body is read by one reader
(`_read_body`), as serde extraction reads it in the reference: a body
that is not a JSON object is a 400 before the handler runs, and a
required member it lacks, or a member of the wrong JSON type
(`_member` for identifiers, `_typed` for the rest), is a 400 where the
handler reads it.

Errors use the reference's envelope
{"error": {"message", "type", "code"}} (rest/error.rs:22-70).
Namespace path segments use the 0x1F unit separator
(api/iceberg/v1/namespace.rs:89-112). register_table returns 501 like
the reference (catalog/tables.rs:211-225); views return 404/501 stubs
(catalog/views.rs:21-190).
"""

from __future__ import annotations

import json
import socket
import sys
import threading
import urllib.parse
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import get_args, get_origin

from .auth import TokenVerifier, UnauthorizedError
from .io import GZIP_LEVEL
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


class _Body(dict):
    """A JSON object of a request body. A member the handler indexes but
    the client left out is a 400 ValidationException, as serde
    extraction rejects it in the reference, not a KeyError's 500."""

    def __missing__(self, key):
        raise ValidationError(f"missing required field {key!r}")


def _read_body(raw: bytes) -> _Body:
    """The one reader of every request body: a JSON object, ``{}`` when
    the body is empty; malformed JSON or any other JSON value is a 400."""
    if not raw:
        return _Body()
    try:
        body = json.loads(raw, object_pairs_hook=_Body)
    except ValueError as e:  # JSONDecodeError, UnicodeDecodeError
        raise ValidationError(f"malformed JSON body: {e}") from e
    if not isinstance(body, _Body):
        raise ValidationError("request body must be a JSON object")
    return body


def _member(body: dict, key: str):
    """Member ``key`` of a request body, type-checked where it names a
    catalog object, as serde's typed extraction checks it in the
    reference: ``namespace`` is a list of non-empty strings, ``name`` a
    string, and ``source``, ``destination`` and ``identifier`` are
    objects holding those two, returned as ``(namespace, name)``. A
    wrong type is a 400."""
    value = body[key]
    if key in ("source", "destination", "identifier"):
        if not isinstance(value, dict):
            raise ValidationError(f"{key!r} must be a table identifier object, got {value!r}")
        return _member(value, "namespace"), _member(value, "name")
    if key == "namespace":
        ok = isinstance(value, list) and all(isinstance(p, str) and p for p in value)
    else:
        ok = isinstance(value, str)
    if not ok:
        raise ValidationError(f"{key!r} has the wrong type: {value!r}")
    return value


_REQUIRED = object()


def _typed(body: dict, key: str, kind, default=_REQUIRED):
    """Member ``key`` of a request body, checked to be of the JSON type
    ``kind`` names: ``dict`` an object, ``list[dict]`` a list of objects,
    ``list[str]`` a list of strings. A member left out or null is
    ``default`` when one is given. A wrong type is a 400, as serde's
    typed extraction rejects it in the reference."""
    if default is _REQUIRED:
        value = body[key]
    elif (value := body.get(key)) is None:
        return default
    if get_origin(kind) is list:
        (item,) = get_args(kind)
        ok = isinstance(value, list) and all(isinstance(v, item) for v in value)
    else:
        ok = isinstance(value, kind)
    if not ok:
        raise ValidationError(f"{key!r} has the wrong type: {value!r}")
    return value


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

            data = _gzip.compress(data, compresslevel=GZIP_LEVEL)
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
        raw = self.rfile.read(length) if length else b""
        parsed = urllib.parse.urlparse(self.path)
        self.query = urllib.parse.parse_qs(parsed.query)
        parts = [p for p in parsed.path.split("/") if p]
        # /health sits outside the auth layer (api/router.rs:53 mounts it
        # on the top-level router, not behind the token middleware)
        if parts != ["health"]:
            denied = self._authorize()
            if denied is not None:
                self._send(*denied)
                return
        try:
            for template, handler in _ROUTE_INDEX.get((self.command, len(parts)), ()):
                if all(t == p or t[0] == "{" for t, p in zip(template, parts)):
                    break
            else:
                raise NotFoundError(f"no route for {self.command} /{'/'.join(parts)}")
            self.body = _read_body(raw)
            params = [_ns_from_path(p) if t == "{namespace}" else p
                      for t, p in zip(template, parts) if t[0] == "{"]
            code, payload = handler(self, *params)
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

    # every method goes through the route table, so one it does not list
    # gets the JSON 404 envelope, not http.server's HTML 501
    do_GET = do_POST = do_PUT = do_PATCH = do_DELETE = do_HEAD = _dispatch

    def _param(self, name: str) -> str | None:
        return self.query.get(name, [None])[0]

    def _page(self) -> tuple[str | None, int | None]:
        """The pageToken and pageSize query parameters: each absent or a
        non-negative integer."""
        token, size = self._param("pageToken"), self._param("pageSize")
        for value in (token, size):
            if value is not None and not (value.isascii() and value.isdigit()):
                raise ValidationError(f"page parameter {value!r} is not an integer ≥ 0")
        return token, None if size is None else int(size)

    # ------------------------------------------------------------- signing

    @staticmethod
    def _table_config(profile: dict | None) -> dict:
        """Per-table config vended on load_table (storage/s3.rs:313-377
        generate_table_config) from the warehouse's storage ``profile``:
        region keys, endpoint, path-style flag, and remote-signing
        enablement — what a RESTCatalog client needs to route its IO
        through the signer."""
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

    @staticmethod
    def _sign_profile(profile: dict | None) -> dict:
        """The warehouse's storage ``profile``, loaded once per sign
        request; a warehouse without one cannot sign (400)."""
        if not profile:
            raise ValidationError("warehouse has no storage profile")
        return profile

    def _sign_route(
        self, prefix: str, table_location: str, profile: dict
    ) -> tuple[int, dict | None]:
        """Shared sign flow for the table-scoped and prefix-only routes:
        region check against the loaded profile, then URI validation +
        SigV4."""
        body = self.body
        if body.get("region") and body["region"] != profile.get("region"):
            # region must match the profile (s3_signer.rs:309-320)
            raise ValidationError(f"region {body['region']!r} does not match profile")
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

    # ------------------------------------------------------ catalog routes
    # Each handler gets the path template's {…} values in order, with
    # {namespace} decoded to its parts, and returns (status, payload).

    def _health(self):
        # api/router.rs:53 — unauthenticated liveness probe
        return 200, {"status": "ok"}

    def _not_implemented(self, *_):
        # Parity stubs for routes the reference serves with 501: POST
        # /oauth/tokens goes to a Service trait no crate implements
        # (api/iceberg/v1/oauth.rs:22-33; clients bring external OIDC),
        # register_table (catalog/tables.rs:211-225, POST only: any other
        # method on its path is an unrouted 404 there too) and views
        # (catalog/views.rs:21-190)
        path = self.path.partition("?")[0]
        return _error(501, f"{self.command} {path} is not implemented", "NotImplemented")

    def _config(self):
        # catalog/config.rs:35-143 — warehouse arg "{project}/{name}"
        wh_arg = self._param("warehouse") or ""
        if "/" not in wh_arg:
            return _error(400, "warehouse must be '{project}/{name}'", "ValidationException")
        project, name = wh_arg.split("/", 1)
        wh = self.store.get_warehouse_by_name(project, name)
        overrides = {}
        # Give the auth handler a chance to exchange / enrich the
        # token (config.rs:115-130): a returned token lands in
        # overrides BEFORE prefix/uri so it can never clobber them.
        if self.token_exchanger is not None:
            new_token = self.token_exchanger(dict(self.headers), project, wh["warehouse_id"])
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
            overrides["s3.signer.uri"] = f"http://{host}/catalog/v1/{wh['warehouse_id']}"
        return 200, {"overrides": overrides, "defaults": {}}

    def _list_namespaces(self, prefix):
        parent = self._param("parent")
        names, next_token = self.store.list_namespaces(
            prefix, _ns_from_path(parent) if parent else None, *self._page()
        )
        return 200, {"namespaces": names, "next-page-token": next_token}

    def _create_namespace(self, prefix):
        body = self.body
        return 200, self.store.create_namespace(
            prefix, _member(body, "namespace"), _typed(body, "properties", dict, None)
        )

    def _load_namespace(self, prefix, ns):
        return 200, self.store.load_namespace(prefix, ns)

    def _namespace_exists(self, prefix, ns):
        self.store.load_namespace(prefix, ns)
        return 204, None

    def _drop_namespace(self, prefix, ns):
        self.store.drop_namespace(prefix, ns)
        return 204, None

    def _update_properties(self, prefix, ns):
        body = self.body
        return 200, self.store.update_namespace_properties(
            prefix, ns, _typed(body, "removals", list[str], []), _typed(body, "updates", dict, {})
        )

    def _list_tables(self, prefix, ns):
        names, next_token = self.store.list_tables(prefix, ns, *self._page())
        return 200, {
            "identifiers": [{"namespace": ns, "name": n} for n in names],
            "next-page-token": next_token,
        }

    def _create_table(self, prefix, ns):
        body = self.body
        out = self.store.create_table(
            prefix,
            ns,
            _member(body, "name"),
            _typed(body, "schema", dict),
            partition_spec=_typed(body, "partition-spec", dict, None),
            write_order=_typed(body, "write-order", dict, None),
            properties=_typed(body, "properties", dict, None),
            stage_create=bool(body.get("stage-create")),
            location=body.get("location"),
        )
        return 200, _table_body(out["metadata-json"], out["metadata-location"])

    def _load_table(self, prefix, ns, table):
        out = self.store.load_table(prefix, ns, table)
        return 200, _table_body(
            out["metadata"], out["metadata-location"],
            config=self._table_config(out["storage-profile"]),
        )

    def _table_exists(self, prefix, ns, table):
        self.store.load_table(prefix, ns, table)
        return 204, None

    def _drop_table(self, prefix, ns, table):
        self.store.drop_table(prefix, ns, table)
        return 204, None

    @staticmethod
    def _table_change(ns: list[str], name: str, change: dict) -> dict:
        return {
            "namespace": ns,
            "name": name,
            "requirements": _typed(change, "requirements", list[dict], []),
            "updates": _typed(change, "updates", list[dict], []),
        }

    def _commit_table(self, prefix, ns, table):
        change = self._table_change(ns, table, self.body)
        (result,) = self.store.commit_transaction(prefix, [change])
        return 200, _table_body(result["metadata"], result["metadata-location"])

    def _commit_transaction(self, prefix):
        changes = [
            self._table_change(*_member(t, "identifier"), t)
            for t in _typed(self.body, "table-changes", list[dict])
        ]
        self.store.commit_transaction(prefix, changes)
        return 204, None

    def _rename_table(self, prefix):
        self.store.rename_table(
            prefix, *_member(self.body, "source"), *_member(self.body, "destination")
        )
        return 204, None

    def _metrics(self, prefix, ns, table):
        # accepted and discarded (catalog/metrics.rs:12-20)
        return 204, None

    def _list_views(self, prefix, ns):
        return 200, {"identifiers": []}  # catalog/views.rs:43-46

    def _sign_table(self, prefix, ns, table):
        # POST .../tables/{table}/v1/aws/s3/sign (s3_signer.rs:38-173)
        out = self.store.load_table(prefix, ns, table)
        return self._sign_route(
            prefix, out["table-location"], self._sign_profile(out["storage-profile"])
        )

    def _sign(self, prefix):
        # prefix-only sign route — the one Spark actually calls when
        # s3.signer.uri is warehouse-scoped: resolve the table from the
        # request URI by location prefix (catalog/s3_signer.rs:55-90)
        profile = self._sign_profile(self.store.get_warehouse(prefix)["storage_profile"])
        try:
            s3loc = parse_s3_uri(self.body["uri"], profile.get("endpoint-host"))
            key = urllib.parse.unquote(s3loc.key)
            table = self.store.resolve_table_by_location(prefix, f"s3://{s3loc.bucket}/{key}")
        except SigningError as e:
            return _error(403, str(e), "SignAccessDenied")
        except NotFoundError as e:
            # reference maps location-resolution failure to 401
            # InvalidLocation (catalog/s3_signer.rs:70-80)
            return _error(401, str(e), "InvalidLocation")
        return self._sign_route(prefix, table["table-location"], profile)

    # --------------------------------------------------- management routes
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
        for k in ("bucket", "key-prefix", "assume-role-arn", "endpoint", "region",
                  "path-style-access"):
            if profile.get(k) is not None:
                out[k] = profile[k]
        return out

    @staticmethod
    def _credential_from_wire(c: dict | None) -> dict | None:
        """StorageCredential wire (nested tags `type: s3` +
        `credential-type: access-key`, storage/mod.rs:161 + s3.rs:428)
        -> store credential keys."""
        if c is None:
            return None
        if c["credential-type"] != "access-key":
            raise ValidationError(f"unsupported credential-type {c['credential-type']!r}")
        return {"access-key-id": c["aws-access-key-id"],
                "secret-access-key": c["aws-secret-access-key"]}

    def _storage_from_wire(self) -> dict:
        """The body's typed storage-profile and optional
        storage-credential, as one store profile."""
        p = self.body["storage-profile"]
        if p["type"] != "s3":
            # storage/mod.rs:18 — S3 is the only StorageProfile variant
            raise ValidationError(f"unsupported storage profile type {p['type']!r}")
        creds = self._credential_from_wire(self.body.get("storage-credential")) or {}
        return {**{k: v for k, v in p.items() if k != "type" and v is not None}, **creds}

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

    def _list_projects(self):
        # management/mod.rs:214-218 + warehouse.rs:70-81.
        # ProjectResponse is the one management struct WITHOUT
        # #[serde(rename_all = "kebab-case")] (warehouse.rs:70-74), so
        # the key is snake_case project_id on the wire — pinned by
        # tests/test_management_contract.py.
        return 200, {"projects": [{"project_id": p} for p in self.store.list_projects()]}

    def _create_warehouse(self):
        # CreateWarehouseRequest (warehouse.rs:14-26): requires
        # warehouse-name, project-id, storage-profile; optional
        # storage-credential. `base-location` is OUR local extension
        # (the reference is S3-only; this container has no S3, so
        # file:// warehouses keep e2e tests real).
        body = self.body
        profile = None
        if "storage-profile" in body:
            profile = self._storage_from_wire()
            base = f"s3://{profile.get('bucket', '')}"
            if profile.get("key-prefix"):
                base += f"/{profile['key-prefix']}"
        else:
            base = body["base-location"]
        wid = self.store.create_warehouse(
            body["project-id"], body["warehouse-name"], base, profile
        )
        return 201, {"warehouse-id": wid}  # axum 201 (warehouse.rs:115-119)

    def _list_warehouses(self):
        # ListWarehousesRequest query params (warehouse.rs:50-62): the
        # repeatable warehouse-status enum is an INCLUSION filter
        # (postgres/warehouse.rs:152 `unwrap_or([Active])` then
        # `status = ANY(...)`) — `?warehouse-status=inactive` alone
        # excludes active warehouses. project-id absent → 400
        # MissingProjectId (warehouse.rs:205-211).
        project = self._param("project-id")
        if not project:
            return _error(400, "project-id is required", "MissingProjectId")
        warehouses = self.store.list_warehouses(project, self.query.get("warehouse-status", ()))
        return 200, {"warehouses": [self._warehouse_to_wire(w) for w in warehouses]}

    def _get_warehouse(self, wid):
        return 200, self._warehouse_to_wire(self.store.get_warehouse(wid))

    def _delete_warehouse(self, wid):
        # management/mod.rs:268-270 `.delete(delete_warehouse)`; 409
        # WarehouseNotEmpty on contained namespaces/tables. Result<()>
        # responds 200 with empty body (axum IntoResponse for unit), not
        # 204 — as every management handler below does.
        self.store.delete_warehouse(wid)
        return 200, None

    def _rename_warehouse(self, wid):
        self.store.rename_warehouse(wid, self.body["new-name"])
        return 200, None

    def _activate_warehouse(self, wid):
        self.store.set_warehouse_status(wid, "active")
        return 200, None

    def _deactivate_warehouse(self, wid):
        self.store.set_warehouse_status(wid, "inactive")
        return 200, None

    def _update_storage(self, wid):
        # management/mod.rs:282-285: UpdateWarehouseStorageRequest
        # carries a typed storage-profile + optional storage-credential.
        # With no credential the OLD secret is detached and deleted
        # (warehouse.rs:360-386: 'The existing credential is not
        # re-used. If no credential is provided, we assume that this
        # storage does not require credentials.')
        self.store.set_storage_profile(wid, self._storage_from_wire())
        return 200, None

    def _rotate_credential(self, wid):
        # management/mod.rs:288-292: rotate only the credential, storage
        # profile untouched
        self.store.update_storage_credential(
            wid, self._credential_from_wire(self.body.get("new-storage-credential"))
        )
        return 200, None

    # (method, path template): handler. Templates are spelled as in the
    # Iceberg REST OpenAPI document (under the /catalog mount) and in
    # tests/management_openapi.py; the sign routes are the reference's
    # own (api/router.rs:40-52).
    ROUTES = {
        ("GET", "health"): _health,
        ("POST", "catalog/v1/oauth/tokens"): _not_implemented,
        ("GET", "catalog/v1/config"): _config,
        ("GET", "catalog/v1/{prefix}/namespaces"): _list_namespaces,
        ("POST", "catalog/v1/{prefix}/namespaces"): _create_namespace,
        ("GET", "catalog/v1/{prefix}/namespaces/{namespace}"): _load_namespace,
        ("HEAD", "catalog/v1/{prefix}/namespaces/{namespace}"): _namespace_exists,
        ("DELETE", "catalog/v1/{prefix}/namespaces/{namespace}"): _drop_namespace,
        ("POST", "catalog/v1/{prefix}/namespaces/{namespace}/properties"): _update_properties,
        ("GET", "catalog/v1/{prefix}/namespaces/{namespace}/tables"): _list_tables,
        ("POST", "catalog/v1/{prefix}/namespaces/{namespace}/tables"): _create_table,
        ("POST", "catalog/v1/{prefix}/namespaces/{namespace}/register"): _not_implemented,
        ("GET", "catalog/v1/{prefix}/namespaces/{namespace}/tables/{table}"): _load_table,
        ("HEAD", "catalog/v1/{prefix}/namespaces/{namespace}/tables/{table}"): _table_exists,
        ("DELETE", "catalog/v1/{prefix}/namespaces/{namespace}/tables/{table}"): _drop_table,
        ("POST", "catalog/v1/{prefix}/namespaces/{namespace}/tables/{table}"): _commit_table,
        ("POST", "catalog/v1/{prefix}/namespaces/{namespace}/tables/{table}/metrics"): _metrics,
        (
            "POST", "catalog/v1/{prefix}/namespaces/{namespace}/tables/{table}/v1/aws/s3/sign"
        ): _sign_table,
        ("POST", "catalog/v1/{prefix}/v1/aws/s3/sign"): _sign,
        ("POST", "catalog/v1/{prefix}/tables/rename"): _rename_table,
        ("POST", "catalog/v1/{prefix}/transactions/commit"): _commit_transaction,
        ("GET", "catalog/v1/{prefix}/namespaces/{namespace}/views"): _list_views,
        ("POST", "catalog/v1/{prefix}/namespaces/{namespace}/views"): _not_implemented,
        **dict.fromkeys(
            ((m, "catalog/v1/{prefix}/namespaces/{namespace}/views/{view}")
             for m in ("GET", "HEAD", "POST", "DELETE")),
            _not_implemented,
        ),
        ("GET", "management/v1/project"): _list_projects,
        ("POST", "management/v1/warehouse"): _create_warehouse,
        ("GET", "management/v1/warehouse"): _list_warehouses,
        ("GET", "management/v1/warehouse/{warehouse_id}"): _get_warehouse,
        ("DELETE", "management/v1/warehouse/{warehouse_id}"): _delete_warehouse,
        ("POST", "management/v1/warehouse/{warehouse_id}/rename"): _rename_warehouse,
        ("POST", "management/v1/warehouse/{warehouse_id}/activate"): _activate_warehouse,
        ("POST", "management/v1/warehouse/{warehouse_id}/deactivate"): _deactivate_warehouse,
        ("POST", "management/v1/warehouse/{warehouse_id}/storage"): _update_storage,
        ("POST", "management/v1/warehouse/{warehouse_id}/storage-credential"): _rotate_credential,
    }


def _route_index(routes: dict) -> dict[tuple[str, int], list[tuple[list[str], Callable]]]:
    """(method, segment count) -> [(template segments, handler)]: a
    request is matched only against templates of its method and length."""
    index: dict = {}
    for (method, template), handler in routes.items():
        segments = template.split("/")
        index.setdefault((method, len(segments)), []).append((segments, handler))
    return index


_ROUTE_INDEX = _route_index(CatalogHandler.ROUTES)


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
