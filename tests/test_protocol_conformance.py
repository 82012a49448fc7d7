"""Wire-level REST protocol conformance against `ServerThread`.

The reference proves its catalog through Spark SQL over
`org.apache.iceberg.spark.SparkCatalog` → Java `RESTSessionCatalog`
(reference tests/python/tests/test_spark.py, conftest.py:204-226).
That jar is not available in this container, so this suite replays the
HTTP request shapes that client emits for each test_spark.py case —
exact paths, methods, body key spellings, query params — with raw
`http.client` (no helper client), and asserts the status codes,
response JSON shapes, and error envelopes the Java client's
`ErrorHandlers` depend on:

  - namespace handler: 404 → NoSuchNamespaceException, 409 → AlreadyExists
  - table handler:     404 → NoSuchTableException,     409 → AlreadyExists
  - commit handler:    409 → CommitFailedException (client retries/refreshes)
  - envelope:          {"error": {"message": str, "type": str, "code": int}}

Each test cites the test_spark.py case it mirrors. Semantics of the
same flows (does the data round-trip) are covered separately in
test_catalog_spark.py through the Python CatalogTable surface.
"""

from __future__ import annotations

import http.client
import json
import time
import urllib.parse
import uuid

import pytest
from openapi_schema import HAVE_SPEC, validate_request, validate_response

from iceberg_rest_server_spark.catalog.server import ServerThread

SCHEMA = {
    "type": "struct",
    "fields": [
        {"id": 1, "name": "my_ints", "required": False, "type": "int"},
        {"id": 2, "name": "my_floats", "required": False, "type": "double"},
        {"id": 3, "name": "strings", "required": False, "type": "string"},
    ],
}


def _req(server, method, path, body=None, headers=None):
    """One raw HTTP exchange; returns (status, parsed-json-or-None, headers).

    Wherever the reference's own OpenAPI document exists (``HAVE_SPEC``),
    every catalog exchange that flows through here is ALSO structurally
    validated against it (r8 verdict missing #1), on BOTH sides: the
    replayed request body must be the shape a spec-generated client
    sends, and a response field the contract requires but the server
    omits fails the replaying test, suite-wide. Where the document is
    absent this layer is skipped and each test's own status, shape and
    envelope assertions are what it checks."""
    if HAVE_SPEC:
        validate_request(method, path, body)
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=10)
    payload = None if body is None else json.dumps(body)
    hdrs = {"Content-Type": "application/json"}
    hdrs.update(headers or {})
    conn.request(method, path, body=payload, headers=hdrs)
    resp = conn.getresponse()
    raw = resp.read()
    conn.close()
    parsed = json.loads(raw) if raw else None
    if HAVE_SPEC:
        validate_response(method, path, resp.status, parsed)
    return resp.status, parsed, dict(resp.getheaders())


def _assert_error_envelope(payload, code, etype=None):
    """The Iceberg REST error envelope every Java ErrorHandler parses."""
    assert set(payload) == {"error"}, payload
    err = payload["error"]
    assert isinstance(err["message"], str) and err["message"]
    assert isinstance(err["type"], str)
    assert err["code"] == code
    if etype is not None:
        assert err["type"] == etype, err


@pytest.fixture()
def server(tmp_path):
    with ServerThread() as s:
        status, cfg, _ = _req(
            s,
            "POST",
            "/management/v1/warehouse",
            {
                "project-id": "p",
                "warehouse-name": "wh",
                "base-location": f"file://{tmp_path}/wh",
            },
        )
        assert status == 201
        yield s


def _prefix(server):
    """GET /config — the first request every RESTCatalog session makes
    (catalog/config.rs:35-143; Spark conf `warehouse=p/wh`)."""
    q = urllib.parse.quote("p/wh")
    status, cfg, _ = _req(server, "GET", f"/catalog/v1/config?warehouse={q}")
    assert status == 200
    # client merges defaults <- its conf <- overrides; prefix is REQUIRED
    # for the route layout /v1/{prefix}/... the Java client builds
    assert set(cfg) >= {"overrides", "defaults"}
    return cfg["overrides"]["prefix"]


def _create_ns(server, prefix, ns):
    return _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/namespaces",
        {"namespace": [ns], "properties": {}},
    )


def _create_table(server, prefix, ns, name, **extra):
    body = {"name": name, "schema": SCHEMA, "stage-create": False, "properties": {}}
    body.update(extra)
    return _req(
        server, "POST", f"/catalog/v1/{prefix}/namespaces/{ns}/tables", body
    )


def test_config_without_warehouse_is_400(server):
    status, payload, _ = _req(server, "GET", "/catalog/v1/config")
    assert status == 400
    _assert_error_envelope(payload, 400)


def test_create_namespace_shape(server):
    """test_spark.py:6-11 CREATE NAMESPACE → POST /v1/{prefix}/namespaces."""
    prefix = _prefix(server)
    status, payload, _ = _create_ns(server, prefix, "test_create_namespace_spark")
    assert status == 200
    assert payload["namespace"] == ["test_create_namespace_spark"]
    assert payload["properties"] == {}


@pytest.mark.parametrize(
    "method,path,body,code",
    [
        # a method the route table does not list for a path is a 404,
        # never a run of another method's handler
        ("GET", "/transactions/commit", None, 404),
        ("DELETE", "/namespaces/ns/properties", None, 404),
        ("GET", "/tables/rename", None, 404),
        ("PUT", "/namespaces/ns", "{}", 404),
        # client faults in the body or the query are 400s, never 500s
        ("POST", "/namespaces", "{not json", 400),
        ("POST", "/namespaces", "[]", 400),
        ("POST", "/namespaces", json.dumps({"properties": {}}), 400),
        ("POST", "/namespaces/ns/tables", '{"schema": {}}', 400),
        (
            "POST",
            "/tables/rename",
            json.dumps({"source": {"namespace": ["ns"], "name": "t"}}),
            400,
        ),
        (
            "POST",
            "/transactions/commit",
            json.dumps({"table-changes": [{"requirements": [], "updates": []}]}),
            400,
        ),
        ("GET", "/namespaces?pageSize=abc", None, 400),
        ("GET", "/namespaces/ns/tables?pageToken=abc", None, 400),
        # identifier members of the wrong JSON type are 400s too
        (
            "POST",
            "/tables/rename",
            json.dumps({"source": 5, "destination": {"namespace": ["ns"], "name": "u"}}),
            400,
        ),
        (
            "POST",
            "/transactions/commit",
            json.dumps(
                {"table-changes": [{"identifier": 1, "requirements": [], "updates": []}]}
            ),
            400,
        ),
        ("POST", "/namespaces", json.dumps({"namespace": "abc"}), 400),
        ("POST", "/namespaces", json.dumps({"namespace": "x"}), 400),
        ("POST", "/namespaces/ns/tables", json.dumps({"name": 5, "schema": SCHEMA}), 400),
        # and so are the other members of the wrong JSON type
        ("POST", "/transactions/commit", json.dumps({"table-changes": 5}), 400),
        ("POST", "/transactions/commit", json.dumps({"table-changes": [5]}), 400),
        ("POST", "/namespaces/ns/tables/t", json.dumps({"updates": 5}), 400),
        ("POST", "/namespaces/ns/tables/t", json.dumps({"updates": [5]}), 400),
        ("POST", "/namespaces/ns/tables/t", json.dumps({"requirements": [5]}), 400),
        ("POST", "/namespaces", json.dumps({"namespace": ["ns2"], "properties": 5}), 400),
        ("POST", "/namespaces/ns/properties", json.dumps({"updates": 5}), 400),
        ("POST", "/namespaces/ns/properties", json.dumps({"removals": 5}), 400),
        ("POST", "/namespaces/ns/tables", json.dumps({"name": "u", "schema": 5}), 400),
        (
            "POST",
            "/namespaces/ns/tables",
            json.dumps({"name": "u", "schema": SCHEMA, "properties": 5}),
            400,
        ),
    ],
)
def test_client_faults_are_4xx_envelopes(server, method, path, body, code):
    """The reference's router matches method and path together, and
    serde extraction rejects a malformed body before the handler runs
    (api/router.rs:40-52). Raw requests: none of these is a shape a
    spec-generated client sends."""
    prefix = _prefix(server)
    assert _create_ns(server, prefix, "ns")[0] == 200
    assert _create_table(server, prefix, "ns", "t")[0] == 200
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=10)
    conn.request(
        method,
        f"/catalog/v1/{prefix}{path}",
        body=body,
        headers={"Content-Type": "application/json"},
    )
    resp = conn.getresponse()
    raw = resp.read()
    conn.close()
    assert resp.status == code, raw
    _assert_error_envelope(json.loads(raw), code)


def test_list_namespaces_shape(server):
    """test_spark.py:13-19 SHOW NAMESPACES → GET /v1/{prefix}/namespaces."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_a")
    _create_ns(server, prefix, "ns_b")
    status, payload, _ = _req(server, "GET", f"/catalog/v1/{prefix}/namespaces")
    assert status == 200
    assert ["ns_a"] in payload["namespaces"] and ["ns_b"] in payload["namespaces"]
    # pageToken/pageSize are accepted (Java client sends them when paging)
    status, page, _ = _req(
        server, "GET", f"/catalog/v1/{prefix}/namespaces?pageToken=&pageSize=1"
    )
    assert status == 200
    assert len(page["namespaces"]) == 1 and page["next-page-token"] is not None


def test_namespace_create_if_not_exists_protocol(server):
    """test_spark.py:21-29: duplicate CREATE must 409 (client surfaces
    SCHEMA_ALREADY_EXISTS off the 409); IF NOT EXISTS probes via HEAD."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_dup")
    status, payload, _ = _create_ns(server, prefix, "ns_dup")
    assert status == 409
    _assert_error_envelope(payload, 409, "NamespaceAlreadyExists")
    # the exists-probe the client runs for IF NOT EXISTS
    status, _, _ = _req(server, "HEAD", f"/catalog/v1/{prefix}/namespaces/ns_dup")
    assert status == 204


def test_drop_namespace_protocol(server):
    """test_spark.py:31-36 DROP NAMESPACE → DELETE, then 404 on probe."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_drop")
    status, _, _ = _req(server, "DELETE", f"/catalog/v1/{prefix}/namespaces/ns_drop")
    assert status == 204
    status, payload, _ = _req(server, "GET", f"/catalog/v1/{prefix}/namespaces/ns_drop")
    assert status == 404
    _assert_error_envelope(payload, 404)
    # non-empty namespace refuses to drop: 409 NamespaceNotEmpty
    _create_ns(server, prefix, "ns_full")
    _create_table(server, prefix, "ns_full", "t")
    status, payload, _ = _req(server, "DELETE", f"/catalog/v1/{prefix}/namespaces/ns_full")
    assert status == 409
    _assert_error_envelope(payload, 409, "NamespaceNotEmpty")


def test_create_table_response_shape(server):
    """test_spark.py:38-47 CREATE TABLE ... USING iceberg → POST tables.

    The Java client requires metadata-location + a loadable metadata
    object with the spec-mandated keys; `config` may be absent or a map.
    """
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_ct")
    status, payload, _ = _create_table(server, prefix, "ns_ct", "my_table")
    assert status == 200
    assert payload["metadata-location"].endswith(".metadata.json")
    md = payload["metadata"]
    for key in (
        "format-version",
        "table-uuid",
        "location",
        "schemas",
        "current-schema-id",
        "partition-specs",
        "default-spec-id",
        "sort-orders",
        "default-sort-order-id",
        "properties",
        "snapshots",
        "refs",
    ):
        assert key in md, f"metadata missing {key}"
    fields = [s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]][0][
        "fields"
    ]
    assert len(fields) == 3  # test_spark.py:46-47
    # duplicate create → 409 TableAlreadyExists
    status, payload, _ = _create_table(server, prefix, "ns_ct", "my_table")
    assert status == 409
    _assert_error_envelope(payload, 409, "TableAlreadyExists")


def test_stage_create_and_replace_protocol(server):
    """test_spark.py:50-62 writeTo().createOrReplace(): stage-create POST
    (no committed table yet: GET must 404), then commit with assert-create."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_stage")
    status, payload, _ = _create_table(
        server, prefix, "ns_stage", "t", **{"stage-create": True}
    )
    assert status == 200
    assert payload["metadata"]["table-uuid"]
    # staged tables are invisible to load (catalog/tables.rs staged filter)
    status, err, _ = _req(
        server, "GET", f"/catalog/v1/{prefix}/namespaces/ns_stage/tables/t"
    )
    assert status == 404
    _assert_error_envelope(err, 404, "NoSuchTableException")
    # LIST must not show staged tables either
    status, ids, _ = _req(
        server, "GET", f"/catalog/v1/{prefix}/namespaces/ns_stage/tables"
    )
    assert status == 200 and ids["identifiers"] == []
    # the commit that materializes the staged create
    status, committed, _ = _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/namespaces/ns_stage/tables/t",
        {
            "identifier": {"namespace": ["ns_stage"], "name": "t"},
            "requirements": [{"type": "assert-create"}],
            "updates": [],
        },
    )
    assert status == 200
    assert committed["metadata-location"]
    status, _, _ = _req(
        server, "HEAD", f"/catalog/v1/{prefix}/namespaces/ns_stage/tables/t"
    )
    assert status == 204


def test_load_table_shape_and_delegation_header(server):
    """test_spark.py:97-104 SELECT * → GET table; the Java client sends
    X-Iceberg-Access-Delegation and expects metadata+config back."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_load")
    _create_table(server, prefix, "ns_load", "t")
    status, payload, _ = _req(
        server,
        "GET",
        f"/catalog/v1/{prefix}/namespaces/ns_load/tables/t",
        headers={"X-Iceberg-Access-Delegation": "vended-credentials,remote-signing"},
    )
    assert status == 200
    assert set(payload) >= {"metadata", "metadata-location"}
    assert isinstance(payload.get("config", {}), dict)
    # empty table: snapshots [] but schema present (query returns 0 rows,
    # 3 columns — test_spark.py:103-104)
    assert payload["metadata"]["snapshots"] == []


def test_set_table_properties_commit(server):
    """test_spark.py:106-120 ALTER TABLE SET TBLPROPERTIES → commit POST
    with set-properties update."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_props")
    _create_table(server, prefix, "ns_props", "t")
    status, payload, _ = _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/namespaces/ns_props/tables/t",
        {
            "requirements": [],
            "updates": [
                {
                    "action": "set-properties",
                    "updates": {"key1": "value1", "key2": "value2"},
                }
            ],
        },
    )
    assert status == 200
    assert payload["metadata"]["properties"] == {"key1": "value1", "key2": "value2"}


def _add_snapshot_body(md, snapshot_id, ref="main", parent=None):
    # Jackson-faithful shape: a null snapshot-id in the requirement is a
    # real client assertion ("ref must not exist yet" — the spec's own
    # AssertRefSnapshotId prose), but a parentless Snapshot OMITS
    # parent-snapshot-id rather than writing null (the field is typed
    # optional-non-nullable; request validation enforces this).
    snapshot = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": int(time.time() * 1000),
        "operation": "append",
        "manifest-list": f"{md['location']}/metadata/snap-{snapshot_id}.json",
        "summary": {"operation": "append"},
    }
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent
    return {
        "requirements": [
            {"type": "assert-ref-snapshot-id", "ref": ref, "snapshot-id": parent}
        ],
        "updates": [
            {
                "action": "add-snapshot",
                "snapshot": snapshot,
            },
            {
                "action": "set-snapshot-ref",
                "ref-name": ref,
                "snapshot-id": snapshot_id,
                "type": "branch" if ref == "main" else "branch",
            },
        ],
    }


def test_commit_cas_conflict_is_commit_failed(server):
    """test_spark.py:123-137 INSERT: the client commits with an
    assert-ref-snapshot-id CAS; a stale snapshot-id must 409 with type
    CommitFailedException — that exact envelope drives the Java client's
    refresh-and-retry loop."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_cas")
    _, created, _ = _create_table(server, prefix, "ns_cas", "t")
    md = created["metadata"]
    sid = uuid.uuid4().int % (1 << 62)
    path = f"/catalog/v1/{prefix}/namespaces/ns_cas/tables/t"
    status, payload, _ = _req(server, "POST", path, _add_snapshot_body(md, sid))
    assert status == 200
    assert payload["metadata"]["current-snapshot-id"] == sid
    # replay the SAME CAS (parent=None) → head moved → 409 CommitFailed
    status, payload, _ = _req(
        server, "POST", path, _add_snapshot_body(md, sid + 1)
    )
    assert status == 409
    _assert_error_envelope(payload, 409, "CommitFailedException")


def test_drop_table_protocol(server):
    """test_spark.py:85-94 DROP TABLE → DELETE (purgeRequested param
    accepted), then GET → 404 NoSuchTableException."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_dt")
    _create_table(server, prefix, "ns_dt", "t")
    status, _, _ = _req(
        server,
        "DELETE",
        f"/catalog/v1/{prefix}/namespaces/ns_dt/tables/t?purgeRequested=false",
    )
    assert status == 204
    status, payload, _ = _req(
        server, "GET", f"/catalog/v1/{prefix}/namespaces/ns_dt/tables/t"
    )
    assert status == 404
    _assert_error_envelope(payload, 404, "NoSuchTableException")


def test_list_tables_identifier_shape(server):
    """test_spark.py:139-147 SHOW TABLES → GET tables: identifiers are
    {namespace: [...], name: str} objects."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_lt")
    _create_table(server, prefix, "ns_lt", "my_table")
    status, payload, _ = _req(
        server, "GET", f"/catalog/v1/{prefix}/namespaces/ns_lt/tables"
    )
    assert status == 200
    assert payload["identifiers"] == [{"namespace": ["ns_lt"], "name": "my_table"}]


def test_create_partitioned_table_spec_shape(server):
    """test_spark.py:150-166,216-224 PARTITIONED BY (ints) / bucket(16):
    the client sends partition-spec with source-id/transform; the
    response metadata must carry it under partition-specs + default-spec-id."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_part")
    spec = {
        "spec-id": 0,
        "fields": [
            {"name": "my_ints", "transform": "identity", "source-id": 1, "field-id": 1000}
        ],
    }
    status, payload, _ = _create_table(
        server, prefix, "ns_part", "t_ident", **{"partition-spec": spec}
    )
    assert status == 200
    md = payload["metadata"]
    live = [s for s in md["partition-specs"] if s["spec-id"] == md["default-spec-id"]][0]
    assert live["fields"][0]["transform"] == "identity"
    assert live["fields"][0]["field-id"] >= 1000
    bucket_spec = {
        "spec-id": 0,
        "fields": [
            {"name": "my_ints_bucket", "transform": "bucket[16]", "source-id": 1,
             "field-id": 1000}
        ],
    }
    status, payload, _ = _create_table(
        server, prefix, "ns_part", "t_bucket", **{"partition-spec": bucket_spec}
    )
    assert status == 200
    md = payload["metadata"]
    live = [s for s in md["partition-specs"] if s["spec-id"] == md["default-spec-id"]][0]
    assert live["fields"][0]["transform"] == "bucket[16]"


def test_alter_partitioning_commit_protocol(server):
    """test_spark.py:186-213,237-263 ADD/DROP PARTITION FIELD → commit
    with add-spec + set-default-spec (-1 = latest-added)."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_evo")
    _, created, _ = _create_table(server, prefix, "ns_evo", "t")
    path = f"/catalog/v1/{prefix}/namespaces/ns_evo/tables/t"
    status, payload, _ = _req(
        server,
        "POST",
        path,
        {
            "requirements": [
                {"type": "assert-table-uuid", "uuid": created["metadata"]["table-uuid"]}
            ],
            "updates": [
                {
                    "action": "add-spec",
                    "spec": {
                        "fields": [
                            {
                                "name": "int_bucket",
                                "transform": "bucket[16]",
                                "source-id": 1,
                            }
                        ]
                    },
                },
                {"action": "set-default-spec", "spec-id": -1},
            ],
        },
    )
    assert status == 200
    md = payload["metadata"]
    assert md["default-spec-id"] == 1
    assert len(md["partition-specs"]) == 2


def test_alter_schema_commit_protocol(server):
    """test_spark.py:226-235 ADD COLUMN / DROP COLUMN → commit with
    add-schema + set-current-schema(-1)."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_schema")
    _, created, _ = _create_table(server, prefix, "ns_schema", "t")
    md = created["metadata"]
    new_fields = [
        f for f in SCHEMA["fields"] if f["name"] != "my_ints"
    ] + [{"id": 4, "name": "my_bool", "required": False, "type": "boolean"}]
    status, payload, _ = _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/namespaces/ns_schema/tables/t",
        {
            "requirements": [
                {"type": "assert-current-schema-id", "current-schema-id": md["current-schema-id"]}
            ],
            "updates": [
                {
                    "action": "add-schema",
                    "schema": {"type": "struct", "schema-id": 1, "fields": new_fields},
                },
                {"action": "set-current-schema", "schema-id": -1},
            ],
        },
    )
    assert status == 200
    out = payload["metadata"]
    cur = [s for s in out["schemas"] if s["schema-id"] == out["current-schema-id"]][0]
    assert {f["name"] for f in cur["fields"]} == {"my_floats", "strings", "my_bool"}
    assert out["last-column-id"] >= 4


def test_tag_and_branch_ref_protocol(server):
    """test_spark.py:266-296,299-327 CREATE TAG / CREATE BRANCH RETAIN →
    set-snapshot-ref with type tag/branch + max-ref-age-ms; refs appear
    in metadata (the .refs metadata table reads them)."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_refs")
    _, created, _ = _create_table(server, prefix, "ns_refs", "t")
    md = created["metadata"]
    path = f"/catalog/v1/{prefix}/namespaces/ns_refs/tables/t"
    sid = uuid.uuid4().int % (1 << 62)
    status, payload, _ = _req(server, "POST", path, _add_snapshot_body(md, sid))
    assert status == 200
    day_ms = 24 * 3600 * 1000
    status, payload, _ = _req(
        server,
        "POST",
        path,
        {
            "requirements": [],
            "updates": [
                {
                    "action": "set-snapshot-ref",
                    "ref-name": "first_insert",
                    "snapshot-id": sid,
                    "type": "tag",
                    "max-ref-age-ms": 365 * day_ms,
                },
                {
                    "action": "set-snapshot-ref",
                    "ref-name": "test_branch",
                    "snapshot-id": sid,
                    "type": "branch",
                    "max-ref-age-ms": 7 * day_ms,
                },
            ],
        },
    )
    assert status == 200
    refs = payload["metadata"]["refs"]
    assert refs["first_insert"]["type"] == "tag"
    assert refs["test_branch"]["type"] == "branch"
    assert refs["main"]["snapshot-id"] == sid
    assert len(refs) == 3  # test_spark.py:285-296 asserts 2 + main


def test_rename_table_route(server):
    """RESTCatalog renameTable → POST /v1/{prefix}/tables/rename with
    source/destination identifiers (api shape from the Iceberg REST spec;
    reference catalog/tables.rs rename route)."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_r1")
    _create_ns(server, prefix, "ns_r2")
    _create_table(server, prefix, "ns_r1", "t")
    status, _, _ = _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/tables/rename",
        {
            "source": {"namespace": ["ns_r1"], "name": "t"},
            "destination": {"namespace": ["ns_r2"], "name": "t2"},
        },
    )
    assert status in (200, 204)
    status, _, _ = _req(server, "HEAD", f"/catalog/v1/{prefix}/namespaces/ns_r2/tables/t2")
    assert status == 204
    status, _, _ = _req(server, "HEAD", f"/catalog/v1/{prefix}/namespaces/ns_r1/tables/t")
    assert status == 404


def test_metrics_accepted_and_discarded(server):
    """RESTCatalog reports scan metrics after reads; server must 2xx
    (catalog/metrics.rs:12-20 accepts and discards). The body is a
    spec-complete ScanReport (request validation rejected the earlier
    minimal stub — a real client sends filter/schema-id/projections/
    metrics, all required)."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_m")
    _create_table(server, prefix, "ns_m", "t")
    status, _, _ = _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/namespaces/ns_m/tables/t/metrics",
        {
            "report-type": "scan-report",
            "table-name": "t",
            "snapshot-id": 1,
            "filter": {"type": "not-null", "term": "my_ints", "value": {}},
            "schema-id": 0,
            "projected-field-ids": [1, 2],
            "projected-field-names": ["my_ints", "my_floats"],
            "metrics": {
                "total-planning-duration": {
                    "count": 1,
                    "time-unit": "nanoseconds",
                    "total-duration": 2644235116,
                },
                "result-data-files": {"unit": "count", "value": 1},
            },
        },
    )
    assert status == 204


def test_oauth_tokens_unimplemented_envelope(server):
    """conftest.py:117-142: without OIDC the token endpoint is not
    implemented server-side; clients get a structured 501, not a 404."""
    status, payload, _ = _req(
        server,
        "POST",
        "/catalog/v1/oauth/tokens",
        {"grant_type": "client_credentials"},
    )
    assert status == 501
    _assert_error_envelope(payload, 501, "NotImplemented")


def test_list_projects_route(server):
    """GET /management/v1/project (management/mod.rs:214-218): projects
    are derived from warehouse rows. The key is snake_case project_id —
    ProjectResponse is the one management struct WITHOUT
    serde(rename_all) (warehouse.rs:70-74); the pre-r10 version of this
    test pinned kebab project-id, found wrong while deriving
    tests/management_openapi.py from the Rust source."""
    status, payload, _ = _req(server, "GET", "/management/v1/project")
    assert status == 200
    assert payload == {"projects": [{"project_id": "p"}]}
    # second project appears after its first warehouse
    _req(
        server,
        "POST",
        "/management/v1/warehouse",
        {"project-id": "p2", "warehouse-name": "wh", "base-location": "s3://b/x"},
    )
    _, payload, _ = _req(server, "GET", "/management/v1/project")
    assert [p["project_id"] for p in payload["projects"]] == ["p", "p2"]


def test_x_request_id_set_and_propagated(server):
    """api/router.rs:58-77: every response carries x-request-id — a fresh
    uuid7 when the client sent none, the client's own value when it did."""
    status, _, headers = _req(server, "GET", "/management/v1/project")
    rid = headers.get("x-request-id")
    assert rid and len(rid) == 36 and rid[14] == "7"  # uuid7 version nibble
    status, _, headers2 = _req(
        server,
        "GET",
        "/management/v1/project",
        headers={"x-request-id": "client-chosen-id-123"},
    )
    assert headers2.get("x-request-id") == "client-chosen-id-123"


def test_gzip_negotiation(server):
    """CompressionLayer parity (api/router.rs:67): bodies gzip when the
    client sends Accept-Encoding: gzip; clients that don't negotiate get
    identity bytes (tiny envelopes stay uncompressed either way)."""
    import gzip

    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_gz")
    _create_table(server, prefix, "ns_gz", "t")
    path = f"/catalog/v1/{prefix}/namespaces/ns_gz/tables/t"
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=10)
    conn.request("GET", path, headers={"Accept-Encoding": "gzip"})
    resp = conn.getresponse()
    raw = resp.read()
    conn.close()
    assert resp.status == 200
    assert resp.getheader("Content-Encoding") == "gzip"
    body = json.loads(gzip.decompress(raw))
    assert "metadata" in body
    # without negotiation: identity
    status, body2, headers = _req(server, "GET", path)
    assert status == 200 and "metadata" in body2
    assert headers.get("Content-Encoding") is None


# ---------------------------------------------------------------------------
# pyiceberg surface replays (reference tests/python/tests/test_pyiceberg.py
# :6-116). pyiceberg's RESTCatalog emits slightly different request shapes
# than the Java client: properties always present on namespace create, the
# create-table body carries identifier-field-ids / partition-spec /
# write-order even when defaulted, and drop_table sends no purgeRequested
# param. Each case replays those exact shapes raw.
# ---------------------------------------------------------------------------

_PYICEBERG_SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "identifier-field-ids": [],
    "fields": [
        {"id": 1, "name": "my_ints", "required": False, "type": "long"},
        {"id": 2, "name": "my_floats", "required": False, "type": "double"},
        {"id": 3, "name": "strings", "required": False, "type": "string"},
    ],
}


def _py_create_table(server, prefix, ns, name, properties=None):
    """The create-table body pyiceberg's RESTCatalog._create_table builds:
    fully-spelled empty partition-spec and write-order, stage-create
    false, vended-credentials delegation header."""
    return _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/namespaces/{ns}/tables",
        {
            "name": name,
            "schema": _PYICEBERG_SCHEMA,
            "partition-spec": {"spec-id": 0, "fields": []},
            "write-order": {"order-id": 0, "fields": []},
            "stage-create": False,
            "properties": properties or {},
        },
        headers={"X-Iceberg-Access-Delegation": "vended-credentials"},
    )


def test_pyiceberg_create_namespace(server):
    """test_pyiceberg.py:6-11 create_namespace → POST + list contains it."""
    prefix = _prefix(server)
    status, payload, _ = _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/namespaces",
        {"namespace": ["test_create_namespace"], "properties": {}},
    )
    assert status == 200
    assert payload["namespace"] == ["test_create_namespace"]
    status, listing, _ = _req(server, "GET", f"/catalog/v1/{prefix}/namespaces")
    assert ["test_create_namespace"] in listing["namespaces"]


def test_pyiceberg_list_namespaces(server):
    """test_pyiceberg.py:13-19 — both created namespaces listed."""
    prefix = _prefix(server)
    for ns in ("test_list_namespaces_1", "test_list_namespaces_2"):
        status, _, _ = _req(
            server,
            "POST",
            f"/catalog/v1/{prefix}/namespaces",
            {"namespace": [ns], "properties": {}},
        )
        assert status == 200
    status, listing, _ = _req(server, "GET", f"/catalog/v1/{prefix}/namespaces")
    assert status == 200
    assert ["test_list_namespaces_1"] in listing["namespaces"]
    assert ["test_list_namespaces_2"] in listing["namespaces"]


def test_pyiceberg_namespace_properties(server):
    """test_pyiceberg.py:22-28 — properties round-trip exactly."""
    prefix = _prefix(server)
    props = {"key-1": "value-1", "key2": "value2"}
    status, _, _ = _req(
        server,
        "POST",
        f"/catalog/v1/{prefix}/namespaces",
        {"namespace": ["test_namespace_properties"], "properties": props},
    )
    assert status == 200
    status, loaded, _ = _req(
        server, "GET", f"/catalog/v1/{prefix}/namespaces/test_namespace_properties"
    )
    assert status == 200
    assert loaded["properties"] == props


def test_pyiceberg_drop_namespace(server):
    """test_pyiceberg.py:31-37 — DELETE then absent from the listing."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "test_drop_namespace")
    status, listing, _ = _req(server, "GET", f"/catalog/v1/{prefix}/namespaces")
    assert ["test_drop_namespace"] in listing["namespaces"]
    status, _, _ = _req(
        server, "DELETE", f"/catalog/v1/{prefix}/namespaces/test_drop_namespace"
    )
    assert status == 204
    status, listing, _ = _req(server, "GET", f"/catalog/v1/{prefix}/namespaces")
    assert ["test_drop_namespace"] not in listing["namespaces"]


def test_pyiceberg_create_table(server):
    """test_pyiceberg.py:40-59 — create into a missing namespace fails
    with the 404 envelope pyiceberg maps to NoSuchNamespaceError; after
    create_namespace the table loads with 3 schema fields."""
    prefix = _prefix(server)
    status, payload, _ = _py_create_table(
        server, prefix, "test_create_table", "my_table"
    )
    assert status == 404
    _assert_error_envelope(payload, 404, "NoSuchNamespaceException")
    _create_ns(server, prefix, "test_create_table")
    status, payload, _ = _py_create_table(
        server, prefix, "test_create_table", "my_table"
    )
    assert status == 200
    assert "metadata-location" in payload and "metadata" in payload
    status, loaded, _ = _req(
        server,
        "GET",
        f"/catalog/v1/{prefix}/namespaces/test_create_table/tables/my_table",
    )
    assert status == 200
    meta = loaded["metadata"]
    schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    assert len(schema["fields"]) == 3


def test_pyiceberg_drop_table(server):
    """test_pyiceberg.py:62-78 — pyiceberg's drop_table sends DELETE with
    NO purgeRequested param; subsequent load is the 404 it surfaces as
    NoSuchTableError."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_pydt")
    status, _, _ = _py_create_table(server, prefix, "ns_pydt", "my_table")
    assert status == 200
    path = f"/catalog/v1/{prefix}/namespaces/ns_pydt/tables/my_table"
    status, loaded, _ = _req(server, "GET", path)
    assert status == 200
    status, _, _ = _req(server, "DELETE", path)
    assert status == 204
    status, payload, _ = _req(server, "GET", path)
    assert status == 404
    _assert_error_envelope(payload, 404, "NoSuchTableException")


def test_pyiceberg_table_properties(server):
    """test_pyiceberg.py:81-96 — properties given at create load back
    exactly (pyiceberg asserts table.properties == properties)."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_pyprops")
    props = {"key-1": "value-1", "key2": "value2"}
    status, _, _ = _py_create_table(
        server, prefix, "ns_pyprops", "my_table", properties=props
    )
    assert status == 200
    status, loaded, _ = _req(
        server,
        "GET",
        f"/catalog/v1/{prefix}/namespaces/ns_pyprops/tables/my_table",
    )
    assert status == 200
    assert loaded["metadata"]["properties"] == props


def test_pyiceberg_list_tables(server):
    """test_pyiceberg.py:99-116 — empty listing first, then both tables
    as {namespace, name} identifiers."""
    prefix = _prefix(server)
    _create_ns(server, prefix, "ns_pylt")
    path = f"/catalog/v1/{prefix}/namespaces/ns_pylt/tables"
    status, listing, _ = _req(server, "GET", path)
    assert status == 200 and listing["identifiers"] == []
    for name in ("my_table_1", "my_table_2"):
        status, _, _ = _py_create_table(server, prefix, "ns_pylt", name)
        assert status == 200
    status, listing, _ = _req(server, "GET", path)
    assert status == 200
    idents = listing["identifiers"]
    assert {"namespace": ["ns_pylt"], "name": "my_table_1"} in idents
    assert {"namespace": ["ns_pylt"], "name": "my_table_2"} in idents


def test_create_warehouse_route_validates_storage(tmp_path):
    """management route: the storage write-probe failure surfaces as the
    400 ValidationError envelope, and an unknown scheme likewise — the
    route-level cover for store._validate_base_location
    (storage/s3.rs:96-174 write-read-delete profile validation)."""
    with ServerThread() as s:
        status, payload, _ = _req(
            s,
            "POST",
            "/management/v1/warehouse",
            {
                "project-id": "p",
                "warehouse-name": "bad",
                "base-location": "/proc/definitely-not-writable",
            },
        )
        assert status == 400
        _assert_error_envelope(payload, 400)
        status, payload, _ = _req(
            s,
            "POST",
            "/management/v1/warehouse",
            {
                "project-id": "p",
                "warehouse-name": "bad2",
                "base-location": "gcs://bucket/prefix",
            },
        )
        assert status == 400
        _assert_error_envelope(payload, 400)
        # a writable location still succeeds through the same route
        status, payload, _ = _req(
            s,
            "POST",
            "/management/v1/warehouse",
            {
                "project-id": "p",
                "warehouse-name": "good",
                "base-location": f"file://{tmp_path}/wh2",
            },
        )
        assert status == 201 and "warehouse-id" in payload


def test_config_uri_override_and_token_exchange(tmp_path):
    """GET /config carries a `uri` override pointing clients at this
    server's base (config.rs:137-139; default base_uri ends in /catalog/,
    config.rs:85), and the auth handler gets a chance to exchange the
    token (config.rs:115-130 exchange_token_for_warehouse): a returned
    token lands in overrides["token"]; the shipped default (None — same
    as AllowAllAuthZHandler, implementations/authz.rs:37-44) omits it."""
    seen = []

    def exchanger(headers, project_id, warehouse_id):
        seen.append((headers.get("Authorization"), project_id, warehouse_id))
        return f"exchanged-{project_id}"

    with ServerThread(token_exchanger=exchanger) as s:
        status, _, _ = _req(
            s,
            "POST",
            "/management/v1/warehouse",
            {
                "project-id": "p",
                "warehouse-name": "wh",
                "base-location": f"file://{tmp_path}/wh",
            },
        )
        assert status == 201
        q = urllib.parse.quote("p/wh")
        status, cfg, _ = _req(
            s,
            "GET",
            f"/catalog/v1/config?warehouse={q}",
            headers={"Authorization": "Bearer original"},
        )
        assert status == 200
        ov = cfg["overrides"]
        assert ov["token"] == "exchanged-p"
        assert ov["uri"].startswith("http://") and ov["uri"].endswith("/catalog/")
        # prefix wins over anything the exchanger might set (insert order
        # in config.rs: token first, then prefix/uri)
        assert ov["prefix"]
        # the hook saw the original bearer + resolved warehouse identity
        assert seen == [("Bearer original", "p", ov["prefix"])]

    # default posture: no exchanger -> no token key, uri still present
    with ServerThread() as s:
        status, _, _ = _req(
            s,
            "POST",
            "/management/v1/warehouse",
            {
                "project-id": "p",
                "warehouse-name": "wh",
                "base-location": f"file://{tmp_path}/wh2",
            },
        )
        assert status == 201
        status, cfg, _ = _req(s, "GET", f"/catalog/v1/config?warehouse={urllib.parse.quote('p/wh')}")
        assert status == 200
        assert "token" not in cfg["overrides"]
        assert cfg["overrides"]["uri"].endswith("/catalog/")
