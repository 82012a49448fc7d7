"""Structural validation of catalog responses against the reference's own
published contract: /root/reference/openapi/rest-catalog-open-api.yaml
(the Apache Iceberg REST Catalog OpenAPI document the reference ships,
reference README.md:9). No third-party Iceberg client exists in this
container, so this is the strongest client-independence evidence
obtainable here: every response body the conformance replay produces is
checked for required fields / types / enum values against the schema a
real RESTCatalog client is generated from.

Used two ways, both wherever SPEC_PATH exists (``HAVE_SPEC``):
  - test_protocol_conformance._req validates EVERY catalog exchange it
    makes (a missing field anywhere in the suite renders as that test's
    failure); without the document it skips this layer and each test
    still makes its own status, shape and envelope assertions;
  - test_openapi_contract.py unit-tests the validator itself (a
    deliberately corrupted body must fail) and asserts coverage; those
    tests skip, with SPEC_PATH in the reason, where the document is
    absent.

OpenAPI 3.0 schemas are almost-JSON-Schema; the two gaps that matter
here are bridged at load time: ``nullable: true`` becomes a null-
admitting type union, and ``discriminator`` (a dispatch hint, not a
constraint) is dropped — where the spec pairs it with oneOf/anyOf the
structural check still applies in full.
"""

from __future__ import annotations

import functools
import os
from typing import Any

import jsonschema
import yaml

SPEC_PATH = "/root/reference/openapi/rest-catalog-open-api.yaml"
# the reference checkout that holds the document is not always present;
# validation runs exactly where it is, and nothing else gates it
HAVE_SPEC = os.path.exists(SPEC_PATH)

# served route-space -> spec route-space: the server mounts the Iceberg
# catalog API under /catalog (reference serves it the same way; the
# /management API is the reference's own utoipa-documented surface, not
# part of this OpenAPI document)
CATALOG_MOUNT = "/catalog"


def _fix(node: Any) -> Any:
    """OpenAPI-3.0 schema -> JSON-Schema: nullable unions, drop
    discriminator (dispatch metadata, not a constraint)."""
    if isinstance(node, dict):
        out = {k: _fix(v) for k, v in node.items() if k != "discriminator"}
        if out.pop("nullable", False):
            if isinstance(out.get("type"), str):
                out["type"] = [out["type"], "null"]
            elif "$ref" in out:
                out = {"anyOf": [{"$ref": out.pop("$ref")}, {"type": "null"}], **out}
            elif any(k in out for k in ("oneOf", "anyOf", "allOf")):
                inner = {
                    k: out.pop(k) for k in ("oneOf", "anyOf", "allOf") if k in out
                }
                out["anyOf"] = [inner, {"type": "null"}]
        return out
    if isinstance(node, list):
        return [_fix(x) for x in node]
    return node


@functools.lru_cache(maxsize=1)
def spec() -> dict:
    with open(SPEC_PATH) as fh:
        doc = _fix(yaml.safe_load(fh))
    # One documented inconsistency inside the document itself: the
    # AssertRefSnapshotId schema types snapshot-id as a plain integer,
    # but its own description reads "if `snapshot-id` is `null` or
    # missing, the ref must not already exist" — i.e. real clients DO
    # send null to assert ref-absence and servers must accept it. The
    # prose wins for wire behavior, so admit null here.
    arsi = doc["components"]["schemas"]["AssertRefSnapshotId"]
    arsi["properties"]["snapshot-id"]["type"] = ["integer", "null"]
    return doc


def _lookup_operation(method: str, path: str) -> dict | None:
    """Match a served path to the spec's path template (literal segments
    must equal, {param} segments match anything; most-literal wins) and
    return the operation object, or None for routes outside the
    document (the /management surface)."""
    path = path.split("?", 1)[0]
    if not path.startswith(CATALOG_MOUNT + "/"):
        return None
    path = path[len(CATALOG_MOUNT) :]
    segs = [s for s in path.split("/") if s]
    best: tuple[int, dict] | None = None
    for tmpl, ops in spec()["paths"].items():
        tsegs = [s for s in tmpl.split("/") if s]
        if len(tsegs) != len(segs):
            continue
        literals = 0
        for t, s in zip(tsegs, segs):
            if t.startswith("{"):
                continue
            if t != s:
                break
            literals += 1
        else:
            if best is None or literals > best[0]:
                best = (literals, ops)
    if best is None:
        raise AssertionError(
            f"{method} {path}: catalog route not in the reference OpenAPI document"
        )
    op = best[1].get(method.lower())
    if op is None and method == "HEAD":
        return None  # spec models HEAD existence probes sparsely; bodies are empty
    assert op is not None, f"{method} {path}: method not in the OpenAPI document"
    return op


def _deref(node: dict) -> dict:
    """Resolve document-internal $refs at the RESPONSE-object level
    (e.g. '#/components/responses/CreateNamespaceResponse'); schema-level
    refs stay put and resolve during jsonschema validation."""
    seen = 0
    while isinstance(node, dict) and "$ref" in node:
        cur: Any = spec()
        for part in node["$ref"].lstrip("#/").split("/"):
            cur = cur[part]
        node = cur
        seen += 1
        assert seen < 10, "circular response $ref"
    return node


def _validate(payload: Any, schema: dict) -> None:
    root = dict(schema)
    root["components"] = spec()["components"]
    jsonschema.validate(payload, root)


VALIDATED = {"count": 0}  # coverage telemetry for test_openapi_contract


def validate_request(method: str, path: str, body: Any) -> bool:
    """Validate a replayed REQUEST body against the contract's
    requestBody schema — evidence that the recorded client shapes the
    conformance suite sends are the shapes a spec-generated client
    would send, not hand-rolled drift. Returns True if a schema check
    ran (only for routes in the document with application/json request
    bodies; the oauth form-encoded body is out of scope)."""
    op = _lookup_operation(method, path)
    if op is None or body is None:
        return False
    rb = op.get("requestBody")
    if rb is None:
        return False
    media = (_deref(rb).get("content") or {}).get("application/json")
    if media is None or "schema" not in media:
        return False
    _validate(body, media["schema"])
    return True


def validate_response(method: str, path: str, status: int, payload: Any) -> bool:
    """Validate one exchange's response body against the contract.
    Returns True if a schema check ran, False for out-of-document routes
    (management API, HEAD probes). Raises AssertionError on violation."""
    op = _lookup_operation(method, path)
    if op is None:
        return False
    responses = {str(k): v for k, v in op.get("responses", {}).items()}
    resp = responses.get(str(status))
    if resp is None:
        # Statuses the document doesn't enumerate for the route: the
        # reference itself emits exactly two off-document families —
        # 501 NotImplemented parity stubs (oauth trait, register_table,
        # views) and axum-level 4xx (malformed path/body before the
        # handler) — and those must still carry the spec's error
        # envelope. NOTHING ELSE passes (ADVICE r9): a regression that
        # turns a documented 200 into a 409/500 on a replay path must
        # fail the contract check here, not be waved through as a
        # well-formed error and left for whichever individual test
        # happens to also assert the status.
        assert 400 <= status < 500 or status == 501, (
            f"{method} {path}: status {status} not in the OpenAPI document "
            "and outside the off-document families the reference emits "
            "(axum 4xx, 501 stubs)"
        )
        _validate(payload, {"$ref": "#/components/schemas/IcebergErrorResponse"})
        VALIDATED["count"] += 1
        return True
    resp = _deref(resp)
    if method == "HEAD":
        # HTTP itself forbids a body on HEAD responses; the document
        # describes the GET-shaped error content for symmetry
        assert payload is None, f"HEAD {path} {status}: unexpected body"
        return False
    media = (resp.get("content") or {}).get("application/json")
    if media is None or "schema" not in media:
        assert payload is None, (
            f"{method} {path} {status}: body present where the spec defines none"
        )
        return False
    assert payload is not None, (
        f"{method} {path} {status}: the spec requires a JSON body"
    )
    _validate(payload, media["schema"])
    VALIDATED["count"] += 1
    return True
