"""REST /v1/aws/s3/sign endpoint: table resolution, URI validation
against the table location, region check, SigV4 headers (reference
flow: SURVEY.md §3.3 step 1)."""

from __future__ import annotations

import pytest

from iceberg_rest_server_spark.catalog.client import CatalogHTTPError, RestCatalogClient
from iceberg_rest_server_spark.catalog.server import ServerThread

SCHEMA = {
    "type": "struct",
    "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}],
}

STORAGE = {
    "storage-profile": {"type": "s3", "region": "us-east-1", "bucket": "bucket-a"},
    "storage-credential": {
        "type": "s3",
        "credential-type": "access-key",
        "aws-access-key-id": "AKIDEXAMPLE",
        "aws-secret-access-key": "secret",
    },
}


@pytest.fixture()
def env():
    with ServerThread() as server:
        c = RestCatalogClient(server.base_url)
        wid = c.create_warehouse("p", "wh", "s3://bucket-a/prefix")
        c._request("POST", f"/management/v1/warehouse/{wid}/storage", STORAGE)
        c.configure("p", "wh")
        c.create_namespace(["ns"])
        out = c.create_table(["ns"], "t", SCHEMA)
        yield c, out["metadata"]["location"]


def _sign(c, body):
    return c._request(
        "POST", f"/catalog/v1/{c.prefix}/namespaces/ns/tables/t/v1/aws/s3/sign", body
    )


def test_sign_valid_request(env):
    c, loc = env
    key = loc[len("s3://bucket-a/"):]
    out = _sign(
        c,
        {
            "method": "PUT",
            "region": "us-east-1",
            "uri": f"https://bucket-a.s3.us-east-1.amazonaws.com/{key}/data/f.parquet",
            "headers": {},
            "amz-date": "20240101T000000Z",
        },
    )
    auth = out["headers"]["Authorization"]
    assert auth.startswith("AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20240101/us-east-1/s3/")
    assert out["headers"]["x-amz-content-sha256"] == "UNSIGNED-PAYLOAD"


def test_sign_rejects_uri_outside_table(env):
    c, loc = env
    with pytest.raises(CatalogHTTPError) as e:
        _sign(
            c,
            {
                "method": "GET",
                "region": "us-east-1",
                "uri": "https://bucket-a.s3.us-east-1.amazonaws.com/prefix/other/f.parquet",
                "headers": {},
            },
        )
    assert e.value.code == 403


def test_prefix_only_sign_resolves_table_by_location(env):
    """The route Spark actually uses (/{prefix}/v1/aws/s3/sign): the
    table is resolved from the request URI by location prefix
    (catalog/s3_signer.rs:55-90 + postgres/table.rs:430-506)."""
    c, loc = env
    key = loc[len("s3://bucket-a/"):]
    out = c.sign_s3(
        "PUT",
        f"https://bucket-a.s3.us-east-1.amazonaws.com/{key}/data/f.parquet",
        amz_date="20240101T000000Z",
    )
    auth = out["headers"]["Authorization"]
    assert auth.startswith("AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20240101/us-east-1/s3/")


def test_prefix_only_sign_shorter_path_fails(env):
    """'shorter path fails': a URI above the table location resolves no
    table → 401 InvalidLocation (postgres/table.rs location tests)."""
    c, loc = env
    # parent of the table location (namespace dir)
    parent_key = loc[len("s3://bucket-a/"):].rsplit("/", 1)[0]
    with pytest.raises(CatalogHTTPError) as e:
        c.sign_s3(
            "GET", f"https://bucket-a.s3.us-east-1.amazonaws.com/{parent_key}/f.parquet"
        )
    assert e.value.code == 401
    # sibling prefix-string trickery: <table-location>-evil must not match
    key = loc[len("s3://bucket-a/"):]
    with pytest.raises(CatalogHTTPError) as e:
        c.sign_s3(
            "GET", f"https://bucket-a.s3.us-east-1.amazonaws.com/{key}-evil/f.parquet"
        )
    assert e.value.code == 401


def test_load_table_vends_signer_config(env):
    """load_table returns per-table config (region, remote signing) and
    /config vends the warehouse-scoped s3.signer.uri (storage/s3.rs
    generate_table_config + generate_catalog_config)."""
    c, loc = env
    out = c.load_table(["ns"], "t")
    cfg = out["config"]
    assert cfg["region"] == "us-east-1"
    assert cfg["client.region"] == "us-east-1"
    assert cfg["s3.region"] == "us-east-1"
    assert cfg["s3.remote-signing-enabled"] == "true"
    conf = c.configure("p", "wh")
    signer_uri = conf["overrides"]["s3.signer.uri"]
    assert signer_uri.endswith(f"/catalog/v1/{c.prefix}")


def test_secrets_encrypted_at_rest(env):
    """Credentials never appear in plaintext in the metastore: the
    warehouse row holds only a storage-secret-id, the secret row is an
    enc:v1 token, and GET /warehouse never returns credentials
    (postgres/secrets.rs:99-103)."""
    c, loc = env
    wh = c._request("GET", f"/management/v1/warehouse/{c.prefix}")
    # r10: the route answers the GetWarehouseResponse wire shape
    # (warehouse.rs:84-97) — no credential material AND no internal
    # storage-secret-id pointer leaves the server (pre-r10 the raw
    # store row leaked the pointer; tests/test_management_contract.py
    # pins the strict shape)
    import json as _json

    flat = _json.dumps(wh)
    assert "access-key-id" not in flat and "secret-access-key" not in flat
    assert "storage-secret-id" not in flat
    assert wh["storage-profile"]["bucket"]
    # the encrypted secret is still attached and decryptable server-side:
    out = c.sign_s3(
        "GET",
        f"https://bucket-a.s3.us-east-1.amazonaws.com/{loc[len('s3://bucket-a/'):]}/f.parquet",
    )
    assert "Authorization" in out["headers"]


def test_secret_cipher_roundtrip_and_tamper():
    from iceberg_rest_server_spark.catalog.secrets import (
        SecretCipher,
        SecretDecryptError,
    )

    cipher = SecretCipher("test-key")
    token = cipher.encrypt({"secret-access-key": "wJalrXUtnFEMI/K7MDENG"})
    assert token.startswith("enc:v1:")
    assert "wJalrXUtnFEMI" not in token
    assert cipher.decrypt(token) == {"secret-access-key": "wJalrXUtnFEMI/K7MDENG"}
    # wrong key fails closed
    import pytest as _pytest

    with _pytest.raises(SecretDecryptError):
        SecretCipher("other-key").decrypt(token)
    # tampered ciphertext fails closed
    parts = token.split(":")
    parts[3] = parts[3][:-4] + ("AAAA" if parts[3][-4:] != "AAAA" else "BBBB")
    with _pytest.raises(SecretDecryptError):
        cipher.decrypt(":".join(parts))


def test_create_warehouse_validates_base_location():
    from iceberg_rest_server_spark.catalog.store import CatalogStore, ValidationError

    store = CatalogStore()
    # bad scheme rejected
    import pytest as _pytest

    with _pytest.raises(ValidationError):
        store.create_warehouse("p", "w1", "gcs://bucket/prefix")
    # s3 without bucket rejected
    with _pytest.raises(ValidationError):
        store.create_warehouse("p", "w2", "s3:///noslash")
    # unwritable local path rejected (write test, storage/s3.rs:96-174)
    with _pytest.raises(ValidationError):
        store.create_warehouse("p", "w3", "/proc/definitely-not-writable")
    # profile without region/bucket rejected
    wid = store.create_warehouse("p", "w4", "s3://ok-bucket/prefix")
    with _pytest.raises(ValidationError):
        store.set_storage_profile(wid, {"bucket": "ok-bucket"})
    with _pytest.raises(ValidationError):
        store.set_storage_profile(wid, {"region": "us-east-1"})


def test_sign_rejects_wrong_region_and_bucket(env):
    c, loc = env
    key = loc[len("s3://bucket-a/"):]
    with pytest.raises(CatalogHTTPError) as e:
        _sign(
            c,
            {
                "method": "GET",
                "region": "eu-west-1",
                "uri": f"https://bucket-a.s3.us-east-1.amazonaws.com/{key}/f.parquet",
                "headers": {},
            },
        )
    assert e.value.code == 400
    with pytest.raises(CatalogHTTPError) as e:
        _sign(
            c,
            {
                "method": "GET",
                "region": "us-east-1",
                "uri": f"https://bucket-b.s3.us-east-1.amazonaws.com/{key}/f.parquet",
                "headers": {},
            },
        )
    assert e.value.code == 403
