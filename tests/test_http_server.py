"""HTTP front e2e: POST /ingest/{model} -> table rows + DLQ; GET /api/{name}
-> JSON matching Api.call; auth (API key + HS256 JWT), body limit, version
routing."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest
from pydantic import BaseModel, Field

from moosestack_spark.api import Api, clear_apis
from moosestack_spark.datamodel import UInt8
from moosestack_spark.http_server import (
    JwtConfig,
    MooseHttpServer,
    decode_jwt_hs256,
    encode_jwt_hs256,
)
from moosestack_spark.pipeline import IngestPipeline


class Event(BaseModel):
    id: int
    kind: str
    amount: float = Field(ge=0)


class TopParams(BaseModel):
    limit: int = Field(default=3, ge=1, le=100)


def _post(url, payload, token=None, raw=None):
    body = raw if raw is not None else json.dumps(payload).encode()
    req = urllib.request.Request(url, data=body, method="POST")
    req.add_header("Content-Type", "application/json")
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


def _get(url, token=None):
    req = urllib.request.Request(url)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


@pytest.fixture
def server(spark, tmp_path):
    clear_apis()
    pipe = IngestPipeline("events_http", Event, spark, str(tmp_path))

    def top_handler(params, utils):
        df = pipe.table.read()
        return (
            df.orderBy(df.amount.desc(), df.id.asc()).limit(params.limit).select("id", "amount")
        )

    Api("top_events", TopParams, top_handler)
    srv = MooseHttpServer(spark, api_key="sekrit")
    srv.add_pipeline(pipe)
    port = srv.start()
    yield srv, pipe, f"http://127.0.0.1:{port}"
    srv.stop()
    clear_apis()


def test_ingest_roundtrip_with_dlq(server):
    srv, pipe, base = server
    records = [
        {"id": 1, "kind": "a", "amount": 5.0},
        {"id": 2, "kind": "b", "amount": 7.5},
        {"id": 3, "kind": "c", "amount": -1.0},  # fails ge=0 -> DLQ
    ]
    code, out = _post(f"{base}/ingest/events_http", records, token="sekrit")
    assert code == 200
    assert out == {"inserted": 2, "dead_lettered": 1}
    assert pipe.table.read().count() == 2
    assert pipe.read_dlq().count() == 1
    # single-object body allowed (reference parses object-or-array)
    code, out = _post(
        f"{base}/ingest/events_http", {"id": 4, "kind": "d", "amount": 1.0},
        token="sekrit",
    )
    assert (code, out["inserted"]) == (200, 1)


def test_api_get_matches_call_json(server, spark):
    srv, pipe, base = server
    pipe.ingest([{"id": i, "kind": "k", "amount": float(i)} for i in range(10)])
    code, rows = _get(f"{base}/api/top_events?limit=4", token="sekrit")
    assert code == 200
    from moosestack_spark.api import get_api

    assert rows == get_api("top_events").call_json(spark, limit=4)
    assert [r["id"] for r in rows] == [9, 8, 7, 6]


def test_call_json_clamps_unbounded_handler(spark):
    """A handler returning an unbounded DataFrame must truncate at the
    pagination clamp before collect (reference maxLimit discipline,
    query-model.ts:394,789): default 100 rows, caller-raised at most 1000 —
    never the driver-OOM full result."""
    from moosestack_spark.api import clear_apis, get_api
    from moosestack_spark.query_layer.pagination import DEFAULT_LIMIT, MAX_LIMIT

    clear_apis()

    class NoParams(BaseModel):
        pass

    Api(
        "unbounded",
        NoParams,
        lambda p, u: u.spark.range(0, 5000).toDF("id"),
    )
    api = get_api("unbounded")
    assert len(api.call_json(spark)) == DEFAULT_LIMIT
    assert len(api.call_json(spark, limit=7)) == 7
    # a request can never widen past MAX_LIMIT
    assert len(api.call_json(spark, limit=10**9)) == MAX_LIMIT
    clear_apis()


def test_auth_and_errors(server):
    srv, pipe, base = server
    code, _ = _post(f"{base}/ingest/events_http", [], token=None)
    assert code == 401
    code, _ = _post(f"{base}/ingest/events_http", [], token="wrong")
    assert code == 401
    code, _ = _get(f"{base}/api/top_events", token=None)
    assert code == 401
    code, _ = _get(f"{base}/api/nope", token="sekrit")
    assert code == 404
    code, _ = _post(f"{base}/ingest/nope", [], token="sekrit")
    assert code == 404
    code, _ = _get(f"{base}/api/top_events?limit=9999", token="sekrit")
    assert code == 400  # pydantic le=100
    code, _ = _post(
        f"{base}/ingest/events_http", None, token="sekrit", raw=b"{not json"
    )
    assert code == 400


def test_ingest_dead_letters_out_of_range_record(spark, tmp_path):
    """Pydantic accepts UInt8 = 300; the table's range check rejects it.
    The record must go to the DLQ with the rest of the body inserted, not
    turn the whole body into a 500."""

    class Reading(BaseModel):
        id: int
        level: UInt8

    clear_apis()
    pipe = IngestPipeline("range_http", Reading, spark, str(tmp_path))
    srv = MooseHttpServer(spark)
    srv.add_pipeline(pipe)
    port = srv.start()
    try:
        body = [{"id": i, "level": 7 * i} for i in range(5)]
        body[2]["level"] = 300
        code, out = _post(f"http://127.0.0.1:{port}/ingest/range_http", body)
        assert (code, out) == (200, {"inserted": 4, "dead_lettered": 1})
        assert sorted(r.id for r in pipe.table.read().collect()) == [0, 1, 3, 4]
        dlq = pipe.read_dlq().collect()
        assert len(dlq) == 1 and dlq[0].error_type == "ValidationError"
        assert json.loads(dlq[0].original_record) == {"id": 2, "level": 300}
        assert "UInt8 out of range" in dlq[0].error_message
    finally:
        srv.stop()


def test_body_size_limit(spark, tmp_path):
    clear_apis()
    pipe = IngestPipeline("small_http", Event, spark, str(tmp_path))
    srv = MooseHttpServer(spark, max_body_bytes=64)
    srv.add_pipeline(pipe)
    port = srv.start()
    try:
        big = [{"id": i, "kind": "x" * 30, "amount": 1.0} for i in range(10)]
        code, out = _post(f"http://127.0.0.1:{port}/ingest/small_http", big)
        assert code == 413
    finally:
        srv.stop()


def test_version_routing_latest(spark, tmp_path):
    clear_apis()
    v1 = IngestPipeline("ver_http", Event, spark, str(tmp_path / "v1"))
    v2 = IngestPipeline("ver_http", Event, spark, str(tmp_path / "v2"))
    srv = MooseHttpServer(spark)
    srv.add_pipeline(v1, version="0.9")
    srv.add_pipeline(v2, version="0.10")  # numeric-aware: 0.10 > 0.9
    port = srv.start()
    try:
        base = f"http://127.0.0.1:{port}"
        code, _ = _post(f"{base}/ingest/ver_http", [{"id": 1, "kind": "a", "amount": 1.0}])
        assert code == 200
        assert v2.table.read().count() == 1  # latest version served
        assert v1.table.read().count() == 0
        code, _ = _post(
            f"{base}/ingest/ver_http/0.9", [{"id": 2, "kind": "b", "amount": 2.0}]
        )
        assert code == 200
        assert v1.table.read().count() == 1
    finally:
        srv.stop()


def test_jwt_auth_and_claims():
    cfg = JwtConfig(secret="s3", issuer="iss1", audience="aud1")
    good = encode_jwt_hs256(
        {"iss": "iss1", "aud": "aud1", "exp": time.time() + 60, "user": "u1"}, "s3"
    )
    assert decode_jwt_hs256(good, cfg)["user"] == "u1"
    # wrong secret / issuer / audience / expired all rejected
    assert (
        decode_jwt_hs256(good, JwtConfig(secret="other", issuer="iss1", audience="aud1"))
        is None
    )
    bad_iss = encode_jwt_hs256({"iss": "x", "aud": "aud1", "exp": time.time() + 60}, "s3")
    assert decode_jwt_hs256(bad_iss, cfg) is None
    expired = encode_jwt_hs256({"iss": "iss1", "aud": "aud1", "exp": time.time() - 1}, "s3")
    assert decode_jwt_hs256(expired, cfg) is None


def test_jwt_server_injects_claims(spark, tmp_path):
    clear_apis()

    class WhoParams(BaseModel):
        pass

    def who(params, utils):
        return spark.createDataFrame([(utils.jwt["user"],)], "user string")

    Api("whoami", WhoParams, who)
    srv = MooseHttpServer(
        spark, jwt_config=JwtConfig(secret="k", issuer="i", audience="a")
    )
    port = srv.start()
    try:
        base = f"http://127.0.0.1:{port}"
        token = encode_jwt_hs256(
            {"iss": "i", "aud": "a", "exp": time.time() + 60, "user": "alice"}, "k"
        )
        code, rows = _get(f"{base}/api/whoami", token=token)
        assert (code, rows) == (200, [{"user": "alice"}])
        code, _ = _get(f"{base}/api/whoami", token="garbage")
        assert code == 401
    finally:
        srv.stop()
        clear_apis()


def test_post_errors_get_http_replies(spark, tmp_path):
    """Review r2: failures inside do_POST must produce HTTP replies, not
    dropped connections (unwrapped ingest, bad Content-Length, mixed
    version segments, non-ASCII api key)."""
    clear_apis()
    from moosestack_spark.pipeline import IngestPipelineConfig

    no_api = IngestPipeline(
        "noapi_http", Event, spark, str(tmp_path / "na"),
        config=IngestPipelineConfig(ingest_api=False),
    )
    srv = MooseHttpServer(spark, api_key="sekrit")
    srv.add_pipeline(no_api)
    # mixed numeric/non-numeric version segments must not TypeError on sort
    v_a = IngestPipeline("mix_http", Event, spark, str(tmp_path / "a"))
    v_b = IngestPipeline("mix_http", Event, spark, str(tmp_path / "b"))
    srv.add_pipeline(v_a, version="0.9")
    srv.add_pipeline(v_b, version="0.9b")
    port = srv.start()
    try:
        base = f"http://127.0.0.1:{port}"
        rec = [{"id": 1, "kind": "a", "amount": 1.0}]
        # ingest_api disabled -> 403 JSON, not a dropped connection
        code, body = _post(f"{base}/ingest/noapi_http", rec, token="sekrit")
        assert code == 403 and "no ingest api" in body["error"]
        # version-less route over mixed segments -> resolves, no TypeError
        code, _ = _post(f"{base}/ingest/mix_http", rec, token="sekrit")
        assert code == 200
        # non-ASCII bearer token -> clean 401, not TypeError
        code, body = _post(f"{base}/ingest/mix_http", rec, token="sékret")
        assert code == 401
        # bad Content-Length -> 400
        import http.client

        conn = http.client.HTTPConnection("127.0.0.1", port)
        conn.putrequest("POST", "/ingest/mix_http")
        conn.putheader("Authorization", "Bearer sekrit")
        conn.putheader("Content-Length", "notanumber")
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 400
        conn.close()
    finally:
        srv.stop()
        clear_apis()


def test_parse_failure_salvages_objects_to_dlq(server):
    """local_webserver.rs handle_json_array_body: whole-body parse failure
    salvages complete JSON objects into the DLQ."""
    srv, pipe, base = server
    raw = b'[{"id": 1, "kind": "a"}, {"id": 2, broken'
    code, body = _post(f"{base}/ingest/events_http", None, token="sekrit", raw=raw)
    assert code == 400
    assert body["dead_lettered"] == 1
    dlq = pipe.read_dlq().collect()
    assert len(dlq) == 1
    assert json.loads(dlq[0].original_record) == {"id": 1, "kind": "a"}
    assert dlq[0].error_type == "ParseError"


# --------------------------------------------------------------------------
# RS256 JWT (rsa_verify.py) and bounded-concurrency admission
# --------------------------------------------------------------------------


def _tiny_rsa_keypair():
    """Deterministic 1024-bit RSA keypair for tests (Miller-Rabin primes
    from a seeded PRNG; fine for test vectors, never for production)."""
    import random

    rng = random.Random(20240813)

    def is_prime(n):
        if n % 2 == 0:
            return False
        d, r = n - 1, 0
        while d % 2 == 0:
            d //= 2
            r += 1
        for _ in range(24):
            a = rng.randrange(2, n - 1)
            x = pow(a, d, n)
            if x in (1, n - 1):
                continue
            for _ in range(r - 1):
                x = pow(x, 2, n)
                if x == n - 1:
                    break
            else:
                return False
        return True

    def gen_prime(bits):
        while True:
            p = rng.getrandbits(bits) | (1 << (bits - 1)) | 1
            if is_prime(p):
                return p

    p, q = gen_prime(512), gen_prime(512)
    n, e = p * q, 65537
    d = pow(e, -1, (p - 1) * (q - 1))
    return n, e, d


def _rsa_pem(n, e):
    """(n, e) -> SubjectPublicKeyInfo PEM (mirrors the parser's format)."""
    import base64 as b64

    def der_int(v):
        b = v.to_bytes((v.bit_length() + 7) // 8, "big")
        if b[0] & 0x80:
            b = b"\x00" + b
        return bytes([0x02]) + der_len(len(b)) + b

    def der_len(n_):
        if n_ < 0x80:
            return bytes([n_])
        b = n_.to_bytes((n_.bit_length() + 7) // 8, "big")
        return bytes([0x80 | len(b)]) + b

    def der_seq(body):
        return bytes([0x30]) + der_len(len(body)) + body

    rsa_pub = der_seq(der_int(n) + der_int(e))
    alg = der_seq(
        bytes.fromhex("06092a864886f70d010101") + b"\x05\x00"
    )
    bitstr = bytes([0x03]) + (lambda b: (
        bytes([len(b) + 1]) if len(b) + 1 < 0x80
        else bytes([0x80 | len((len(b) + 1).to_bytes(2, "big").lstrip(b"\x00"))])
        + (len(b) + 1).to_bytes(2, "big").lstrip(b"\x00")
    ))(rsa_pub) + b"\x00" + rsa_pub
    spki = der_seq(alg + bitstr)
    body = b64.b64encode(spki).decode()
    lines = [body[i : i + 64] for i in range(0, len(body), 64)]
    return "-----BEGIN PUBLIC KEY-----\n" + "\n".join(lines) + "\n-----END PUBLIC KEY-----\n"


def _encode_jwt_rs256(claims, n, d):
    import base64 as b64
    import hashlib
    import json as _json

    def enc(obj):
        return b64.urlsafe_b64encode(
            _json.dumps(obj, separators=(",", ":")).encode()
        ).rstrip(b"=").decode()

    head, payload = enc({"alg": "RS256", "typ": "JWT"}), enc(claims)
    msg = f"{head}.{payload}".encode()
    digest_info = bytes.fromhex("3031300d060960864801650304020105000420")
    t = digest_info + hashlib.sha256(msg).digest()
    k = (n.bit_length() + 7) // 8
    em = b"\x00\x01" + b"\xff" * (k - len(t) - 3) + b"\x00" + t
    sig = pow(int.from_bytes(em, "big"), d, n).to_bytes(k, "big")
    return f"{head}.{payload}." + b64.urlsafe_b64encode(sig).rstrip(b"=").decode()


def test_rs256_jwt_validation():
    from moosestack_spark.http_server import decode_jwt
    from moosestack_spark.rsa_verify import parse_rsa_public_key_pem

    n, e, d = _tiny_rsa_keypair()
    pem = _rsa_pem(n, e)
    assert parse_rsa_public_key_pem(pem) == (n, e)

    cfg = JwtConfig(public_key_pem=pem, issuer="iss1", audience="aud1")
    good = _encode_jwt_rs256(
        {"iss": "iss1", "aud": "aud1", "exp": time.time() + 60, "user": "bob"}, n, d
    )
    assert decode_jwt(good, cfg)["user"] == "bob"

    # tampered payload fails signature check
    h, p, s = good.split(".")
    import base64 as b64

    tampered_payload = b64.urlsafe_b64encode(
        b64.urlsafe_b64decode(p + "=" * (-len(p) % 4)).replace(b"bob", b"eve")
    ).rstrip(b"=").decode()
    assert decode_jwt(f"{h}.{tampered_payload}.{s}", cfg) is None

    # alg-downgrade: HS256 token signed with the PEM as secret is rejected
    hs = encode_jwt_hs256(
        {"iss": "iss1", "aud": "aud1", "exp": time.time() + 60}, pem
    )
    assert decode_jwt(hs, cfg) is None

    # corrupted signature
    bad_sig = good[:-6] + ("AAAAAA" if not good.endswith("AAAAAA") else "BBBBBB")
    assert decode_jwt(bad_sig, cfg) is None

    # config constructor: both or neither mode is an error
    import pytest as _pytest

    with _pytest.raises(ValueError):
        JwtConfig(issuer="i", audience="a")
    with _pytest.raises(ValueError):
        JwtConfig(issuer="i", audience="a", secret="s", public_key_pem=pem)


def test_server_sheds_load_at_capacity(spark, tmp_path):
    """With max_concurrent_requests=1 and a slow handler occupying the
    slot, a second request gets 503 instead of queueing."""
    import threading as _threading
    import urllib.request

    clear_apis()

    release = _threading.Event()
    entered = _threading.Event()

    class SlowParams(BaseModel):
        pass

    def slow(params, utils):
        entered.set()
        release.wait(timeout=10)
        return spark.createDataFrame([(1,)], "x int")

    Api("slow_api", SlowParams, slow)
    srv = MooseHttpServer(spark, max_concurrent_requests=1)
    port = srv.start()
    try:
        base = f"http://127.0.0.1:{port}"
        results = {}

        def first():
            code, rows = _get(f"{base}/api/slow_api")
            results["first"] = code

        t = _threading.Thread(target=first)
        t.start()
        assert entered.wait(timeout=10)
        code, body = _get(f"{base}/api/slow_api")
        assert code == 503
        release.set()
        t.join(timeout=10)
        assert results["first"] == 200
    finally:
        release.set()
        srv.stop()
        clear_apis()


def test_openapi_spec_served(spark):
    """GET /openapi.json describes the registered APIs with their pydantic
    param schemas (the reference's moose-dev openapi.yaml served live)."""
    clear_apis()

    class SpecParams(BaseModel):
        limit: int = Field(default=3, ge=1, le=100)
        q: str = Field(default="")

    def handler(params, utils):
        return spark.createDataFrame([(1,)], "x int")

    Api("spec_demo", SpecParams, handler)
    Api("spec_demo_v2", SpecParams, handler, version="2.0")
    srv = MooseHttpServer(spark, api_key="k1")
    port = srv.start()
    try:
        code, spec = _get(f"http://127.0.0.1:{port}/openapi.json", token="k1")
        assert code == 200
        assert spec["openapi"].startswith("3.1")
        routes = set(spec["paths"])
        assert {"/api/spec_demo", "/api/spec_demo_v2/2.0"} <= routes
        params = {
            p["name"]: p for p in spec["paths"]["/api/spec_demo"]["get"]["parameters"]
        }
        assert params["limit"]["schema"]["maximum"] == 100
        assert params["limit"]["required"] is False
        # auth applies to the spec route too
        code, _ = _get(f"http://127.0.0.1:{port}/openapi.json", token="nope")
        assert code == 401
    finally:
        srv.stop()
        clear_apis()
