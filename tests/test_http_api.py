"""Wire-level tests for serving/http_api.py — the stdlib FastAPI-facade.

Mirrors the reference's endpoint test strategy
(/root/reference/tests/server/test_endpoints_embed.py:44-72): every
protected endpoint returns 403 with no credentials and 401 with a bad
bearer token; the no-auth probes stay open; then CRUD round-trips."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings
from oaim_sandbox_spark.serving.config_plane import (
    PromptDef,
    PromptRegistry,
    bootstrap_models,
)
from oaim_sandbox_spark.serving.http_api import ApiServer

KEY = "test-api-key"


@pytest.fixture(scope="module")
def server():
    prompts = PromptRegistry("prompt")
    prompts.create(PromptDef(name="Basic Example", category="sys", prompt="You are helpful."))
    prompts.create(PromptDef(name="Basic Example", category="ctx", prompt="Rephrase."))
    pipeline = ChatPipeline(
        store=None, embed_query=None, llm=MockLLM(),
        settings=RagSettings(rag_enabled=False),
    )
    srv = ApiServer(pipeline, models=bootstrap_models(), prompts=prompts, api_key=KEY).start()
    yield srv
    srv.stop()


def req(server, method, path, token=KEY, body=None, client=None):
    from urllib.parse import quote

    if "?" in path:
        p, q = path.split("?", 1)
        path = quote(p) + "?" + q
    else:
        path = quote(path)
    url = f"http://127.0.0.1:{server.port}{path}"
    headers = {}
    if token is not None:
        headers["Authorization"] = f"Bearer {token}"
    if client:
        headers["client"] = client
    data = json.dumps(body).encode() if body is not None else None
    if data is not None:
        headers["Content-Type"] = "application/json"
    r = urllib.request.Request(url, data=data, headers=headers, method=method)
    try:
        with urllib.request.urlopen(r, timeout=10) as resp:
            return resp.status, json.loads(resp.read() or b"null")
    except urllib.error.HTTPError as ex:
        return ex.code, json.loads(ex.read() or b"null")


# -- auth matrix (reference TestNoAuthEndpoints / TestBadAuthEndpoints) -------

PROTECTED = [
    ("GET", "/v1/models"),
    ("POST", "/v1/models"),
    ("GET", "/v1/prompts"),
    ("GET", "/v1/settings?client=x"),
    ("POST", "/v1/chat/completions"),
    ("GET", "/v1/chat/history"),
    ("POST", "/v1/embed/web/store"),
    ("POST", "/v1/embed/local/store"),
    ("GET", "/v1/testbed/evaluation?eid=x"),
    ("POST", "/v1/testbed/testset_generate?name=x"),
]


@pytest.mark.parametrize("method,path", PROTECTED)
def test_no_auth_403(server, method, path):
    status, body = req(server, method, path, token=None)
    assert status == 403
    assert body["detail"] == "Not authenticated"


@pytest.mark.parametrize("method,path", PROTECTED)
def test_bad_auth_401(server, method, path):
    status, body = req(server, method, path, token="bad-testing-token")
    assert status == 401
    assert body["detail"] == "Invalid API Key"


def test_probes_need_no_auth(server):
    assert req(server, "GET", "/v1/liveness", token=None) == (200, {"status": "alive"})
    assert req(server, "GET", "/v1/readiness", token=None) == (200, {"status": "ready"})


# -- chat ---------------------------------------------------------------------


def test_chat_completion_roundtrip(server):
    status, body = req(server, "POST", "/v1/chat/completions",
                       body={"message": "hello there"}, client="c1")
    assert status == 200
    assert body["object"] == "chat.completion"
    assert body["choices"][0]["message"]["role"] == "assistant"
    assert body["choices"][0]["message"]["content"]
    assert body["usage"]["total_tokens"] > 0

    status, hist = req(server, "GET", "/v1/chat/history", client="c1")
    assert status == 200
    assert [m["role"] for m in hist] == ["user", "assistant"]


def test_chat_history_empty_is_apology(server):
    status, hist = req(server, "GET", "/v1/chat/history", client="nobody")
    assert status == 200
    assert hist[0]["role"] == "system"
    assert "no history" in hist[0]["content"]


def test_chat_stream_sentinel(server):
    url = f"http://127.0.0.1:{server.port}/v1/chat/streams"
    r = urllib.request.Request(
        url, data=json.dumps({"message": "stream me"}).encode(),
        headers={"Authorization": f"Bearer {KEY}", "Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(r, timeout=10) as resp:
        text = resp.read().decode()
    assert text.endswith("[stream_finished]")
    assert len(text) > len("[stream_finished]")


# -- models CRUD --------------------------------------------------------------


def test_models_crud(server):
    status, items = req(server, "GET", "/v1/models")
    assert status == 200 and any(m["name"] == "mock-llm" for m in items)

    status, _ = req(server, "POST", "/v1/models",
                    body={"name": "my-model", "type": "ll", "provider": "openai-compat"})
    assert status == 200
    status, body = req(server, "POST", "/v1/models", body={"name": "my-model"})
    assert status == 409  # duplicate guard (P11)

    status, m = req(server, "GET", "/v1/models/my-model")
    assert status == 200 and m["provider"] == "openai-compat"

    status, m = req(server, "PATCH", "/v1/models/my-model", body={"temperature": 0.2})
    assert status == 200 and m["temperature"] == 0.2

    status, _ = req(server, "DELETE", "/v1/models/my-model")
    assert status == 200
    status, _ = req(server, "GET", "/v1/models/my-model")
    assert status == 404


def test_models_filtered_list(server):
    status, embeds = req(server, "GET", "/v1/models?type=embed")
    assert status == 200
    assert embeds and all(m["type"] == "embed" for m in embeds)


# -- prompts ------------------------------------------------------------------


def test_prompts_get_and_patch(server):
    status, items = req(server, "GET", "/v1/prompts?category=sys")
    assert status == 200 and all(p["category"] == "sys" for p in items)

    status, p = req(server, "GET", "/v1/prompts/sys/Basic Example")
    assert status == 200 and p["prompt"] == "You are helpful."

    status, p = req(server, "PATCH", "/v1/prompts/sys/Basic Example",
                    body={"prompt": "Be terse."})
    assert status == 200 and p["prompt"] == "Be terse."

    status, _ = req(server, "GET", "/v1/prompts/sys/NoSuch")
    assert status == 404


# -- settings -----------------------------------------------------------------


# -- Spark-backed groups: testbed + embed ------------------------------------


@pytest.fixture()
def spark_server(spark, tmp_path):
    from oaim_sandbox_spark.catalog import VectorStoreCatalog
    from oaim_sandbox_spark.operators.testbed import TestbedStore

    pipeline = ChatPipeline(store=None, embed_query=None, llm=MockLLM(),
                            settings=RagSettings(rag_enabled=False))
    srv = ApiServer(
        pipeline, api_key=KEY, spark=spark,
        testbed=TestbedStore(str(tmp_path / "tb")),
        catalog=VectorStoreCatalog(spark, str(tmp_path / "vs")),
    ).start()
    yield srv
    srv.stop()


def test_testbed_unconfigured_503(server):
    status, body = req(server, "GET", "/v1/testbed/testsets")
    assert status == 503


def test_testbed_http_lifecycle(spark_server):
    qa_rows = [
        {"question": "what is spark?", "reference_answer": "a distributed engine",
         "reference_context": "spark is a distributed engine", "topic": "tech"},
        {"question": "what are cats?", "reference_answer": "small mammals",
         "reference_context": "cats are small mammals", "topic": "animals"},
    ]
    status, body = req(spark_server, "POST", "/v1/testbed/testset_load?name=api-set",
                       body={"qa": qa_rows})
    assert status == 200 and len(body["qa"]) == 2
    tid = body["tid"]

    status, sets = req(spark_server, "GET", "/v1/testbed/testsets")
    assert status == 200 and sets[0]["name"] == "api-set"

    status, qa = req(spark_server, "GET", f"/v1/testbed/testset_qa?tid={tid}")
    assert status == 200 and {r["topic"] for r in qa} == {"tech", "animals"}

    status, rep = req(spark_server, "POST", f"/v1/testbed/evaluate?tid={tid}")
    assert status == 200
    assert 0.0 <= rep["correctness"] <= 1.0 and rep["tid"] == tid

    status, evals = req(spark_server, "GET", f"/v1/testbed/evaluations?tid={tid}")
    assert status == 200 and evals[0]["eid"] == rep["eid"]

    status, _ = req(spark_server, "DELETE", f"/v1/testbed/testset_delete/{tid}")
    assert status == 200
    status, sets = req(spark_server, "GET", "/v1/testbed/testsets")
    assert sets == []


def test_embed_http_roundtrip(spark_server):
    docs = [{"id": "d1", "text": "spark runs distributed queries " * 20, "source": "s1"},
            {"id": "d2", "text": "cats sleep on windowsills " * 20, "source": "s2"}]
    status, body = req(spark_server, "POST", "/v1/embed",
                       body={"documents": docs, "chunk_size": 100, "chunk_overlap": 10,
                             "alias": "t", "model": "mock-embed"})
    assert status == 200
    # reference get_vs_table naming: {ALIAS}_{MODEL}_{SIZE}_{OVERLAP}_{METRIC}_{INDEX}
    assert body["vector_store"] == "T_MOCK_EMBED_100_10_COSINE_HNSW"
    assert "chunks embedded" in body["message"]

    status, _ = req(spark_server, "DELETE", f"/v1/embed/{body['vector_store']}")
    assert status == 200


def test_chat_mmr_dot_product_over_null_and_ragged_vectors(spark):
    """MMR under DOT_PRODUCT over a store holding a NULL and a ragged
    vector answers 200: their NULL distances sort them into every fetch,
    and MMR's greedy phase counts them as zero vectors."""
    rows = [(i, f"chunk {i}", [float(i % 3), 1.0, 0.5]) for i in range(8)]
    rows += [(103, "ragged", [0.3, 0.3]), (104, "null", None)]
    store = spark.createDataFrame(rows, "id BIGINT, text STRING, embedding ARRAY<DOUBLE>")
    settings = RagSettings(search_type="Maximal Marginal Relevance", top_k=3, fetch_k=6,
                           distance_metric="DOT_PRODUCT", grading=False)
    pipeline = ChatPipeline(store, embed_query=lambda q: [1.0, 0.0, 0.0], llm=MockLLM(),
                            settings=settings)
    srv = ApiServer(pipeline, api_key=KEY).start()
    try:
        status, body = req(srv, "POST", "/v1/chat/completions", body={"message": "chunk"})
        assert status == 200, body
        assert {r["id"] for r in pipeline.retrieve("chunk")} >= {103, 104}
    finally:
        srv.stop()
        pipeline.close()


def test_settings_lifecycle(server):
    status, _ = req(server, "GET", "/v1/settings?client=s1")
    assert status == 404

    status, s = req(server, "POST", "/v1/settings?client=s1")
    assert status == 200 and s["rag_enabled"] is True

    status, _ = req(server, "POST", "/v1/settings?client=s1")
    assert status == 409

    status, body = req(server, "PATCH", "/v1/settings?client=s1", body={"top_k": 8})
    assert status == 200
    assert body["settings"]["top_k"] == 8
    assert any("top_k" in c for c in body["changed"])

    # sensitive masking on read (P13)
    status, s = req(server, "PATCH", "/v1/settings?client=s1", body={"api_key": "sk-secret"})
    assert s["settings"]["api_key"] == "*****"


def test_unread_bodies_do_not_poison_keep_alive(server):
    """Routes that answer without reading the request body (POST
    /v1/settings, PATCH for an unknown client, a failed auth check) leave
    nothing behind on the connection: the next request on it parses."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=10)

    def call(method, path, body=None, token=KEY):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        conn.request(method, path, body=None if body is None else json.dumps(body),
                     headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")

    try:
        assert call("POST", "/v1/settings?client=ka1", {"top_k": 3})[0] == 200
        status, got = call("GET", "/v1/settings?client=ka1")
        assert status == 200 and got["client"] == "ka1"
        assert call("PATCH", "/v1/settings?client=ka-missing", {"top_k": 3})[0] == 404
        assert call("POST", "/v1/settings?client=ka1", {"x": 1}, token="wrong")[0] == 401
        assert call("GET", "/v1/settings?client=ka1")[0] == 200
    finally:
        conn.close()


# -- databases + oci groups (reference endpoints.py:124-186, 373-499) ---------


@pytest.fixture(scope="module")
def cfg_server(tmp_path_factory):
    """Server with databases + an object-store fake wired (no Spark: the
    databases group degrades to config CRUD with empty vector_stores)."""
    from oaim_sandbox_spark.serving.config_plane import ModelDef, Registry
    from oaim_sandbox_spark.serving.http_api import DatabaseDef, OciProfileDef
    from oaim_sandbox_spark.sources.loaders import LocalObjectStore

    root = tmp_path_factory.mktemp("osroot")
    (root / "bucketa").mkdir()
    (root / "bucketa" / "a.txt").write_text("alpha")
    (root / "bucketa" / "sub").mkdir()
    (root / "bucketa" / "sub" / "b.txt").write_text("beta")
    (root / "bucketb").mkdir()
    warehouse = tmp_path_factory.mktemp("warehouse")

    models = Registry("model")
    models.create(ModelDef(name="oci-genai", type="ll", provider="oci", enabled=False))
    pipeline = ChatPipeline(store=None, embed_query=None, llm=MockLLM(),
                            settings=RagSettings(rag_enabled=False))
    srv = ApiServer(
        pipeline, models=models, api_key=KEY,
        databases=[DatabaseDef(name="DEFAULT", dsn=str(warehouse)),
                   DatabaseDef(name="BROKEN", dsn=str(warehouse / "missing"))],
        object_store=LocalObjectStore(str(root)),
        oci_profiles=[OciProfileDef(auth_profile="DEFAULT")],
        staging_root=str(tmp_path_factory.mktemp("staging")),
    ).start()
    yield srv
    srv.stop()


DB_OCI_PROTECTED = [
    ("GET", "/v1/databases"),
    ("GET", "/v1/databases/DEFAULT"),
    ("PATCH", "/v1/databases/DEFAULT"),
    ("GET", "/v1/oci"),
    ("GET", "/v1/oci/DEFAULT"),
    ("GET", "/v1/oci/compartments/DEFAULT"),
    ("GET", "/v1/oci/buckets/ocid1.compartment.x/DEFAULT"),
    ("GET", "/v1/oci/objects/bucketa/DEFAULT"),
    ("PATCH", "/v1/oci/DEFAULT"),
    ("POST", "/v1/oci/objects/download/bucketa/DEFAULT"),
]


@pytest.mark.parametrize("method,path", DB_OCI_PROTECTED)
def test_db_oci_no_auth_403(cfg_server, method, path):
    status, body = req(cfg_server, method, path, token=None)
    assert status == 403 and body["detail"] == "Not authenticated"


@pytest.mark.parametrize("method,path", DB_OCI_PROTECTED)
def test_db_oci_bad_auth_401(cfg_server, method, path):
    status, body = req(cfg_server, method, path, token="bad-testing-token")
    assert status == 401 and body["detail"] == "Invalid API Key"


def test_databases_list_and_get(cfg_server):
    status, dbs = req(cfg_server, "GET", "/v1/databases")
    assert status == 200 and {d["name"] for d in dbs} == {"DEFAULT", "BROKEN"}

    status, db = req(cfg_server, "GET", "/v1/databases/DEFAULT")
    assert status == 200 and db["name"] == "DEFAULT" and db["vector_stores"] == []

    status, body = req(cfg_server, "GET", "/v1/databases/NOSUCH")
    assert status == 404 and "not found" in body["detail"]

    # config exists but the warehouse dir doesn't -> 406 (reference parity)
    status, body = req(cfg_server, "GET", "/v1/databases/BROKEN")
    assert status == 406


def test_databases_update_sets_default(cfg_server):
    status, db = req(cfg_server, "PATCH", "/v1/databases/DEFAULT",
                     body={"user": "admin", "password": "hunter2"})
    assert status == 200 and db["connected"] is True
    assert db["password"] == "*****"  # masked on the wire (P13)

    # bad dsn on update -> 406 and connected=False
    status, _ = req(cfg_server, "PATCH", "/v1/databases/DEFAULT",
                    body={"dsn": "/no/such/dir"})
    assert status == 406
    status, db = req(cfg_server, "GET", "/v1/databases/DEFAULT")
    assert status == 200 and db["connected"] is False


def test_oci_profile_crud(cfg_server):
    status, profs = req(cfg_server, "GET", "/v1/oci")
    assert status == 200 and profs[0]["auth_profile"] == "DEFAULT"

    status, _ = req(cfg_server, "GET", "/v1/oci/NOSUCH")
    assert status == 404

    status, prof = req(cfg_server, "PATCH", "/v1/oci/DEFAULT",
                       body={"region": "us-phoenix-1", "tenancy": "acme"})
    assert status == 200 and prof["region"] == "us-phoenix-1"
    assert prof["namespace"]  # namespace resolved from the store root


def test_oci_patch_enables_genai_models(cfg_server):
    status, m = req(cfg_server, "GET", "/v1/models/oci-genai")
    assert status == 200 and m["enabled"] is False

    status, _ = req(cfg_server, "PATCH", "/v1/oci/DEFAULT",
                    body={"service_endpoint": "https://genai.example",
                          "compartment_id": "ocid1.compartment.x"})
    assert status == 200
    status, m = req(cfg_server, "GET", "/v1/models/oci-genai")
    assert m["enabled"] is True and m["url"] == "https://genai.example"


def test_oci_compartments_buckets_objects(cfg_server):
    status, comps = req(cfg_server, "GET", "/v1/oci/compartments/DEFAULT")
    assert status == 200 and len(comps) == 1
    ocid = next(iter(comps.values()))
    assert ocid.startswith("ocid1.compartment.")

    status, buckets = req(cfg_server, "GET", f"/v1/oci/buckets/{ocid}/DEFAULT")
    assert status == 200 and buckets == ["bucketa", "bucketb"]

    # invalid OCID -> 422 (reference pydantic OracleResource validation)
    status, _ = req(cfg_server, "GET", "/v1/oci/buckets/not-an-ocid/DEFAULT")
    assert status == 422

    status, objs = req(cfg_server, "GET", "/v1/oci/objects/bucketa/DEFAULT")
    assert status == 200 and objs == ["a.txt", "sub/b.txt"]

    status, _ = req(cfg_server, "GET", "/v1/oci/objects/nobucket/DEFAULT")
    assert status == 404


def test_oci_download_objects(cfg_server):
    status, files = req(cfg_server, "POST", "/v1/oci/objects/download/bucketa/DEFAULT",
                        body=["a.txt", "sub/b.txt"], client="dl1")
    assert status == 200 and files == ["a.txt", "b.txt"]

    status, _ = req(cfg_server, "POST", "/v1/oci/objects/download/bucketa/DEFAULT",
                    body=["missing.txt"], client="dl1")
    assert status == 404

    status, _ = req(cfg_server, "POST", "/v1/oci/objects/download/bucketa/DEFAULT",
                    body=[], client="dl1")
    assert status == 422


def test_databases_vector_stores_with_spark(spark, tmp_path):
    """With Spark wired, a connected database lists its warehouse's vector
    stores (reference databases_list populating db.vector_stores)."""
    from oaim_sandbox_spark.catalog import VectorStorage, VectorStoreCatalog
    from oaim_sandbox_spark.serving.http_api import DatabaseDef

    wh = tmp_path / "wh"
    cat = VectorStoreCatalog(spark, str(wh))
    df = spark.createDataFrame([("c1", "hello", [0.1, 0.2])],
                               "chunk_id STRING, text STRING, embedding ARRAY<FLOAT>")
    name = cat.write_store(df, VectorStorage(alias="t", model="m", chunk_size=8, chunk_overlap=0))

    pipeline = ChatPipeline(store=None, embed_query=None, llm=MockLLM(),
                            settings=RagSettings(rag_enabled=False))
    srv = ApiServer(pipeline, api_key=KEY, spark=spark,
                    databases=[DatabaseDef(name="WH", dsn=str(wh))]).start()
    try:
        status, db = req(srv, "GET", "/v1/databases/WH")
        assert status == 200 and db["connected"] is False  # GET does not set default
        assert [v["vector_store"] for v in db["vector_stores"]] == [name]
    finally:
        srv.stop()


def test_oci_download_rejects_traversal(cfg_server):
    """Object names and client ids become filesystem path components — '..'
    and absolute paths must 422, never resolve (path-traversal guard)."""
    for name in ["../secret.txt", "/etc/passwd", "sub/../../x", "..\\win.txt"]:
        status, _ = req(cfg_server, "POST", "/v1/oci/objects/download/bucketa/DEFAULT",
                        body=[name], client="dlsafe")
        assert status == 422, name
    status, _ = req(cfg_server, "POST", "/v1/oci/objects/download/bucketa/DEFAULT",
                    body=["a.txt"], client="../escape")
    assert status == 422


def test_oci_download_lists_only_this_request(cfg_server):
    """The response is THIS request's staged files — a second download must
    not echo the first one's leftovers from the cumulative staging dir."""
    status, files = req(cfg_server, "POST", "/v1/oci/objects/download/bucketa/DEFAULT",
                        body=["a.txt"], client="dl2")
    assert status == 200 and files == ["a.txt"]
    status, files = req(cfg_server, "POST", "/v1/oci/objects/download/bucketa/DEFAULT",
                        body=["sub/b.txt"], client="dl2")
    assert status == 200 and files == ["b.txt"]


def test_wire_rows_capped(spark_server, monkeypatch):
    """No HTTP route may materialize unbounded rows on the driver: _df_json
    caps at MAX_WIRE_ROWS and appends an explicit truncation sentinel (a
    10M-row store listing must degrade, not take the server down)."""
    from oaim_sandbox_spark.serving.http_api import _ApiHandler

    monkeypatch.setattr(_ApiHandler, "MAX_WIRE_ROWS", 3)
    qa_rows = [
        {"question": f"q{i}?", "reference_answer": f"a{i}",
         "reference_context": f"ctx {i}", "topic": "t"}
        for i in range(6)
    ]
    status, body = req(spark_server, "POST", "/v1/testbed/testset_load?name=cap-set",
                       body={"qa": qa_rows})
    assert status == 200
    tid = body["tid"]
    status, qa = req(spark_server, "GET", f"/v1/testbed/testset_qa?tid={tid}")
    assert status == 200
    assert len(qa) == 4  # 3 rows + sentinel
    assert qa[-1] == {"_truncated": True, "_max_rows": 3}
    assert all("question" in r for r in qa[:3])


def test_local_store_roundtrip(server, tmp_path, monkeypatch):
    """S7 wire route (endpoints.py:230-245): uploaded payloads land in the
    client's embedding staging dir; returned names are the stored basenames.
    Needs no Spark backend — staging is driver-side file I/O."""
    import base64
    import os

    monkeypatch.setattr(server, "staging_root", str(tmp_path))
    files = [
        {"filename": "a.txt", "text": "hello world"},
        {"filename": "nested/dir/b.pdf",
         "content_b64": base64.b64encode(b"%PDF-1.4 fake").decode()},
    ]
    status, names = req(server, "POST", "/v1/embed/local/store", body=files, client="c-up")
    assert status == 200
    assert names == ["a.txt", "b.pdf"]  # path components stripped to basename
    staged = os.path.join(str(tmp_path), "c-up", "embedding")
    assert open(os.path.join(staged, "a.txt")).read() == "hello world"
    assert open(os.path.join(staged, "b.pdf"), "rb").read() == b"%PDF-1.4 fake"

    # bad payloads -> 422, traversal client -> 422
    status, _ = req(server, "POST", "/v1/embed/local/store", body=[{"text": "x"}], client="c-up")
    assert status == 422
    status, _ = req(server, "POST", "/v1/embed/local/store", body=files, client="../evil")
    assert status == 422


def test_web_store_roundtrip_and_unprocessable_500(server, tmp_path, monkeypatch):
    """S6 wire route (endpoints.py:199-228): URL downloads dispatch on
    content type; an unprocessable type wipes the staging dir and returns
    500, matching the reference's behavior."""
    import os

    monkeypatch.setattr(server, "staging_root", str(tmp_path))

    class FakeResp:
        def __init__(self, ctype, content):
            self.headers = {"content-type": ctype}
            self.content = content

        def raise_for_status(self):
            pass

    responses = {
        "http://x.test/doc.pdf": FakeResp("application/pdf", b"%PDF-1.4 x"),
        "http://x.test/page": FakeResp("text/html", b"<html><p>hi</p></html>"),
        "http://x.test/bin": FakeResp("application/zip", b"PK"),
    }
    import requests

    monkeypatch.setattr(requests, "get", lambda url, timeout=0: responses[url])

    status, names = req(server, "POST", "/v1/embed/web/store",
                        body=["http://x.test/doc.pdf", "http://x.test/page"], client="c-web")
    assert status == 200
    assert names == ["doc.pdf", "page.html"]
    staged = os.path.join(str(tmp_path), "c-web", "embedding")
    assert sorted(os.listdir(staged)) == ["doc.pdf", "page.html"]

    status, body = req(server, "POST", "/v1/embed/web/store",
                       body=["http://x.test/bin"], client="c-web")
    assert status == 500 and "content type" in body["detail"]
    assert not os.path.isdir(staged)  # staging dir wiped, like the reference


def _multipart_post(server, path, parts, token=KEY, client=None, boundary="refclientboundary42"):
    """POST a reference-shaped multipart/form-data body (what FastAPI's
    List[UploadFile] clients send) and return (status, json)."""
    lines = []
    for fname, payload in parts:
        lines += [
            f"--{boundary}\r\n"
            f'Content-Disposition: form-data; name="files"; filename="{fname}"\r\n'
            f"Content-Type: application/octet-stream\r\n\r\n".encode(),
            payload,
            b"\r\n",
        ]
    lines.append(f"--{boundary}--\r\n".encode())
    data = b"".join(lines)
    headers = {"Content-Type": f"multipart/form-data; boundary={boundary}"}
    if token is not None:
        headers["Authorization"] = f"Bearer {token}"
    if client:
        headers["client"] = client
    r = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}", data=data, headers=headers, method="POST"
    )
    try:
        with urllib.request.urlopen(r, timeout=10) as resp:
            return resp.status, json.loads(resp.read() or b"null")
    except urllib.error.HTTPError as ex:
        return ex.code, json.loads(ex.read() or b"null")


def test_local_store_multipart_roundtrip(spark_server, spark, tmp_path, monkeypatch):
    """An off-the-shelf reference client POSTs multipart/form-data to
    /v1/embed/local/store (reference endpoints.py:230-245 store_local_file
    takes List[UploadFile]); the files land in the client staging dir and
    then round-trip stage -> split/embed -> top-k search through the same
    library pipeline the POST /v1/embed route uses."""
    import os

    from oaim_sandbox_spark.operators.embed import mock_embed_column
    from oaim_sandbox_spark.operators.retrieval import similarity_topk
    from oaim_sandbox_spark.operators.split import split_fixed
    from oaim_sandbox_spark.sources.loaders import load_text

    monkeypatch.setattr(spark_server, "staging_root", str(tmp_path))
    parts = [
        ("spark.txt", b"spark runs distributed queries " * 20),
        ("cats.md", b"cats sleep on windowsills " * 20),
    ]
    status, names = _multipart_post(spark_server, "/v1/embed/local/store", parts, client="c-mp")
    assert status == 200
    assert names == ["spark.txt", "cats.md"]
    staged = os.path.join(str(tmp_path), "c-mp", "embedding")
    assert sorted(os.listdir(staged)) == ["cats.md", "spark.txt"]

    # stage -> embed -> search: load the staged dir, chunk, mock-embed, query
    docs = load_text(spark, staged)
    chunks = split_fixed(docs, text_col="text", id_col="doc_id",
                         chunk_size=120, chunk_overlap=10)
    embedded = mock_embed_column(chunks, text_col="text", dim=64)
    qvec = mock_embed_column(
        spark.createDataFrame([("q", "spark distributed queries")], "id STRING, text STRING"),
        text_col="text", dim=64,
    ).collect()[0]["embedding"]
    top = similarity_topk(embedded, qvec, k=2).collect()
    assert top and "spark" in top[0]["text"]

    # auth matrix holds for multipart too
    status, _ = _multipart_post(spark_server, "/v1/embed/local/store", parts, token=None)
    assert status == 403
    status, _ = _multipart_post(spark_server, "/v1/embed/local/store", parts, token="wrong")
    assert status == 401


def test_local_store_multipart_malformed_422(spark_server, tmp_path, monkeypatch):
    """Malformed boundary / bodies with no file parts are a 422, and a
    traversal filename in a part is rejected by the staging layer."""
    monkeypatch.setattr(spark_server, "staging_root", str(tmp_path))
    # declared boundary missing from the body
    r = urllib.request.Request(
        f"http://127.0.0.1:{spark_server.port}/v1/embed/local/store",
        data=b"not a multipart body at all",
        headers={"Content-Type": "multipart/form-data; boundary=nope",
                 "Authorization": f"Bearer {KEY}"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(r, timeout=10) as resp:
            status = resp.status
    except urllib.error.HTTPError as ex:
        status = ex.code
    assert status == 422

    # no boundary parameter at all
    r = urllib.request.Request(
        f"http://127.0.0.1:{spark_server.port}/v1/embed/local/store",
        data=b"x", headers={"Content-Type": "multipart/form-data",
                            "Authorization": f"Bearer {KEY}"}, method="POST",
    )
    try:
        with urllib.request.urlopen(r, timeout=10) as resp:
            status = resp.status
    except urllib.error.HTTPError as ex:
        status = ex.code
    assert status == 422

    # '..' filename -> staging layer ValueError -> 422, nothing staged
    status, _ = _multipart_post(
        spark_server, "/v1/embed/local/store", [("..", b"evil")], client="c-bad"
    )
    assert status == 422
    import os
    assert not os.path.exists(os.path.join(str(tmp_path), "c-bad", "embedding", "evil"))


def test_testbed_evaluation_singular_full_report(spark_server):
    """GET /v1/testbed/evaluation?eid= (reference endpoints.py:762-767)
    returns the FULL stored report — correctness, by_topic, bounded
    failures, settings — not the list row; unknown eid is a 404."""
    qa_rows = [
        {"question": "what is spark?", "reference_answer": "a distributed engine",
         "reference_context": "spark is a distributed engine", "topic": "tech"},
        {"question": "what are dogs?", "reference_answer": "loyal mammals",
         "reference_context": "dogs are loyal mammals", "topic": "animals"},
    ]
    status, body = req(spark_server, "POST", "/v1/testbed/testset_load?name=full-report-set",
                       body={"qa": qa_rows})
    assert status == 200
    tid = body["tid"]
    status, rep = req(spark_server, "POST", f"/v1/testbed/evaluate?tid={tid}")
    assert status == 200
    status, full = req(spark_server, "GET", f"/v1/testbed/evaluation?eid={rep['eid']}")
    assert status == 200
    assert full["eid"] == rep["eid"] and full["tid"] == tid
    assert full["correctness"] == rep["correctness"]
    assert full["by_topic"] == rep["by_topic"]
    assert full["failures"] == rep["failures"]
    assert isinstance(full["settings"], dict)
    status, _ = req(spark_server, "GET", "/v1/testbed/evaluation?eid=nope")
    assert status == 404
    req(spark_server, "DELETE", f"/v1/testbed/testset_delete/{tid}")


def test_testset_load_multipart_jsonl(spark_server):
    """POST /v1/testbed/testset_load with multipart JSONL files — the
    reference's List[UploadFile] client shape (endpoints.py:785-806)."""
    jsonl = b"\n".join(
        json.dumps({"question": f"q{i}?", "reference_answer": f"a{i}",
                    "reference_context": f"ctx{i}", "topic": "t"}).encode()
        for i in range(3)
    )
    status, body = _multipart_post(
        spark_server, "/v1/testbed/testset_load?name=mp-set", [("set.jsonl", jsonl)]
    )
    assert status == 200
    assert {r["question"] for r in body["qa"]} == {"q0?", "q1?", "q2?"}
    # a non-JSONL payload is a 422, and the set was not created twice
    status, _ = _multipart_post(
        spark_server, "/v1/testbed/testset_load?name=mp-bad", [("junk.bin", b"\x00\x01 not json")]
    )
    assert status == 422
    req(spark_server, "DELETE", f"/v1/testbed/testset_delete/{body['tid']}")


def test_testset_generate_from_uploaded_files(spark_server):
    """POST /v1/testbed/testset_generate (endpoints.py:808-864): uploaded
    files become a knowledge base, `questions` Q&A rows per file are
    generated deterministically, stored under `name`, and returned; an
    unknown ll_model 404s like the reference's model filter."""
    parts = [
        ("guide.txt", b"Spark splits corpora into chunks for embedding. " * 30),
        ("notes.md", b"Vector stores index chunk embeddings for search. " * 30),
    ]
    status, body = _multipart_post(
        spark_server, "/v1/testbed/testset_generate?name=gen-set&questions=2", parts
    )
    assert status == 200
    qa = body["qa"]
    assert len(qa) == 4  # questions * n_files
    assert all(r["question"] and r["reference_context"] for r in qa)
    # generated set is a real test set: evaluate round-trips on it
    status, rep = req(spark_server, "POST", f"/v1/testbed/evaluate?tid={body['tid']}")
    assert status == 200 and 0.0 <= rep["correctness"] <= 1.0

    status, _ = _multipart_post(
        spark_server, "/v1/testbed/testset_generate?name=x&questions=2&ll_model=not-a-model",
        parts,
    )
    assert status == 404
    status, _ = req(spark_server, "POST", "/v1/testbed/testset_generate?name=x",
                    body=[{"not": "multipart"}])
    assert status == 422
    req(spark_server, "DELETE", f"/v1/testbed/testset_delete/{body['tid']}")


def test_embed_from_staged_files_roundtrip(spark_server, tmp_path, monkeypatch):
    """Reference split_embed contract (endpoints.py:251-306): POST /v1/embed
    with NO inline documents reads the client's staged files (from the
    web/local store routes), splits+embeds them into a vector store, and
    wipes the staging dir; a missing or empty staging folder is a 404."""
    import os

    monkeypatch.setattr(spark_server, "staging_root", str(tmp_path))

    # 404 before anything staged
    status, body = req(spark_server, "POST", "/v1/embed",
                       body={"alias": "st", "model": "mock-embed"}, client="c-se")
    assert status == 404 and "folder not found" in body["detail"]

    # stage two text files via the multipart route, then split/embed them
    parts = [
        ("one.txt", b"distributed engines split corpora into chunks " * 10),
        ("two.md", b"vector stores hold chunk embeddings " * 10),
    ]
    status, _ = _multipart_post(spark_server, "/v1/embed/local/store", parts, client="c-se")
    assert status == 200
    status, body = req(spark_server, "POST", "/v1/embed",
                       body={"alias": "st", "model": "mock-embed",
                             "chunk_size": 120, "chunk_overlap": 10}, client="c-se")
    assert status == 200
    assert "chunks embedded" in body["message"]
    vs = body["vector_store"]

    # staging dir consumed (reference's finally:), so a repeat POST is a 404
    staged = os.path.join(str(tmp_path), "c-se", "embedding")
    assert not os.path.isdir(staged)
    status, body = req(spark_server, "POST", "/v1/embed",
                       body={"alias": "st", "model": "mock-embed"}, client="c-se")
    assert status == 404

    req(spark_server, "DELETE", f"/v1/embed/{vs}")


def test_embed_from_staged_unsupported_extension_500(spark_server, tmp_path, monkeypatch):
    """An unsupported staged extension surfaces the loader's ValueError as
    the reference's 500 and leaves the staged files for retry."""
    import os

    monkeypatch.setattr(spark_server, "staging_root", str(tmp_path))
    status, _ = _multipart_post(
        spark_server, "/v1/embed/local/store", [("data.xyz", b"???")], client="c-bad-ext"
    )
    assert status == 200
    status, body = req(spark_server, "POST", "/v1/embed", body={}, client="c-bad-ext")
    assert status == 500 and "unsupported file extension" in body["detail"]
    assert os.path.isdir(os.path.join(str(tmp_path), "c-bad-ext", "embedding"))


def test_bootstrap_databases_from_env(monkeypatch):
    """bootstrap/database_def.py parity: DEFAULT database assembled from
    env; wallet password sets wallet_location to the config dir."""
    from oaim_sandbox_spark.serving.http_api import bootstrap_databases

    for k in ("DB_USERNAME", "DB_PASSWORD", "DB_DSN", "DB_WALLET_PASSWORD", "TNS_ADMIN"):
        monkeypatch.delenv(k, raising=False)
    (db,) = bootstrap_databases()
    assert db.name == "DEFAULT" and db.dsn == "" and db.wallet_location == ""
    monkeypatch.setenv("DB_USERNAME", "scott")
    monkeypatch.setenv("DB_DSN", "/warehouse/dir")
    monkeypatch.setenv("DB_WALLET_PASSWORD", "w")
    monkeypatch.setenv("TNS_ADMIN", "/wallets")
    (db,) = bootstrap_databases()
    assert db.user == "scott" and db.dsn == "/warehouse/dir"
    assert db.wallet_location == "/wallets"  # wallet password engages the location


def test_bootstrap_oci_profiles_from_config(tmp_path, monkeypatch):
    """bootstrap/oci_def.py parity: INI sections become profiles (plus
    DEFAULT when it has keys); missing file falls back to one empty
    DEFAULT profile."""
    from oaim_sandbox_spark.serving.http_api import bootstrap_oci_profiles

    cfg = tmp_path / "config"
    cfg.write_text(
        "[DEFAULT]\ntenancy=ocid1.tenancy.t\nregion=us-ashburn-1\n"
        "[MYPROF]\ntenancy=ocid1.tenancy.p\nuser=ocid1.user.u\n"
        "fingerprint=aa:bb\nkey_file=/k.pem\n"
    )
    profiles = bootstrap_oci_profiles(str(cfg))
    by_name = {p.auth_profile: p for p in profiles}
    assert set(by_name) == {"MYPROF", "DEFAULT"}
    assert by_name["MYPROF"].user == "ocid1.user.u"
    assert by_name["MYPROF"].fingerprint == "aa:bb"
    assert by_name["DEFAULT"].region == "us-ashburn-1"

    monkeypatch.setenv("OCI_CLI_CONFIG_FILE", str(tmp_path / "missing"))
    profiles = bootstrap_oci_profiles()
    assert len(profiles) == 1 and profiles[0].auth_profile == "DEFAULT"
    assert profiles[0].tenancy == ""


def test_evaluate_accepts_json_body_and_validates_judge(spark_server):
    """Reference testbed_evaluate_qa takes {tid, judge} in the body and
    resolves the judge through the model filter: tid via body works, and an
    unknown judge model 404s before any evaluation runs."""
    qa_rows = [{"question": "q?", "reference_answer": "a",
                "reference_context": "ctx", "topic": "t"}]
    status, body = req(spark_server, "POST", "/v1/testbed/testset_load?name=judge-set",
                       body={"qa": qa_rows})
    assert status == 200
    tid = body["tid"]
    status, _ = req(spark_server, "POST", "/v1/testbed/evaluate",
                    body={"tid": tid, "judge": "no-such-judge"})
    assert status == 404
    status, rep = req(spark_server, "POST", "/v1/testbed/evaluate", body={"tid": tid})
    assert status == 200 and rep["tid"] == tid
    req(spark_server, "DELETE", f"/v1/testbed/testset_delete/{tid}")


def test_single_row_jsonl_and_nondict_bodies(spark_server, tmp_path, monkeypatch):
    """Review fixes: a one-line JSONL upload is valid (the whole-text JSON
    parse must not 422 it), a non-dict JSON body on object routes is a
    clean 4xx instead of a dead connection, and questions<=0 is a 422."""
    one = json.dumps({"question": "only?", "reference_answer": "a",
                      "reference_context": "c", "topic": "t"}).encode()
    status, body = _multipart_post(
        spark_server, "/v1/testbed/testset_load?name=one-row", [("one.jsonl", one)]
    )
    assert status == 200 and [r["question"] for r in body["qa"]] == ["only?"]
    req(spark_server, "DELETE", f"/v1/testbed/testset_delete/{body['tid']}")

    # non-dict (list) body: evaluate must answer a 4xx, not drop the socket
    status, _ = req(spark_server, "POST", "/v1/testbed/evaluate", body=["x"])
    assert 400 <= status < 500

    status, _ = _multipart_post(
        spark_server, "/v1/testbed/testset_generate?name=x&questions=-3",
        [("f.txt", b"text " * 50)],
    )
    assert status == 422


def test_evaluation_records_requested_judge(spark_server):
    """A valid judge model name is recorded in the stored report settings
    (the engine's judge is deterministic; attribution must not be lost)."""
    qa_rows = [{"question": "q?", "reference_answer": "a",
                "reference_context": "c", "topic": "t"}]
    status, body = req(spark_server, "POST", "/v1/testbed/testset_load?name=attr-set",
                       body={"qa": qa_rows})
    tid = body["tid"]
    status, _ = req(spark_server, "POST", "/v1/models",
                    body={"name": "judge-model", "type": "ll", "provider": "openai-compat"})
    assert status == 200
    status, rep = req(spark_server, "POST", "/v1/testbed/evaluate",
                      body={"tid": tid, "judge": "judge-model"})
    assert status == 200
    status, full = req(spark_server, "GET", f"/v1/testbed/evaluation?eid={rep['eid']}")
    assert status == 200 and full["settings"] == {"judge": "judge-model"}
    req(spark_server, "DELETE", f"/v1/testbed/testset_delete/{tid}")


def test_stage_local_files_dedupes_colliding_basenames(tmp_path):
    """'a/data.txt' and 'b/data.txt' in one batch must both survive —
    counter-suffixed like stage_web_files, never silently clobbered."""
    from oaim_sandbox_spark.sources.loaders import stage_local_files

    staged = stage_local_files(
        [("a/data.txt", b"A"), ("b/data.txt", b"B"), ("data.txt", b"C")],
        str(tmp_path / "stage"),
    )
    assert len(staged) == len(set(staged)) == 3
    assert sorted(open(p, "rb").read() for p in staged) == [b"A", b"B", b"C"]


def test_second_review_pass_edges(spark_server, server):
    """Second review pass: unknown/missing-store tid is a 404 (never a
    persisted bogus 0.0 report or a dead socket), a non-string judge is a
    422, element-level non-object qa rows / documents are 422, and a
    valid-JSON-but-not-object PATCH body is a 422 rather than a silent
    no-op 200."""
    # evaluate against a store that has never seen a testset -> 404
    status, _ = req(spark_server, "POST", "/v1/testbed/evaluate",
                    body={"tid": "never-loaded"})
    assert status == 404
    status, body = req(spark_server, "POST", "/v1/testbed/testset_load?name=e2",
                       body={"qa": [{"question": "q", "reference_answer": "a",
                                     "reference_context": "c", "topic": "t"}]})
    tid = body["tid"]
    # typoed tid with an existing store -> 404, not a bogus 200
    status, _ = req(spark_server, "POST", "/v1/testbed/evaluate",
                    body={"tid": "not-" + tid})
    assert status == 404
    # non-string judge -> 422 (was an unhashable-key TypeError)
    status, _ = req(spark_server, "POST", "/v1/testbed/evaluate",
                    body={"tid": tid, "judge": {"name": "x"}})
    assert status == 422
    # element-level validation
    status, _ = req(spark_server, "POST", "/v1/testbed/testset_load?name=bad",
                    body={"qa": ["just a string"]})
    assert status == 422
    status, _ = req(spark_server, "POST", "/v1/embed", body={"documents": [5]})
    assert status == 422
    # non-object body on an object PATCH route -> 422, not a silent 200
    req(server, "POST", "/v1/settings?client=badbody")  # ensure client exists
    status, _ = req(server, "PATCH", "/v1/settings?client=badbody",
                    body=[{"top_k": 9}])
    assert status == 422
    req(spark_server, "DELETE", f"/v1/testbed/testset_delete/{tid}")


def test_multipart_upload_over_cap_is_413():
    """ADVICE r5: the multipart routes must bound the body BEFORE reading it
    (the reference stack caps uploads). A Content-Length over the configured
    max_upload_bytes gets a 413 and the body is never buffered."""
    pipeline = ChatPipeline(store=None, embed_query=None, llm=MockLLM(),
                            settings=RagSettings(rag_enabled=False))
    srv = ApiServer(pipeline, api_key=KEY, max_upload_bytes=1024).start()
    try:
        status, body = _multipart_post(
            srv, "/v1/embed/local/store",
            [("big.txt", b"x" * 4096)], client="c-cap",
        )
        assert status == 413
        assert "limit" in body["detail"]
        # an under-cap request on a fresh connection still routes normally
        status, names = _multipart_post(
            srv, "/v1/embed/local/store",
            [("small.txt", b"tiny")], client="c-cap",
        )
        assert status == 200 and names == ["small.txt"]
    finally:
        srv.stop()


def test_json_route_over_cap_is_413():
    """Round-6 review: the upload cap is route-independent — an oversized
    Content-Length on a plain JSON route must 413 from the shared body-read
    path before buffering, exactly like the multipart routes (a 2 GB JSON
    body would otherwise buffer into driver memory)."""
    pipeline = ChatPipeline(store=None, embed_query=None, llm=MockLLM(),
                            settings=RagSettings(rag_enabled=False))
    srv = ApiServer(pipeline, api_key=KEY, max_upload_bytes=1024).start()
    try:
        status, body = req(
            srv, "POST", "/v1/models",
            body={"name": "m", "provider": "mock", "notes": "x" * 4096},
        )
        assert status == 413
        assert "limit" in body["detail"]
        # an under-cap JSON request on a fresh connection still routes
        status, body = req(srv, "GET", "/v1/models")
        assert status == 200
    finally:
        srv.stop()


def test_chat_stream_wire_framing_reference_client(server):
    """Wire-level parity for /v1/chat/streams (VERDICT r5 stretch 7): the
    reference streams a StreamingResponse of utf-8 token chunks terminated
    by a '[stream_finished]' chunk (endpoints.py:669-685, 706-717) and its
    Chatbot client loops over chunks, breaking when one equals the
    sentinel. Consume the facade's response with a raw socket and a manual
    HTTP/1.1 chunked-transfer parser — every token must arrive as its OWN
    chunk (iter_content granularity, not one buffered body), and the FINAL
    chunk must be byte-for-byte b'[stream_finished]' so that off-the-shelf
    client loop terminates."""
    import socket

    payload = json.dumps({"message": "stream me"}).encode()
    req_bytes = (
        f"POST /v1/chat/streams HTTP/1.1\r\nHost: 127.0.0.1:{server.port}\r\n"
        f"Authorization: Bearer {KEY}\r\nContent-Type: application/json\r\n"
        f"Content-Length: {len(payload)}\r\nConnection: close\r\n\r\n"
    ).encode() + payload
    with socket.create_connection(("127.0.0.1", server.port), timeout=10) as s:
        s.sendall(req_bytes)
        raw = b""
        while True:
            got = s.recv(65536)
            if not got:
                break
            raw += got
    head, _, body = raw.partition(b"\r\n\r\n")
    assert b" 200 " in head.splitlines()[0]
    headers = {l.split(b":")[0].lower(): l.split(b":", 1)[1].strip()
               for l in head.splitlines()[1:] if b":" in l}
    assert headers[b"content-type"] == b"application/octet-stream"
    assert headers[b"transfer-encoding"] == b"chunked"
    # manual chunked-transfer decode, chunk boundaries preserved
    chunks, rest = [], body
    while True:
        size_line, _, rest = rest.partition(b"\r\n")
        size = int(size_line, 16)
        if size == 0:
            break
        chunks.append(rest[:size])
        assert rest[size:size + 2] == b"\r\n"
        rest = rest[size + 2:]
    assert len(chunks) >= 2, "tokens must stream as separate chunks"
    assert chunks[-1] == b"[stream_finished]"
    assert all(c != b"" for c in chunks)
    # the reference client loop: consume until the sentinel chunk, then break
    consumed = []
    for c in chunks:
        if c.decode("utf-8") == "[stream_finished]":
            break
        consumed.append(c.decode("utf-8"))
    assert "".join(consumed)  # real content preceded the sentinel


def test_chat_streams_settings_error_is_422_not_aborted_chunk(server):
    """ADVICE r8 medium: pipeline.stream is a lazy generator, so per-client
    settings errors (here: search_tier with no tier_gate wired) raise on
    first iteration. The streams route must surface the same 422 JSON the
    completions route returns — NOT commit 200 + chunked headers and then
    abort the body."""
    # the retrieval path must be reachable: give the shared pipeline a
    # (sentinel) store + query embedder for the duration of this test
    old_store, old_embed = server.pipeline.store, server.pipeline.embed_query
    server.pipeline.store = object()
    server.pipeline.embed_query = lambda q: [0.0, 0.0, 0.0, 1.0]
    try:
        code, _ = req(server, "POST", "/v1/settings?client=tiered")
        assert code == 200
        code, _ = req(server, "PATCH", "/v1/settings?client=tiered",
                      body={"rag_enabled": True, "search_tier": "int8"})
        assert code == 200
        # completions route: the known-good 422 mapping
        code, body = req(server, "POST", "/v1/chat/completions",
                         body={"message": "hi"}, client="tiered")
        assert code == 422 and "tier_gate" in body["detail"]
        # streams route must now match it
        code, body = req(server, "POST", "/v1/chat/streams",
                         body={"message": "hi"}, client="tiered")
        assert code == 422 and "tier_gate" in body["detail"]
        # and a tier-free client still streams fine afterwards
        code, _ = req(server, "POST", "/v1/chat/completions",
                      body={"message": "hi"}, client="plain")
        assert code == 200
    finally:
        server.pipeline.store, server.pipeline.embed_query = old_store, old_embed


def test_chat_applies_client_settings_record(server):
    """The chat routes pass the client's stored settings record to the
    pipeline per request (reference parity: client RAG knobs drive the
    chain per call; beyond-reference search_tier rides the same path)."""
    from oaim_sandbox_spark.serving.chat import ChatResponse, Choice, Message, Usage

    seen = {}
    real_chat = server.pipeline.chat

    def recorder(question, client_id="default", use_history=True, settings_overrides=None):
        seen["overrides"] = settings_overrides
        return ChatResponse(
            id="x", object="chat.completion", created=0, model="m",
            choices=[Choice(0, Message("assistant", "ok"))], usage=Usage(),
        )

    server.pipeline.chat = recorder
    try:
        code, _ = req(server, "POST", "/v1/settings?client=tuned")
        assert code == 200
        code, _ = req(server, "PATCH", "/v1/settings?client=tuned",
                      body={"top_k": 2, "rag_enabled": False})
        assert code == 200
        code, _ = req(server, "POST", "/v1/chat/completions",
                      body={"message": "hi"}, client="tuned")
        assert code == 200
        # ONLY explicitly-PATCHed keys ride along — never the POSTed
        # DEFAULT_SETTINGS copy, which would override server-configured
        # pipeline settings (review r8b)
        assert seen["overrides"] == {"top_k": 2, "rag_enabled": False}
        # a client with no settings record sends None (pipeline defaults)
        code, _ = req(server, "POST", "/v1/chat/completions",
                      body={"message": "hi"}, client="fresh-client")
        assert code == 200
        assert seen["overrides"] is None
        # a client who only CREATED a record (no PATCH) also sends None
        code, _ = req(server, "POST", "/v1/settings?client=created-only")
        assert code == 200
        code, _ = req(server, "POST", "/v1/chat/completions",
                      body={"message": "hi"}, client="created-only")
        assert code == 200
        assert seen["overrides"] is None
    finally:
        server.pipeline.chat = real_chat


def test_settings_patch_rejects_mistyped_rag_values(server):
    """RagSettings-shaped keys are validated at write time: a string top_k
    would otherwise 500 a later chat call mid-plan (review r8b)."""
    req(server, "POST", "/v1/settings?client=typed")
    code, body = req(server, "PATCH", "/v1/settings?client=typed",
                     body={"top_k": "four"})
    assert code == 422 and "top_k" in body["detail"]
    code, _ = req(server, "PATCH", "/v1/settings?client=typed",
                  body={"rag_enabled": "false"})
    assert code == 422  # truthy string is NOT a bool
    code, _ = req(server, "PATCH", "/v1/settings?client=typed",
                  body={"top_k": 3, "temperature": "warm"})
    assert code == 200  # non-RagSettings keys stay free-form


def test_chat_maps_pipeline_config_errors_to_422(server):
    """ValueError from the pipeline (refused tier, missing gate, non-cosine
    tier metric) is a client-configuration error -> 422, not a 500."""
    real_chat = server.pipeline.chat

    def refuses(*a, **kw):
        raise ValueError("tier 'matryoshka16_rerank' refused for store 'X'")

    server.pipeline.chat = refuses
    try:
        code, body = req(server, "POST", "/v1/chat/completions", body={"message": "hi"})
        assert code == 422 and "refused" in body["detail"]
    finally:
        server.pipeline.chat = real_chat


def test_effective_settings_overlay():
    """_effective applies only recognized RagSettings fields and never
    mutates the pipeline's shared settings object."""
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    pipe = ChatPipeline(store=None, embed_query=None, llm=MockLLM(),
                        settings=RagSettings(top_k=4))
    eff = pipe._effective({"top_k": 2, "temperature": 0.1, "api_key": "s3cr3t"})
    assert eff.top_k == 2 and not hasattr(eff, "temperature")
    assert pipe.settings.top_k == 4  # untouched
    assert pipe._effective(None) is pipe.settings
    assert pipe._effective({"unknown": 1}) is pipe.settings


def test_settings_bootstrap_default_and_server_clients(server):
    """Reference parity (bootstrap/settings_def.py + test_endpoints_settings
    test_settings_copy): records for clients 'default' and 'server' exist at
    startup, each carrying its own client id; the copy flow (GET one, PATCH
    the other with the full record) works and bootstrapped records do NOT
    overlay chat requests (nothing explicitly set)."""
    code, d = req(server, "GET", "/v1/settings?client=default")
    assert code == 200 and d["client"] == "default"
    code, sv = req(server, "GET", "/v1/settings?client=server")
    assert code == 200 and sv["client"] == "server"
    # copy: patch the client record onto server (reference test shape)
    code, _ = req(server, "PATCH", "/v1/settings?client=server",
                  body={k: v for k, v in d.items() if k != "client"})
    assert code == 200
    code, sv2 = req(server, "GET", "/v1/settings?client=server")
    assert code == 200 and sv2["client"] == "server"
    assert {k: v for k, v in sv2.items() if k != "client"} == \
           {k: v for k, v in d.items() if k != "client"}


def test_multipart_filename_rfc6266_fidelity():
    """ADVICE r11: the raw-value RFC 6266 parameter parser restores the
    residual fidelity gaps the first-match regex deferred to
    get_filename(): trailing legitimate backslash (escaped quoted-pair),
    RFC 5987 ``filename*=`` ext-values (with §4.3 precedence over plain
    filename), Windows-path interior backslashes kept literal, and the
    ``"<0>"`` angle-addr mangling fixed natively."""
    from oaim_sandbox_spark.serving.http_api import _parse_multipart_files

    def one(cd: str) -> str:
        body = (
            b"--bb1\r\n" + cd.encode("utf-8") +
            b"\r\nContent-Type: application/octet-stream\r\n\r\nXY\r\n--bb1--\r\n"
        )
        got = _parse_multipart_files(body, "multipart/form-data; boundary=bb1")
        assert len(got) == 1 and got[0][1] == b"XY"
        return got[0][0]

    cd = 'Content-Disposition: form-data; name="files"; filename='
    # escaped trailing backslash survives (the regex-era truncation defer)
    assert one(cd + '"trail\\\\"') == "trail\\"
    # escaped interior quote
    assert one(cd + '"a\\"b.txt"') == 'a"b.txt'
    # Windows path: unescaped interior backslashes stay literal
    assert one(cd + '"C:\\foo\\bar.txt"') == "C:\\foo\\bar.txt"
    # RFC 5987 ext-value decodes charset + pct-encoding
    assert one(cd[: -len("filename=")] + "filename*=UTF-8''%E2%82%AC%20rates.txt") \
        == "\u20ac rates.txt"
    # RFC 6266 §4.3: filename* wins over plain filename
    assert one(cd + '"fallback.txt"; filename*=UTF-8\'\'%E2%82%AC.txt') == "\u20ac.txt"
    # malformed ext-value falls back to the plain form
    assert one(cd + '"plan-b.txt"; filename*=not-pct-encoded') == "plan-b.txt"
    # the r11 hypothesis find: RFC 2822 angle-addr mangling ("<0>" -> "0")
    assert one(cd + '"<0>"') == "<0>"
    # bare form fields (no filename parameter) are still skipped
    body = (b"--bb1\r\nContent-Disposition: form-data; name=\"field\"\r\n\r\n"
            b"v\r\n--bb1--\r\n")
    assert _parse_multipart_files(body, "multipart/form-data; boundary=bb1") == []
