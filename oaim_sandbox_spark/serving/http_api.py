"""Wire-level HTTP facade over the serving library — stdlib only.

The reference serves its config/chat/testbed surface as a FastAPI app behind
bearer auth (reference src/launch_server.py:124-159: HTTPBearer dependency,
API_SERVER_KEY; src/server/endpoints.py:105-915: /v1/* routes). FastAPI is
absent from this container, so the same surface is exposed through
``http.server.ThreadingHTTPServer`` — the engine logic stays in
serving/chat.py and serving/config_plane.py; this module is ONLY routing,
auth, and JSON (de)serialization.

Auth semantics mirror FastAPI's HTTPBearer + verify_key exactly
(launch_server.py:132-145, tests/server/test_endpoints_embed.py:44-72):

  - no/malformed Authorization header  -> 403 {"detail": "Not authenticated"}
  - wrong bearer token                 -> 401 {"detail": "Invalid API Key"}
  - /v1/liveness and /v1/readiness need no auth (endpoints.py:112-119)

Routes (reference endpoints.py line refs in handlers):

  GET    /v1/liveness, /v1/readiness
  POST   /v1/chat/completions      POST /v1/chat/streams   GET /v1/chat/history
  GET    /v1/models[?type=&enabled=]   GET/PATCH/DELETE /v1/models/{name}
  POST   /v1/models
  GET    /v1/prompts[?category=]       GET/PATCH /v1/prompts/{category}/{name}
  GET    /v1/settings?client=          POST/PATCH /v1/settings?client=
  GET    /v1/databases                 GET/PATCH /v1/databases/{name}
  GET    /v1/oci                       GET/PATCH /v1/oci/{profile}
  GET    /v1/oci/compartments/{profile}
  GET    /v1/oci/buckets/{compartment_ocid}/{profile}
  GET    /v1/oci/objects/{bucket}/{profile}
  POST   /v1/oci/objects/download/{bucket}/{profile}

Spark-backed groups (503 when the server is built without a SparkSession):

  GET    /v1/testbed/testsets          GET /v1/testbed/testset_qa?tid=
  POST   /v1/testbed/testset_load?name=  (JSON body or multipart JSONL/JSON)
  POST   /v1/testbed/testset_generate?name=&questions=  (multipart files)
  DELETE /v1/testbed/testset_delete/{tid}
  GET    /v1/testbed/evaluations?tid=  GET /v1/testbed/evaluation?eid=
  POST   /v1/testbed/evaluate?tid=
  POST   /v1/embed (split + mock-embed + store write; with no inline
         documents it consumes the client's staged files, ref split_embed)
  DELETE /v1/embed/{vs}
"""

from __future__ import annotations

import json
import os
import secrets
import tempfile
import threading
from dataclasses import asdict, dataclass, field, fields, replace
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from oaim_sandbox_spark.serving.chat import ChatPipeline
from oaim_sandbox_spark.serving.config_plane import (
    DuplicateNameError,
    ModelDef,
    PromptDef,
    PromptRegistry,
    Registry,
    diff_settings,
    mask_sensitive,
)

def _cd_params(value: str) -> dict[str, str]:
    """Parse the parameter list of a raw Content-Disposition header value
    (RFC 6266 grammar, pragmatically): ;-separated key=value pairs where
    values are tokens or quoted-strings. Inside a quoted-string a backslash
    unescapes ONLY a following quote or backslash (``\\"`` → ``"``,
    ``\\\\`` → ``\\``); any other backslash is kept literal — strict RFC
    quoted-pair handling would eat Windows-path separators
    (``filename="C:\\foo\\bar"``) that real clients send unescaped, which is
    also what python-multipart (the reference's FastAPI parser) preserves.
    An unterminated quoted-string (truncated header) drops that parameter
    so callers fall back to the stdlib's best-effort reading. First
    occurrence of a key wins; keys are lower-cased."""
    params: dict[str, str] = {}
    i, n = 0, len(value)
    while i < n and value[i] != ";":
        i += 1  # skip the disposition type token
    while i < n:
        i += 1  # skip ';'
        while i < n and value[i] in " \t":
            i += 1
        k0 = i
        while i < n and value[i] not in "=;":
            i += 1
        key = value[k0:i].strip().lower()
        if i >= n or value[i] == ";":
            continue  # parameter without a value
        i += 1  # skip '='
        while i < n and value[i] in " \t":
            i += 1
        if i < n and value[i] == '"':
            i += 1
            buf: list[str] = []
            closed = False
            while i < n:
                c = value[i]
                if c == "\\" and i + 1 < n and value[i + 1] in '"\\':
                    buf.append(value[i + 1])
                    i += 2
                    continue
                if c == '"':
                    closed = True
                    i += 1
                    break
                buf.append(c)
                i += 1
            if not closed:
                continue  # truncated header — leave to the fallback reader
            val = "".join(buf)
        else:
            v0 = i
            while i < n and value[i] != ";":
                i += 1
            val = value[v0:i].strip()
        if key:
            params.setdefault(key, val)
    return params


def _cd_filename(raw_cd: str) -> str | None:
    """Filename from a raw Content-Disposition value per RFC 6266 §4.3:
    the RFC 5987 ext-value ``filename*=charset''pct-encoded`` takes
    precedence over plain ``filename=`` when both are present and
    well-formed; a malformed ext-value falls back to the plain form. None
    when neither parameter survives parsing (bare form field, or a
    truncated quoted-string — the caller's stdlib fallback handles it)."""
    params = _cd_params(raw_cd)
    ext = params.get("filename*")
    if ext is not None:
        try:
            charset, _, rest = ext.partition("'")
            lang_sep, _, enc = rest.partition("'")
            del lang_sep
            if _ == "" and "'" not in rest:
                raise ValueError("not an RFC 5987 ext-value")
            return unquote(enc, encoding=charset or "utf-8", errors="strict")
        except (ValueError, LookupError):
            pass
    return params.get("filename")


def _parse_multipart_files(raw: bytes, content_type: str) -> list[tuple[str, bytes]]:
    """Parse a ``multipart/form-data`` body into (filename, payload) pairs
    using the stdlib email parser (``cgi`` is gone in modern Python; FastAPI
    does this via python-multipart, absent here). Only parts carrying a
    filename disposition parameter are file uploads — bare form fields are
    skipped, matching the reference route's List[UploadFile] signature
    (endpoints.py:230-245). Returns [] on a malformed body or boundary.

    Parsed with the ``compat32`` policy, which hands back header values
    VERBATIM — the structured HTTP policy re-serializes them, eating
    interior backslashes and pre-decoding RFC 2231 forms before any
    fidelity-preserving reader can run (ADVICE r11: the first-match regex
    over the re-serialized value could not restore trailing backslashes or
    handle ``filename*=``; ``_cd_filename`` over the raw value does both,
    and natively fixes the ``"<0>"``-style mangling the r11 hypothesis
    sweep found in get_filename's RFC 2822 re-parse)."""
    from email.parser import BytesParser
    from email.policy import compat32

    if "boundary=" not in content_type:
        return []
    head = f"Content-Type: {content_type}\r\nMIME-Version: 1.0\r\n\r\n".encode("latin-1")
    try:
        msg = BytesParser(policy=compat32).parsebytes(head + raw)
    except Exception:
        return []
    if not msg.is_multipart():
        return []
    out: list[tuple[str, bytes]] = []
    for part in msg.get_payload():
        raw_cd = str(part.get("Content-Disposition", ""))
        params = _cd_params(raw_cd)
        has_filename = "filename" in params or "filename*" in params \
            or (part.get_filename() is not None)
        if not has_filename:
            continue  # bare form field, not a file upload
        fname = _cd_filename(raw_cd)
        if fname is None:  # truncated/exotic header — stdlib best effort
            fname = part.get_filename() or ""
        payload = part.get_payload(decode=True)
        out.append((fname, payload if payload is not None else b""))
    return out


def _parse_qa_payload(payload: bytes) -> list[dict] | None:
    """QA rows from an uploaded test-set file: a JSON array, a JSON object
    with a 'qa' list, or JSONL (one row object per line — the reference's
    jsonl_to_json_content shape, testbed.py). None if the bytes are neither."""
    text = payload.decode("utf-8", errors="replace").strip()
    if not text:
        return None
    try:
        doc = json.loads(text)
        if isinstance(doc, list):
            return [r for r in doc if isinstance(r, dict)] or None
        if isinstance(doc, dict) and isinstance(doc.get("qa"), list):
            return [r for r in doc["qa"] if isinstance(r, dict)] or None
        if isinstance(doc, dict) and "question" in doc:
            # a single-row file: one JSON QA object IS one-line JSONL — the
            # whole-text parse succeeds so the per-line branch below never
            # runs; accept it here instead of 422ing a valid upload
            return [doc]
        return None
    except json.JSONDecodeError:
        pass
    rows = []
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        try:
            row = json.loads(line)
        except json.JSONDecodeError:
            return None
        if not isinstance(row, dict):
            return None
        rows.append(row)
    return rows or None


DEFAULT_SETTINGS: dict = {
    "rag_enabled": True,
    "top_k": 4,
    "search_type": "Similarity",
    # beyond-reference: compressed ANN retrieval tier (chat.RagSettings
    # .search_tier; None = exact scan). Settable per client like the rest
    # of the RAG knobs; the serving pipeline gates it through the cached
    # catalog tier-guard verdict before first use.
    "search_tier": None,
    "temperature": 1.0,
    "api_key": "",
}


def generate_auth_key() -> str:
    """Parity with launch_server.py:118-121 (urlsafe random key)."""
    return secrets.token_urlsafe(32)


@dataclass
class DatabaseDef:
    """Parity with the reference Database schema (src/common/schema.py
    Database / DatabaseAuth): a named connection config. Spark-first
    reinterpretation: ``dsn`` is a warehouse DIRECTORY holding vector-store
    parquet dirs (what an Oracle DSN + vector tables is to the reference,
    a parquet warehouse root is to this engine); "connecting" validates the
    directory and scans its catalog sidecars (endpoints.py:124-186)."""

    name: str
    user: str = ""
    password: str = ""
    dsn: str = ""
    wallet_password: str = ""
    wallet_location: str = ""
    config_dir: str = ""
    connected: bool = False
    vector_stores: list = field(default_factory=list)


class _BadBody(Exception):
    """Raised by _body_dict for valid-JSON-but-not-object (or malformed)
    bodies on object routes; mapped to 422 centrally in _route."""


class _TooLarge(Exception):
    """Raised by _body/_raw_upload when Content-Length exceeds the upload
    cap, BEFORE reading the socket; mapped to 413 centrally in _route
    (with close_connection set — the unread body would poison keep-alive)."""


class DbException(Exception):
    """Mirrors server/databases.py DbException (status_code + detail)."""

    def __init__(self, detail: str, status_code: int = 406):
        super().__init__(detail)
        self.status_code = status_code


@dataclass
class OciProfileDef:
    """Parity with schema.OracleCloudSettings (endpoints.py:373-499): one OCI
    auth profile. The object-storage backend is a LocalObjectStore directory
    fake (sources/loaders.py:250) — the real `oci://` path is read by Spark
    through the Hadoop-OCI connector in production, so this HTTP group (like
    the reference's) only stages driver-side files."""

    auth_profile: str = "DEFAULT"
    namespace: str = ""
    tenancy: str = ""
    region: str = ""
    user: str = ""
    fingerprint: str = ""
    key_file: str = ""
    security_token_file: str = ""
    service_endpoint: str = ""
    compartment_id: str = ""


def bootstrap_databases() -> list[DatabaseDef]:
    """Reference bootstrap/database_def.py parity: one DEFAULT connection
    assembled from environment variables (DB_USERNAME / DB_PASSWORD /
    DB_DSN / DB_WALLET_PASSWORD / TNS_ADMIN). Spark-first reinterpretation:
    DB_DSN names the warehouse DIRECTORY the catalog scans. A wallet
    password sets wallet_location to the config dir like the reference."""
    db = DatabaseDef(
        name="DEFAULT",
        user=os.environ.get("DB_USERNAME") or "",
        password=os.environ.get("DB_PASSWORD") or "",
        dsn=os.environ.get("DB_DSN") or "",
        wallet_password=os.environ.get("DB_WALLET_PASSWORD") or "",
        config_dir=os.environ.get("TNS_ADMIN", "tns_admin"),
    )
    if db.wallet_password:
        db.wallet_location = db.config_dir
    return [db]


def bootstrap_oci_profiles(config_file: str | None = None) -> list[OciProfileDef]:
    """Reference bootstrap/oci_def.py parity: parse the OCI CLI config file
    ($OCI_CLI_CONFIG_FILE, default ~/.oci/config — an INI) into one profile
    per section plus DEFAULT; a missing/empty file yields the single empty
    DEFAULT profile, matching the reference's fallback."""
    import configparser

    path = os.path.expanduser(
        config_file or os.environ.get("OCI_CLI_CONFIG_FILE", "~/.oci/config")
    )
    profiles: list[OciProfileDef] = []
    cp = configparser.ConfigParser()
    try:
        found = cp.read(path)
    except configparser.Error:
        found = []
    if found:
        defaults = dict(cp.defaults())
        sections = cp.sections() + (["DEFAULT"] if defaults else [])
        for section in sections:
            data = defaults if section == "DEFAULT" else dict(cp[section])
            profiles.append(
                OciProfileDef(
                    auth_profile=section,
                    tenancy=data.get("tenancy", ""),
                    region=data.get("region", ""),
                    user=data.get("user", ""),
                    fingerprint=data.get("fingerprint", ""),
                    key_file=data.get("key_file", ""),
                    security_token_file=data.get("security_token_file", ""),
                )
            )
    if not profiles:
        profiles = [OciProfileDef()]
    return profiles


# module-level so cloudpickle ships them by reference to executors
def _default_answerer():
    return lambda q: "the passage describes " + q[:60]


def _default_judge():
    # Judge against the ANSWER only — concatenating ref into the haystack
    # made the check vacuously true for every answer.
    return lambda q, ref, ans: ref[:10].lower() in ans.lower()


class ApiServer:
    """Bearer-auth'd HTTP server over a ChatPipeline + config registries.

    ``port=0`` binds an ephemeral port (tests); ``server.port`` reports the
    bound port after ``start()``.
    """

    def __init__(
        self,
        pipeline: ChatPipeline,
        models: Registry | None = None,
        prompts: PromptRegistry | None = None,
        api_key: str | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        spark=None,
        testbed=None,  # operators.testbed.TestbedStore
        catalog=None,  # catalog.VectorStoreCatalog
        databases: list[DatabaseDef] | None = None,
        object_store=None,  # sources.loaders.LocalObjectStore
        oci_profiles: list[OciProfileDef] | None = None,
        staging_root: str | None = None,
        max_upload_bytes: int = 64 * 1024 * 1024,
    ):
        self.pipeline = pipeline
        self.models = models if models is not None else Registry("model")
        self.prompts = prompts if prompts is not None else PromptRegistry("prompt")
        self.api_key = api_key or generate_auth_key()
        # reference bootstrap (bootstrap/settings_def.py main): settings
        # records for clients 'default' and 'server' exist at startup, each
        # carrying its own client id (schema.Settings.client)
        self.settings: dict[str, dict] = {
            c: {**DEFAULT_SETTINGS, "client": c} for c in ("default", "server")
        }
        # keys each client has EXPLICITLY set via PATCH: the chat overlay
        # applies only these, so merely creating a settings record (POST
        # copies DEFAULT_SETTINGS) cannot override a server-configured
        # pipeline (e.g. rag_enabled=False by design) with API defaults
        self.settings_touched: dict[str, set] = {}
        self.spark, self.testbed, self.catalog = spark, testbed, catalog
        self.databases = databases if databases is not None else []
        self.object_store = object_store
        self.oci_profiles = oci_profiles if oci_profiles is not None else [OciProfileDef()]
        self.staging_root = staging_root or os.path.join(tempfile.gettempdir(), "oaim_api_staging")
        self.max_upload_bytes = max_upload_bytes
        self._host, self._port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle -----------------------------------------------------------
    def start(self) -> "ApiServer":
        api = self

        class Handler(_ApiHandler):
            server_ctx = api

        self._httpd = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    @property
    def port(self) -> int:
        assert self._httpd is not None, "server not started"
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None


class _ApiHandler(BaseHTTPRequestHandler):
    server_ctx: ApiServer  # injected by ApiServer.start

    protocol_version = "HTTP/1.1"

    # -- plumbing ------------------------------------------------------------
    def log_message(self, fmt, *args):  # silence default stderr access log
        pass

    def _json(self, status: int, payload) -> None:
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _raw_upload(self) -> bytes:
        """Body bytes for the multipart upload routes, bounded BEFORE the
        read: the reference stack caps uploads, and an unchecked
        Content-Length would let one oversized (authorized) request buffer
        arbitrary bytes into server memory. Over-cap raises _TooLarge ->
        413 centrally in _route (one cap contract shared with _body)."""
        n = int(self.headers.get("Content-Length") or 0)
        cap = self.server_ctx.max_upload_bytes
        if n > cap:
            raise _TooLarge(f"upload exceeds the {cap}-byte limit")
        self._body_read = True
        return self.rfile.read(n) if n else b""

    def _body(self):
        # same pre-read cap as _raw_upload: the memory-DoS a 2 GB
        # Content-Length poses is route-independent, so the guard lives in
        # the shared body-read path, not only on the multipart routes
        n = int(self.headers.get("Content-Length") or 0)
        if n > self.server_ctx.max_upload_bytes:
            raise _TooLarge(
                f"request body exceeds the {self.server_ctx.max_upload_bytes}-byte limit"
            )
        self._body_read = True
        raw = self.rfile.read(n) if n else b""
        if not raw:
            return {}
        try:
            return json.loads(raw)
        except json.JSONDecodeError:
            return None

    def _body_dict(self) -> dict:
        """JSON body for routes whose contract is an object. An empty body
        is {} (probe/defaults semantics); a NON-OBJECT body (bare list,
        string, malformed JSON) raises _BadBody -> a clean 422 from _route,
        matching FastAPI's validation error on the reference — neither an
        AttributeError that kills the handler thread nor a silent {} that
        turns a malformed PATCH into a 200 no-op."""
        body = self._body()
        if body is None or not isinstance(body, dict):
            raise _BadBody("request body must be a JSON object")
        return body

    def _client(self) -> str:
        return self.headers.get("client") or "default"

    def _authorized(self) -> bool:
        """403 when the bearer header is absent/malformed, 401 when the token
        is wrong — the HTTPBearer/verify_key split the reference tests assert
        (test_endpoints_embed.py:64-72)."""
        header = self.headers.get("Authorization") or ""
        if not header.startswith("Bearer "):
            self._json(403, {"detail": "Not authenticated"})
            return False
        if header.removeprefix("Bearer ") != self.server_ctx.api_key:
            self._json(401, {"detail": "Invalid API Key"})
            return False
        return True

    # -- routing -------------------------------------------------------------
    NOAUTH = {("GET", "/v1/liveness"), ("GET", "/v1/readiness")}

    def _route(self, method: str) -> None:
        self._body_read = False
        try:
            self._route_request(method)
        finally:
            self._drain_body()

    def _drain_body(self) -> None:
        """Read the body of a request whose route answered without reading
        it (POST /v1/settings, auth failures, early 404s): on a keep-alive
        connection the unread bytes would be parsed as the next request. A
        body over the upload cap is not read; the connection closes
        instead."""
        if self._body_read:
            return
        try:
            n = int(self.headers.get("Content-Length") or 0)
        except ValueError:
            n = -1
        if n < 0 or n > self.server_ctx.max_upload_bytes:
            self.close_connection = True
        elif n:
            self.rfile.read(n)

    def _route_request(self, method: str) -> None:
        url = urlparse(self.path)
        path = unquote(url.path).rstrip("/")
        qs = {k: v[0] for k, v in parse_qs(url.query).items()}
        if (method, path) in self.NOAUTH:
            return self._json(200, {"status": "alive" if path.endswith("liveness") else "ready"})
        if not self._authorized():
            return None
        parts = [p for p in path.split("/") if p]
        try:
            return self._dispatch(method, parts, qs)
        except DuplicateNameError as ex:
            return self._json(409, {"detail": str(ex)})
        except _BadBody as ex:
            return self._json(422, {"detail": str(ex)})
        except _TooLarge as ex:
            self.close_connection = True
            return self._json(413, {"detail": str(ex)})
        except KeyError as ex:
            return self._json(404, {"detail": str(ex)})

    def do_GET(self):  # noqa: N802
        self._route("GET")

    def do_POST(self):  # noqa: N802
        self._route("POST")

    def do_PATCH(self):  # noqa: N802
        self._route("PATCH")

    def do_DELETE(self):  # noqa: N802
        self._route("DELETE")

    # -- handlers ------------------------------------------------------------
    def _dispatch(self, method: str, parts: list[str], qs: dict) -> None:
        api = self.server_ctx
        if parts[:2] == ["v1", "chat"]:
            return self._chat(method, parts[2] if len(parts) > 2 else "", api)
        if parts[:2] == ["v1", "models"]:
            return self._models(method, parts[2:], qs, api)
        if parts[:2] == ["v1", "prompts"]:
            return self._prompts(method, parts[2:], qs, api)
        if parts[:2] == ["v1", "settings"]:
            return self._settings(method, qs, api)
        if parts[:2] == ["v1", "testbed"]:
            return self._testbed(method, parts[2:], qs, api)
        if parts[:2] == ["v1", "embed"]:
            return self._embed(method, parts[2:], api)
        if parts[:2] == ["v1", "databases"]:
            return self._databases(method, parts[2:], api)
        if parts[:2] == ["v1", "oci"]:
            return self._oci(method, parts[2:], api)
        return self._json(404, {"detail": "Not Found"})

    # Hard ceiling on rows any HTTP route may materialize on the driver: an
    # HTTP facade inherently collects, but a 10M-row store listing must not
    # take the server process down — mirrors the testbed's max_failures cap.
    MAX_WIRE_ROWS = 10_000

    def _df_json(self, df) -> list:
        rows = [json.loads(r) for r in df.limit(self.MAX_WIRE_ROWS + 1).toJSON().collect()]
        if len(rows) > self.MAX_WIRE_ROWS:
            # truncation is explicit, not silent: the sentinel row tells the
            # client the listing was capped (page via query filters instead)
            rows = rows[: self.MAX_WIRE_ROWS]
            rows.append({"_truncated": True, "_max_rows": self.MAX_WIRE_ROWS})
        return rows

    def _testbed(self, method: str, rest: list[str], qs: dict, api: ApiServer) -> None:
        # endpoints.py:743-913 testbed group
        if api.spark is None or api.testbed is None:
            return self._json(503, {"detail": "Spark testbed backend not configured."})
        spark, store = api.spark, api.testbed
        leaf = rest[0] if rest else ""
        if method == "GET" and leaf == "testsets":
            sets = store.get_testsets(spark)
            return self._json(200, [] if sets is None else self._df_json(sets))
        if method == "GET" and leaf == "testset_qa":
            return self._json(200, self._df_json(store.get_testset_qa(spark, qs.get("tid", ""))))
        if method == "POST" and leaf == "testset_load":
            # reference endpoints.py:785-806 testbed_upsert_testsets takes
            # List[UploadFile] of JSONL/JSON multipart; the JSON
            # {"qa": [...]} body remains supported beside it
            ctype_full = self.headers.get("Content-Type") or ""
            if ctype_full.split(";")[0].strip().lower() == "multipart/form-data":
                raw = self._raw_upload()
                parts = _parse_multipart_files(raw, ctype_full)
                if not parts:
                    return self._json(
                        422, {"detail": "malformed multipart body or no file parts"}
                    )
                name, rows = qs.get("name"), []
                for _fname, payload in parts:
                    parsed = _parse_qa_payload(payload)
                    if parsed is None:
                        return self._json(
                            422, {"detail": f"file {_fname!r} is not JSON/JSONL QA rows"}
                        )
                    rows.extend(parsed)
            else:
                body = self._body_dict()
                name, rows = qs.get("name") or body.get("name"), body.get("qa") or []
            if not name or not rows:
                return self._json(422, {"detail": "name and qa rows required"})
            if not all(isinstance(r, dict) for r in rows):
                return self._json(422, {"detail": "each qa row must be an object"})
            qa = spark.createDataFrame(
                [(r.get("question", ""), r.get("reference_answer", ""),
                  r.get("reference_context", ""), r.get("topic", "general")) for r in rows],
                "question STRING, reference_answer STRING, reference_context STRING, topic STRING",
            )
            tid = store.upsert_testset(spark, name, qa)
            return self._json(200, {"tid": tid,
                                    "qa": self._df_json(store.get_testset_qa(spark, tid))})
        if method == "POST" and leaf == "testset_generate":
            # endpoints.py:808-864 testbed_generate_qa: upload files, split
            # into a knowledge base, generate `questions` Q&A rows, upsert as
            # a named test set and return its QA. The reference generates
            # via Giskard+LLM; this engine uses its deterministic
            # generate_testset (testbed §3.3 companion path). ll_model /
            # embed_model are validated against the registry when given —
            # unknown names 404 like the reference's model filter.
            from oaim_sandbox_spark.operators.split import split_fixed
            from oaim_sandbox_spark.operators.testbed import generate_testset

            ctype_full = self.headers.get("Content-Type") or ""
            if ctype_full.split(";")[0].strip().lower() != "multipart/form-data":
                return self._json(422, {"detail": "multipart/form-data file upload required"})
            raw = self._raw_upload()
            parts = _parse_multipart_files(raw, ctype_full)
            if not parts:
                return self._json(422, {"detail": "malformed multipart body or no file parts"})
            name = qs.get("name")
            if not name:
                return self._json(422, {"detail": "name required"})
            try:
                questions = int(qs.get("questions", 2))
            except ValueError:
                return self._json(422, {"detail": "questions must be an integer"})
            if questions <= 0:
                return self._json(422, {"detail": "questions must be positive"})
            for mkey in ("ll_model", "embed_model"):
                mname = qs.get(mkey)
                if mname and api.models.get(mname) is None:
                    return self._json(404, {"detail": f"model {mname!r} not found"})
            docs = spark.createDataFrame(
                [(fname, payload.decode("utf-8", errors="replace"), fname)
                 for fname, payload in parts],
                "doc_id STRING, text STRING, source STRING",
            )
            chunks = split_fixed(docs, text_col="text", id_col="doc_id",
                                 chunk_size=400, chunk_overlap=0)
            qa_gen = generate_testset(chunks, n_questions=questions * len(parts))
            qa = qa_gen.select("question", "reference_answer", "reference_context", "topic")
            tid = store.upsert_testset(spark, name, qa)
            return self._json(200, {"tid": tid,
                                    "qa": self._df_json(store.get_testset_qa(spark, tid))})
        if method == "DELETE" and leaf == "testset_delete" and len(rest) == 2:
            store.delete_testset(spark, rest[1])
            return self._json(200, {"message": f"TestSet: {rest[1]} deleted."})
        if method == "GET" and leaf == "evaluations":
            evals = store.get_evaluations(spark, qs.get("tid", ""))
            return self._json(200, [] if evals is None else self._df_json(evals))
        if method == "GET" and leaf == "evaluation":
            # endpoints.py:762-767 singular form: the FULL stored report
            # (correctness + by_topic + bounded failures + settings) by eid
            try:
                return self._json(200, store.get_evaluation(spark, qs.get("eid", "")))
            except KeyError as ex:
                return self._json(404, {"detail": str(ex)})
        if method == "POST" and leaf == "evaluate":
            from oaim_sandbox_spark.operators.testbed import evaluate_testset

            body = self._body_dict()
            tid = qs.get("tid") or body.get("tid") or ""
            if not tid:
                return self._json(422, {"detail": "tid required"})
            judge = qs.get("judge") or body.get("judge")
            if judge is not None and not isinstance(judge, str):
                return self._json(422, {"detail": "judge must be a model name string"})
            if judge and api.models.get(judge) is None:
                # reference testbed_evaluate_qa takes a judge model name and
                # resolves it through the model filter — unknown names fail
                return self._json(404, {"detail": f"model {judge!r} not found"})
            # unknown tid: 404 (the reference raises through process_report);
            # evaluating a missing/typoed set would persist a bogus 0.0 report
            sets = store.get_testsets(spark)
            known = (
                sets is not None
                and len(sets.filter(sets["tid"] == tid).head(1)) > 0
            )
            if not known:
                return self._json(404, {"detail": f"testset {tid!r} not found"})
            qa = store.get_testset_qa(spark, tid)
            # the engine's judge is deterministic (the reference resolves an
            # LLM judge client; no live model exists in-container) — the
            # requested judge name is validated above and RECORDED in the
            # stored report settings so evaluations are attributable
            report = evaluate_testset(
                spark, qa, _default_answerer, _default_judge, tid=tid,
                settings={"judge": judge} if judge else None,
            )
            eid = store.insert_evaluation(spark, report)
            return self._json(200, {"eid": eid, "tid": tid,
                                    "correctness": report.correctness,
                                    "by_topic": report.by_topic,
                                    "failures": report.failures})
        return self._json(404, {"detail": "Not Found"})

    def _staging_dir(self, api: ApiServer) -> str | None:
        """Per-client embedding staging dir (endpoints.py:482-499
        get_temp_directory(client, 'embedding')). Returns None AFTER writing
        an error response when the client header would escape the staging
        root (the client id becomes a directory component)."""
        client = self._client()
        if not client or "/" in client or "\\" in client or ".." in client:
            self._json(422, {"detail": f"invalid client name: {client!r}"})
            return None
        return os.path.join(api.staging_root, client, "embedding")

    def _embed(self, method: str, rest: list[str], api: ApiServer) -> None:
        # endpoints.py:190-306 embed group (staging + split_embed + drop vs).
        # The two staging routes are pure driver-side file I/O and work
        # without a Spark backend; the 503 guard protects only the routes
        # that actually run queries.
        if method == "POST" and rest == ["web", "store"]:
            # S6 wire route (endpoints.py:199-228 store_web_file): download
            # each URL into the client's embedding staging dir with
            # content-type dispatch; unprocessable content type wipes the
            # staging dir and returns 500, like the reference.
            from oaim_sandbox_spark.sources.loaders import stage_web_files

            urls = self._body()
            if not isinstance(urls, list) or not urls or not all(isinstance(u, str) for u in urls):
                return self._json(422, {"detail": "request body must be a non-empty list of URLs"})
            directory = self._staging_dir(api)
            if directory is None:
                return
            try:
                staged = stage_web_files(urls, directory)
            except ValueError as ex:
                import shutil

                shutil.rmtree(directory, ignore_errors=True)
                return self._json(500, {"detail": str(ex)})
            except Exception as ex:  # network/HTTP failure
                return self._json(500, {"detail": f"download failed: {ex}"})
            return self._json(200, [os.path.basename(p) for p in staged])
        if method == "POST" and rest == ["local", "store"]:
            # S7 wire route (endpoints.py:230-245 store_local_file). Two
            # accepted bodies: the reference's multipart/form-data
            # UploadFile list (an off-the-shelf reference client works
            # unmodified), or a JSON list [{"filename",
            # "content_b64"|"text"}]. Same store-to-staging-dir behavior,
            # same returned file-name list either way.
            import base64

            from oaim_sandbox_spark.sources.loaders import stage_local_files

            ctype_full = self.headers.get("Content-Type") or ""
            if ctype_full.split(";")[0].strip().lower() == "multipart/form-data":
                raw = self._raw_upload()
                pairs = _parse_multipart_files(raw, ctype_full)
                if not pairs:
                    return self._json(
                        422, {"detail": "malformed multipart body or no file parts"}
                    )
            else:
                files = self._body()
                if not isinstance(files, list) or not files:
                    return self._json(422, {"detail": "request body must be a non-empty list of files"})
                pairs = []
                for f in files:
                    name = (f or {}).get("filename") if isinstance(f, dict) else None
                    if not name:
                        return self._json(422, {"detail": "each file needs a filename"})
                    if "content_b64" in f:
                        try:
                            payload = base64.b64decode(f["content_b64"], validate=True)
                        except Exception:
                            return self._json(422, {"detail": f"invalid base64 for {name!r}"})
                    else:
                        payload = str(f.get("text", "")).encode("utf-8")
                    pairs.append((name, payload))
            directory = self._staging_dir(api)
            if directory is None:
                return
            try:
                staged = stage_local_files(pairs, directory)
            except ValueError as ex:
                return self._json(422, {"detail": str(ex)})
            return self._json(200, [os.path.basename(p) for p in staged])
        if api.spark is None or api.catalog is None:
            return self._json(503, {"detail": "Spark embed backend not configured."})
        spark = api.spark
        if method == "DELETE" and len(rest) == 1:
            try:
                api.catalog.drop_store(rest[0])
            except (KeyError, FileNotFoundError) as ex:
                return self._json(404, {"detail": str(ex)})
            return self._json(200, {"message": f"Vector Store: {rest[0]} dropped."})
        if method == "POST" and not rest:
            from oaim_sandbox_spark.catalog import VectorStorage
            from oaim_sandbox_spark.operators.embed import mock_embed_column
            from oaim_sandbox_spark.operators.split import split_fixed

            body = self._body_dict()
            docs = body.get("documents") or []
            if docs and not all(isinstance(d, dict) for d in docs):
                return self._json(422, {"detail": "each document must be an object"})
            staged_dir = None
            if docs:
                df = spark.createDataFrame(
                    [(str(d.get("id", i)), d.get("text", ""), d.get("source", "upload"))
                     for i, d in enumerate(docs)],
                    "doc_id STRING, text STRING, source STRING",
                )
            else:
                # reference split_embed (endpoints.py:251-306): no inline
                # documents — read the client's staged files (populated by
                # the web/local store routes), 404 when the folder is
                # missing or empty, extension-dispatch each file, and wipe
                # the staging dir when done (the reference's finally:).
                from pyspark.sql import functions as F

                from oaim_sandbox_spark.sources.loaders import load_documents

                staged_dir = self._staging_dir(api)
                if staged_dir is None:
                    return
                client = self._client()
                if not os.path.isdir(staged_dir):
                    return self._json(
                        404, {"detail": f"Client: {client} documents folder not found."}
                    )
                files = sorted(
                    os.path.join(staged_dir, f)
                    for f in os.listdir(staged_dir)
                    if os.path.isfile(os.path.join(staged_dir, f))
                )
                if not files:
                    return self._json(
                        404, {"detail": f"Client: {client} no files found in folder."}
                    )
                parts = []
                for path in files:
                    try:
                        loaded = load_documents(spark, path)
                    except ValueError as ex:  # unsupported extension -> ref's 500
                        return self._json(500, {"detail": str(ex)})
                    parts.append(
                        loaded.select(
                            F.col("doc_id").cast("string").alias("doc_id"),
                            "text",
                            F.col("source").cast("string").alias("source"),
                        )
                    )
                df = parts[0]
                for p in parts[1:]:
                    df = df.unionByName(p)
            chunk_size = int(body.get("chunk_size", 200))
            chunk_overlap = int(body.get("chunk_overlap", 20))
            chunks = split_fixed(df, text_col="text", id_col="doc_id",
                                 chunk_size=chunk_size, chunk_overlap=chunk_overlap)
            embedded = mock_embed_column(chunks, text_col="text",
                                         dim=int(body.get("dim", 64)))
            vs = VectorStorage(alias=body.get("alias", "api"),
                               model=body.get("model", "mock-embed"),
                               chunk_size=chunk_size, chunk_overlap=chunk_overlap)
            name = api.catalog.write_store(embedded, vs)
            n = api.catalog.read_store(name).count()
            if staged_dir is not None:
                import shutil

                # reference's finally: the staging dir is consumed by the
                # embed (wiped only after the store write succeeded — a
                # failed embed keeps the staged files for retry, which
                # improves on the reference's unconditional cleanup)
                shutil.rmtree(staged_dir, ignore_errors=True)
            return self._json(200, {"message": f"{n} chunks embedded.", "vector_store": name})
        return self._json(404, {"detail": "Not Found"})

    # -- databases group (endpoints.py:124-186) ------------------------------
    def _db_connect(self, db: DatabaseDef, api: ApiServer) -> None:
        """'Connect' = validate the warehouse dir + scan its vector stores
        (what databases.connect + embedding.get_vs do against Oracle)."""
        if not db.dsn or not os.path.isdir(db.dsn):
            raise DbException(f"unable to connect: dsn {db.dsn!r} is not a warehouse directory")
        if api.spark is not None:
            from oaim_sandbox_spark.catalog import VectorStoreCatalog

            try:
                db.vector_stores = [
                    asdict(v) for v in VectorStoreCatalog(api.spark, root=db.dsn).list_stores()
                ]
            except Exception as ex:  # corrupt sidecar etc. -> connect failure,
                # not a dropped connection (the list endpoint skips such dbs)
                raise DbException(f"catalog scan failed: {ex}") from ex
        else:
            db.vector_stores = []

    def _databases(self, method: str, rest: list[str], api: ApiServer) -> None:
        if method == "GET" and not rest:
            # databases_list: populate vector_stores per connectable db,
            # silently skipping the unreachable ones (endpoints.py:125-136)
            for db in api.databases:
                try:
                    self._db_connect(db, api)
                except DbException:
                    continue
            return self._json(200, [mask_sensitive(asdict(db)) for db in api.databases])
        if len(rest) == 1:
            name = rest[0]
            db = next((d for d in api.databases if d.name == name), None)
            if db is None:
                return self._json(404, {"detail": f"Database: {name} not found."})
            if method == "GET":
                # databases_get: 406 when the config exists but won't connect
                try:
                    self._db_connect(db, api)
                except DbException as ex:
                    return self._json(406, {"detail": f"Database: {name} {ex}."})
                return self._json(200, mask_sensitive(asdict(db)))
            if method == "PATCH":
                # databases_update: test the NEW creds before adopting them;
                # success makes this the only connected (default) database
                body = self._body_dict()
                trial = replace(
                    db,
                    user=body.get("user", db.user),
                    password=body.get("password", db.password),
                    dsn=body.get("dsn", db.dsn),
                    wallet_password=body.get("wallet_password", db.wallet_password),
                )
                try:
                    self._db_connect(trial, api)
                except DbException as ex:
                    db.connected = False
                    return self._json(ex.status_code, {"detail": f"Database: {name} {ex}."})
                db.user, db.password = trial.user, trial.password
                db.dsn, db.wallet_password = trial.dsn, trial.wallet_password
                db.vector_stores, db.connected = trial.vector_stores, True
                for other in api.databases:
                    if other.name != name:
                        other.connected = False
                return self._json(200, mask_sensitive(asdict(db)))
        return self._json(404, {"detail": "Not Found"})

    # -- oci group (endpoints.py:373-499) ------------------------------------
    def _oci_profile(self, name: str, api: ApiServer) -> OciProfileDef | None:
        return next((p for p in api.oci_profiles if p.auth_profile == name), None)

    def _oci(self, method: str, rest: list[str], api: ApiServer) -> None:
        store = api.object_store
        if method == "GET" and not rest:
            return self._json(200, [asdict(p) for p in api.oci_profiles])
        if method == "GET" and len(rest) == 1:
            prof = self._oci_profile(rest[0], api)
            if prof is None:
                return self._json(404, {"detail": f"OCI: Profile {rest[0]} not found."})
            return self._json(200, asdict(prof))
        if method == "GET" and len(rest) == 2 and rest[0] == "compartments":
            prof = self._oci_profile(rest[1], api)
            if prof is None:
                return self._json(404, {"detail": f"OCI: Profile {rest[1]} not found."})
            if store is None:
                return self._json(503, {"detail": "OCI object store not configured."})
            # the directory fake is single-compartment: its root is the one
            # compartment, named after the root dir (oci.py get_compartments
            # returns a name->ocid dict)
            name = os.path.basename(store.root.rstrip("/")) or "root"
            return self._json(200, {name: f"ocid1.compartment.localfake..{name}"})
        if method == "GET" and len(rest) == 3 and rest[0] == "buckets":
            compartment_ocid, profile = rest[1], rest[2]
            prof = self._oci_profile(profile, api)
            if prof is None:
                return self._json(404, {"detail": f"OCI: Profile {profile} not found."})
            if not compartment_ocid.startswith("ocid1."):
                # reference validates via pydantic OracleResource -> 422
                return self._json(422, {"detail": f"Invalid OCID: {compartment_ocid}"})
            if store is None:
                return self._json(503, {"detail": "OCI object store not configured."})
            return self._json(200, store.list_buckets())
        if method == "GET" and len(rest) == 3 and rest[0] == "objects":
            bucket, profile = rest[1], rest[2]
            prof = self._oci_profile(profile, api)
            if prof is None:
                return self._json(404, {"detail": f"OCI: Profile {profile} not found."})
            if store is None:
                return self._json(503, {"detail": "OCI object store not configured."})
            if bucket not in store.list_buckets():
                return self._json(404, {"detail": f"Bucket: {bucket} not found."})
            return self._json(200, store.list_objects(bucket))
        if method == "PATCH" and len(rest) == 1:
            prof = self._oci_profile(rest[0], api)
            if prof is None:
                return self._json(404, {"detail": f"OCI: Profile {rest[0]} not found."})
            if store is None:
                # namespace lookup failed -> 401, matching the reference's
                # OciException -> 401 on oci_profile_update
                return self._json(401, {"detail": "OCI: namespace lookup failed (no object store)."})
            body = self._body_dict()
            prof.namespace = os.path.basename(store.root.rstrip("/")) or "local"
            for key in ("tenancy", "region", "user", "fingerprint", "key_file",
                        "security_token_file", "service_endpoint", "compartment_id"):
                if body.get(key):
                    setattr(prof, key, body[key])
            if prof.service_endpoint and prof.compartment_id:
                # OCI GenAI side effect: enable OCI-provider models and point
                # them at the service endpoint (endpoints.py:466-476)
                for m in api.models.list():
                    if "oci" in m.provider.lower():
                        api.models.update(m.name, replace(m, enabled=True, url=prof.service_endpoint))
            return self._json(200, asdict(prof))
        if method == "POST" and len(rest) == 4 and rest[:2] == ["objects", "download"]:
            bucket, profile = rest[2], rest[3]
            prof = self._oci_profile(profile, api)
            if prof is None:
                return self._json(404, {"detail": f"OCI: Profile {profile} not found."})
            if store is None:
                return self._json(503, {"detail": "OCI object store not configured."})
            names = self._body()
            if not isinstance(names, list) or not names:
                return self._json(422, {"detail": "request body must be a non-empty list of object names"})
            # traversal guard: object names are bucket-relative paths, never
            # absolute and never climbing out of the bucket; the client id
            # becomes a directory component, so it gets the same treatment
            bad = [n for n in names if not isinstance(n, str) or n.startswith(("/", "\\"))
                   or ".." in n.split("/") or ".." in n.split("\\")]
            client = self._client()
            if bad or "/" in client or "\\" in client or ".." in client:
                return self._json(422, {"detail": f"invalid object or client name: {(bad or [client])[0]!r}"})
            # files land in the client's embedding staging dir
            # (endpoints.py:482-499 get_temp_directory(client, 'embedding'))
            directory = os.path.join(api.staging_root, client, "embedding")
            staged: list[str] = []
            try:
                for object_name in names:
                    dest = store.get_object(directory, object_name, bucket)
                    base = os.path.basename(dest)
                    if base not in staged:
                        staged.append(base)
            except FileNotFoundError as ex:
                return self._json(404, {"detail": f"Object not found: {ex}"})
            # THIS request's staged files (the reference lists the whole
            # cumulative dir, which returns stale entries on the 2nd call)
            return self._json(200, staged)
        return self._json(404, {"detail": "Not Found"})

    @staticmethod
    def _client_overrides(api: ApiServer, client: str) -> dict | None:
        rec = api.settings.get(client)
        touched = api.settings_touched.get(client)
        if not rec or not touched:
            return None
        return {k: rec[k] for k in touched if k in rec} or None

    def _chat(self, method: str, leaf: str, api: ApiServer) -> None:
        client = self._client()
        if method == "POST" and leaf == "completions":
            # endpoints.py:693-704 chat_post
            body = self._body_dict()
            question = body.get("message") or body.get("question") or ""
            # the client's EXPLICITLY-SET settings keys apply to THIS
            # request (reference parity: per-client RAG knobs incl.
            # rag_enabled, top_k, search_type, search_tier drive the chain
            # per call); configuration errors the pipeline rejects (refused
            # tier, missing gate, non-cosine tier metric) map to 422, not a
            # 500 traceback
            try:
                resp = api.pipeline.chat(
                    question, client_id=client,
                    settings_overrides=self._client_overrides(api, client),
                )
            except ValueError as ex:
                return self._json(422, {"detail": str(ex)})
            return self._json(200, asdict(resp))
        if method == "POST" and leaf == "streams":
            # endpoints.py:706-717 chat_stream: chunked token stream ending
            # with the [stream_finished] sentinel
            body = self._body_dict()
            question = body.get("message") or body.get("question") or ""
            # pipeline.stream is a LAZY generator: per-client settings errors
            # (refused search_tier, missing tier_gate, non-cosine tier
            # metric) raise on FIRST iteration. Pull the first token BEFORE
            # committing the 200 + chunked headers so those map to the same
            # 422 the completions route returns instead of an aborted
            # chunked body (ADVICE r8 medium).
            gen = api.pipeline.stream(
                question, client_id=client,
                settings_overrides=self._client_overrides(api, client),
            )
            try:
                first = next(gen, None)
            except ValueError as ex:
                return self._json(422, {"detail": str(ex)})
            self.send_response(200)
            self.send_header("Content-Type", "application/octet-stream")
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()

            def chunks():
                if first is not None:
                    yield first
                yield from gen

            for token in chunks():
                data = token.encode()
                self.wfile.write(f"{len(data):X}\r\n".encode() + data + b"\r\n")
            self.wfile.write(b"0\r\n\r\n")
            return None
        if method == "GET" and leaf == "history":
            # endpoints.py:719-744 chat_history (empty history -> the
            # reference's apology message, role system)
            msgs = api.pipeline.history(client)
            if not msgs:
                return self._json(
                    200,
                    [{"role": "system",
                      "content": "I'm sorry, I have no history of this conversation"}],
                )
            return self._json(200, [{"role": m.role, "content": m.content} for m in msgs])
        return self._json(404, {"detail": "Not Found"})

    def _models(self, method: str, rest: list[str], qs: dict, api: ApiServer) -> None:
        # endpoints.py:311-371 models CRUD
        if method == "GET" and not rest:
            enabled = None if "enabled" not in qs else qs["enabled"] in ("true", "1")
            items = api.models.list(type=qs.get("type"), enabled=enabled)
            return self._json(200, [asdict(m) for m in items])
        if method == "POST" and not rest:
            body = self._body()
            if not body or "name" not in body:
                return self._json(422, {"detail": "name required"})
            allowed = {f.name for f in fields(ModelDef)}
            model = ModelDef(**{k: v for k, v in body.items() if k in allowed})
            api.models.create(model)
            return self._json(200, asdict(model))
        name = "/".join(rest)  # model names may contain '/' ({name:path})
        model = api.models.get(name)
        if method == "GET":
            if model is None:
                return self._json(404, {"detail": f"Model: {name} not found."})
            return self._json(200, asdict(model))
        if method == "PATCH":
            if model is None:
                return self._json(404, {"detail": f"Model: {name} not found."})
            body = self._body_dict()
            allowed = {f.name for f in fields(ModelDef)}
            updated = replace(model, **{k: v for k, v in body.items() if k in allowed and k != "name"})
            api.models.update(name, updated)
            return self._json(200, asdict(updated))
        if method == "DELETE":
            api.models.delete(name)  # KeyError -> 404 via _route
            return self._json(200, {"message": f"Model: {name} deleted."})
        return self._json(404, {"detail": "Not Found"})

    def _prompts(self, method: str, rest: list[str], qs: dict, api: ApiServer) -> None:
        # endpoints.py:504-552 prompts list/get/update
        if method == "GET" and not rest:
            items = api.prompts.list(category=qs.get("category"))
            return self._json(200, [asdict(p) for p in items])
        if len(rest) == 2:
            category, name = rest
            prompt = api.prompts.get(name, category=category)
            if prompt is None:
                return self._json(404, {"detail": f"Prompt: {category}:{name} not found."})
            if method == "GET":
                return self._json(200, asdict(prompt))
            if method == "PATCH":
                body = self._body_dict()
                updated = PromptDef(name=name, category=category,
                                    prompt=body.get("prompt", prompt.prompt))
                api.prompts.update(name, updated, category=category)
                return self._json(200, asdict(updated))
        return self._json(404, {"detail": "Not Found"})

    def _settings(self, method: str, qs: dict, api: ApiServer) -> None:
        # endpoints.py:554-586 settings get/update/create (client-keyed)
        client = qs.get("client") or self._client()
        if method == "GET":
            if client not in api.settings:
                return self._json(404, {"detail": f"Client: {client} not found."})
            return self._json(200, mask_sensitive(api.settings[client]))
        if method == "POST":
            if client in api.settings:
                return self._json(409, {"detail": f"Client: {client} already exists."})
            api.settings[client] = {**DEFAULT_SETTINGS, "client": client}
            api.settings_touched[client] = set()
            return self._json(200, mask_sensitive(api.settings[client]))
        if method == "PATCH":
            if client not in api.settings:
                return self._json(404, {"detail": f"Client: {client} not found."})
            body = self._body_dict()
            # RagSettings-shaped keys are validated at WRITE time: these
            # values feed the chat pipeline per request from this round on,
            # and a string top_k must fail here with a 422, not 500 a later
            # chat call mid-plan
            from oaim_sandbox_spark.serving.chat import invalid_rag_overrides

            bad = invalid_rag_overrides(body)
            if bad:
                return self._json(
                    422, {"detail": f"invalid value type for settings key(s): {sorted(bad)}"}
                )
            changed = diff_settings(api.settings[client], {**api.settings[client], **body})
            api.settings[client].update(body)
            api.settings_touched.setdefault(client, set()).update(body.keys())
            return self._json(200, {"settings": mask_sensitive(api.settings[client]),
                                    "changed": changed})
        return self._json(404, {"detail": "Not Found"})
