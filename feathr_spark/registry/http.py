"""HTTP layer over :class:`~feathr_spark.registry.api.RegistryApi`.

Wire-compatible shim for the reference registry's REST surface: the
poem-openapi route table in
/root/reference/registry/raft-registry/src/network/api_v2.rs (paths) is
mounted under ``{api_base}/v1`` and ``{api_base}/v2`` with
``api_base=/api`` by default, exactly as
/root/reference/registry/feathr-registry/src/main.rs:150-205 nests it,
plus the unversioned ``/version`` probe (main.rs:192-204).

Implementation is stdlib-only (``http.server``). :class:`RestHandler`
is the one request front end of both registry servers: it answers the
``/version`` probe, strips the ``{api_base}/v{1,2}`` prefix, parses the
JSON body (400 when malformed), matches the route to a
``FeathrApiRequest``-shaped dict (the enum-variant vocabulary of
/root/reference/registry/registry-api/src/api_provider.rs:20-169),
extracts the caller's credential, and maps errors to status codes (403
for a denial, 404 for what is not found, 400 otherwise, 201 for a
create). Each server supplies only the ``(request, credential) ->
result`` callable that runs the parsed request: :class:`RegistryHttpServer`
calls ``RegistryApi.handle`` under a dispatch lock; a Raft node
(``raft_http.RaftRegistryServer``) reads from its local replica and
writes through the Raft leader. The front end holds no business logic,
mirroring how the reference's poem handlers only build a request and
forward it.

RBAC routes (``/userroles``, ``/users/{user}/userroles/add``) follow
api_v2.rs:911-983; the principal arrives either as a VERIFIED
``Authorization: Bearer`` JWT (pass a :class:`~.token.TokenDecoder` —
RS256/HS256 signature + nbf/exp validation and the reference's
claims→credential mapping, rbac_middleware.rs:31-58; bad tokens are
401) or via the ``x-registry-credential`` debug header (the
reference's ``x-feathr-debug-token`` path, rbac_middleware.rs:68-84,
on by default for in-process use, disable with
``debug_credentials=False``). Raft management routes (/raft-vote,
/raft-append, /raft-snapshot, /init, /add-learner, /change-membership,
/metrics, /handle-request, /handle-leader-request) exist only on a Raft
node; this single-node server returns 404 for them.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional, Tuple
from urllib.parse import parse_qs, urlparse

from .api import RegistryApi
from .catalog import RegistryError
from .rbac import PermissionDenied
from .token import AuthError, TokenDecoder, credential_from_claims

# (method, path-regex, request-type, path-param names). Paths are relative
# to the mounted {api_base}/v{1,2} prefix; regexes mirror
# raft-registry/src/network/api_v2.rs oai(path=...) declarations.
_SEG = r"([^/]+)"
_ROUTES = [
    ("GET", r"/projects", "GetProjects", ()),
    ("POST", r"/projects", "CreateProject", ()),
    ("GET", rf"/projects/{_SEG}", "GetProject", ("id_or_name",)),
    ("GET", rf"/projects/{_SEG}/lineage", "GetProjectLineage",
     ("id_or_name",)),
    ("GET", rf"/projects/{_SEG}/features", "GetProjectFeatures",
     ("project_id_or_name",)),
    ("GET", rf"/projects/{_SEG}/datasources", "GetProjectDataSources",
     ("project_id_or_name",)),
    ("POST", rf"/projects/{_SEG}/datasources", "CreateProjectDataSource",
     ("project_id_or_name",)),
    ("GET", rf"/projects/{_SEG}/datasources/{_SEG}", "GetProjectDataSource",
     ("project_id_or_name", "id_or_name")),
    ("GET", rf"/projects/{_SEG}/datasources/{_SEG}/versions",
     "GetProjectDataSourceVersions", ("project_id_or_name", "id_or_name")),
    ("GET", rf"/projects/{_SEG}/datasources/{_SEG}/versions/{_SEG}",
     "GetProjectDataSourceVersion",
     ("project_id_or_name", "id_or_name", "version")),
    ("GET", rf"/projects/{_SEG}/derivedfeatures",
     "GetProjectDerivedFeatures", ("project_id_or_name",)),
    ("POST", rf"/projects/{_SEG}/derivedfeatures",
     "CreateProjectDerivedFeature", ("project_id_or_name",)),
    ("GET", rf"/projects/{_SEG}/derivedfeatures/{_SEG}",
     "GetProjectDerivedFeature", ("project_id_or_name", "id_or_name")),
    ("GET", rf"/projects/{_SEG}/derivedfeatures/{_SEG}/versions",
     "GetProjectDerivedFeatureVersions",
     ("project_id_or_name", "id_or_name")),
    ("GET", rf"/projects/{_SEG}/derivedfeatures/{_SEG}/versions/{_SEG}",
     "GetProjectDerivedFeatureVersion",
     ("project_id_or_name", "id_or_name", "version")),
    ("GET", rf"/projects/{_SEG}/anchors", "GetProjectAnchors",
     ("project_id_or_name",)),
    ("POST", rf"/projects/{_SEG}/anchors", "CreateProjectAnchor",
     ("project_id_or_name",)),
    ("GET", rf"/projects/{_SEG}/anchors/{_SEG}", "GetProjectAnchor",
     ("project_id_or_name", "id_or_name")),
    ("GET", rf"/projects/{_SEG}/anchors/{_SEG}/versions",
     "GetProjectAnchorVersions", ("project_id_or_name", "id_or_name")),
    ("GET", rf"/projects/{_SEG}/anchors/{_SEG}/versions/{_SEG}",
     "GetProjectAnchorVersion",
     ("project_id_or_name", "id_or_name", "version")),
    ("GET", rf"/projects/{_SEG}/anchors/{_SEG}/features",
     "GetAnchorFeatures", ("project_id_or_name", "anchor_id_or_name")),
    ("POST", rf"/projects/{_SEG}/anchors/{_SEG}/features",
     "CreateAnchorFeature", ("project_id_or_name", "anchor_id_or_name")),
    ("GET", rf"/projects/{_SEG}/anchors/{_SEG}/features/{_SEG}",
     "GetAnchorFeature",
     ("project_id_or_name", "anchor_id_or_name", "id_or_name")),
    ("GET", rf"/projects/{_SEG}/anchors/{_SEG}/features/{_SEG}/versions",
     "GetAnchorFeatureVersions",
     ("project_id_or_name", "anchor_id_or_name", "id_or_name")),
    ("GET",
     rf"/projects/{_SEG}/anchors/{_SEG}/features/{_SEG}/versions/{_SEG}",
     "GetAnchorFeatureVersion",
     ("project_id_or_name", "anchor_id_or_name", "id_or_name", "version")),
    ("GET", rf"/features/{_SEG}", "GetFeature", ("id_or_name",)),
    ("GET", rf"/features/{_SEG}/lineage", "GetFeatureLineage",
     ("id_or_name",)),
    ("GET", rf"/features/{_SEG}/project", "GetEntityProject",
     ("id_or_name",)),
    # RBAC routes (api_v2.rs:911-983). The reference mounts DELETE on the
    # same /userroles/add path — mirrored verbatim, quirk and all.
    ("GET", r"/userroles", "GetUserRoles", ()),
    ("POST", rf"/users/{_SEG}/userroles/add", "AddUserRole", ("user",)),
    ("DELETE", rf"/users/{_SEG}/userroles/add", "DeleteUserRole", ("user",)),
]
_COMPILED = [(m, re.compile(p + r"\Z"), t, names)
             for m, p, t, names in _ROUTES]

# Routes whose list endpoints accept the reference's paging/search query
# params (keyword/size/offset on every Get*s handler).
_PAGED = {"GetProjects", "GetProjectFeatures", "GetProjectDataSources",
          "GetProjectDerivedFeatures", "GetProjectAnchors",
          "GetAnchorFeatures"}


def _match(method: str, rel_path: str,
           query: dict, body: Optional[dict]) -> Optional[dict]:
    for m, rx, rtype, names in _COMPILED:
        if m != method:
            continue
        hit = rx.match(rel_path)
        if not hit:
            continue
        req = {"type": rtype}
        for name, val in zip(names, hit.groups()):
            req[name] = int(val) if name == "version" else val
        if rtype in _PAGED:
            if "keyword" in query:
                req["keyword"] = query["keyword"][0]
            if "size" in query:
                req["size"] = int(query["size"][0])
            if "offset" in query:
                req["offset"] = int(query["offset"][0])
        if rtype in ("AddUserRole", "DeleteUserRole"):
            # query params per api_v2.rs: project, role, reason
            req["project_id_or_name"] = query.get("project", [""])[0]
            req["role"] = query.get("role", [""])[0]
            req["reason"] = query.get("reason", [""])[0]
        elif method == "POST":
            req["definition"] = body or {}
        return req
    return None


class RestHandler(BaseHTTPRequestHandler):
    """The registry's one REST front end, shared by both servers.

    Subclasses bind ``api`` and ``serve``, the ``(request, credential) ->
    result`` callable that runs each parsed request; a Raft node's
    handler adds its cluster routes on top (``raft_http.py``)."""

    server_version = "FeathrSparkRegistry/1.0"
    version_info = {"version": "feathr-spark",
                    "backends": ["sqlite", "memory"]}
    api: RegistryApi = None
    api_base: str = "/api"
    token_decoder: Optional[TokenDecoder] = None
    debug_credentials: bool = True
    serve = None  # staticmethod(request, credential) -> result

    def log_message(self, fmt, *args):  # quiet for tests
        pass

    def _send(self, code: int, payload: object) -> None:
        data = json.dumps(payload).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _body(self) -> dict:
        """The JSON object in the request body, ``{}`` when empty;
        ``ValueError`` (a 400) when it is not a JSON object."""
        n = int(self.headers.get("Content-Length") or 0)
        try:
            body = json.loads(self.rfile.read(n)) if n else {}
        except ValueError as e:
            raise ValueError(f"invalid JSON body: {e}") from None
        if not isinstance(body, dict):
            raise ValueError("invalid JSON body: not an object")
        return body

    def _credential(self) -> Optional[str]:
        """The caller's principal, as the reference's RbacMiddleware
        (raft-registry/src/rbac_middleware.rs:65-107) extracts it: with a
        token decoder configured, an Authorization bearer token is
        verified (RS256/HS256, nbf/exp) and its claims map to the
        credential; a bad token is 401. The x-registry-credential header
        is the debug path (the reference's x-feathr-debug-token, honored
        only when debug_credentials is on). With debug off, RBAC
        enforcing, and no token, the request is 403 "Missing token"
        (rbac_middleware.rs:104). On an ENFORCING server with the debug
        path a missing header is an anonymous caller (no grants ->
        denied), never an RbacDisabled bypass."""
        auth = self.headers.get("Authorization")
        if self.token_decoder is not None and auth:
            tok = auth[6:] if auth.startswith("Bearer") else auth
            return credential_from_claims(self.token_decoder.decode(tok))
        header = self.headers.get("x-registry-credential")
        if header and self.debug_credentials:
            return header
        if self.token_decoder is not None and \
                not self.debug_credentials and self.api.enforce:
            raise PermissionDenied("Missing token")
        return "anonymous" if self.api.enforce else None

    def _answer(self, ok: int, call) -> None:
        """Send ``call()``'s result with status ``ok``, or its error:
        401 for a rejected token, 403 for a denial, 404 for what is not
        found, 400 for any other bad request."""
        try:
            out = call()
        except AuthError as e:
            self._send(401, {"error": str(e)})
        except PermissionDenied as e:
            self._send(403, {"error": str(e)})
        except RegistryError as e:
            code = 404 if "not found" in str(e).lower() else 400
            self._send(code, {"error": str(e)})
        except (KeyError, TypeError, ValueError) as e:
            self._send(400, {"error": str(e)})
        else:
            self._send(ok, out)

    def _rest(self, method: str) -> None:
        url = urlparse(self.path)
        path = url.path.rstrip("/") or "/"
        if method == "GET" and path == "/version":
            self._send(200, {**self.version_info, "rbac": self.api.enforce,
                             "api_versions": ["v1", "v2"]})
            return
        for v in ("/v1", "/v2"):
            prefix = self.api_base + v
            if path.startswith(prefix + "/") or path == prefix:
                rel = path[len(prefix):] or "/"
                break
        else:
            self._send(404, {"error": f"not found: {path}"})
            return

        def call():
            req = _match(method, rel, parse_qs(url.query), self._body())
            if req is None:
                raise RegistryError(f"route not found: {method} {path}")
            return self.serve(req, self._credential())

        self._answer(201 if method == "POST" else 200, call)

    def do_GET(self):
        self._rest("GET")

    def do_POST(self):
        self._rest("POST")

    def do_DELETE(self):
        self._rest("DELETE")


class RegistryHttpServer:
    """Localhost HTTP server exposing a :class:`RegistryApi`.

    ``with RegistryHttpServer(api) as url:`` serves on an ephemeral port
    in a daemon thread; ``url`` is e.g. ``http://127.0.0.1:54321``.
    """

    def __init__(self, api: Optional[RegistryApi] = None,
                 host: str = "127.0.0.1", port: int = 0,
                 api_base: str = "/api",
                 token_decoder: Optional[TokenDecoder] = None,
                 debug_credentials: bool = True):
        self.api = api or RegistryApi()
        # One dispatch at a time: the sqlite-backed catalog is a single
        # connection, and the reference registry serializes writes
        # through Raft anyway.
        lock = threading.Lock()

        def serve(request: dict, credential: Optional[str]) -> object:
            with lock:
                return self.api.handle(request, credential=credential)

        handler = type("BoundHandler", (RestHandler,),
                       {"api": self.api,
                        "api_base": "/" + api_base.strip("/"),
                        "token_decoder": token_decoder,
                        "debug_credentials": debug_credentials,
                        "serve": staticmethod(serve)})
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: Optional[threading.Thread] = None

    @property
    def address(self) -> Tuple[str, int]:
        return self._httpd.server_address[:2]

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}"

    def start(self) -> "RegistryHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def __enter__(self) -> str:
        self.start()
        return self.url

    def __exit__(self, *exc) -> None:
        self.stop()
