"""HTTP-clustered registry: Raft-replicated metadata over localhost HTTP.

Wire-level mirror of the reference's raft-registry node surface:

* Raft RPC routes (network/raft.rs:47-52): ``POST /raft-vote``,
  ``POST /raft-append``, ``POST /raft-snapshot``.
* Management routes (network/management.rs:172-182): ``POST /init``,
  ``POST /add-learner``, ``POST /change-membership``, ``GET /metrics``,
  ``POST /handle-request`` (reads on any node; writing requests are
  rejected with the reference's "must be submitted to the Raft leader"
  error, management.rs:91-95), ``POST /handle-leader-request`` (writes
  go through the log; non-leaders answer with a ForwardToLeader hint),
  ``GET /ping``, ``GET /ready``.
* The REST surface mounted on every node IS ``http.py``'s: the same
  :class:`~.http.RestHandler` front end parses routes, bodies and
  credentials and maps errors to the same status codes (201 for a
  create, 400 for a bad request, 403 for a denial, 404 for what is not
  found), so RBAC holds on ``/api/v{1,2}`` and ``/handle-request``
  alike. Reads are served from the local replica; writes are proposed
  at the leader, and a follower forwards them through
  :class:`RaftRegistryClient`'s leader-call loop (the reference's
  RaftSequencer role), so a denial at the leader is a 403 at the
  follower too. Credentials come from the ``x-registry-credential``
  header; bearer-token decoding is the single-node server's only.

The replicated state machine is the sqlite-backed Registry + RBAC
store. Determinism across replicas comes from three choices: entity
ids are content-addressed (catalog.py uuid5), audit timestamps are
stamped into the command by the leader at propose time and pinned
during apply (rbac._NOW_OVERRIDE), and commands are applied strictly
in log order under the node lock.

Transport sends are ASYNCHRONOUS (a small per-node pool): a node never
holds its own lock while waiting on a peer's HTTP socket, which is the
distributed-deadlock trap of synchronous fan-out (A ticks holding
A.lock -> HTTP -> B.handler wants B.lock while B ticks holding B.lock
-> HTTP -> A.handler wants A.lock).
"""
from __future__ import annotations

import http.client
import json
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from http.server import ThreadingHTTPServer
from typing import Any, Dict, Optional
from urllib.parse import urlparse

from .api import _WRITING, RegistryApi
from .catalog import RegistryError
from .http import RestHandler
from .raft import NotLeader, RaftNode
from .rbac import _NOW_OVERRIDE, PermissionDenied


class RegistryStateMachine:
    """Deterministic apply/snapshot adapter around RegistryApi."""

    def __init__(self, api: Optional[RegistryApi] = None):
        self.api = api or RegistryApi()
        # one sqlite connection serves BOTH the apply path (tick-loop /
        # RPC threads, under the node lock) and local reads (HTTP worker
        # threads) — serialize state-machine access explicitly
        self.lock = threading.RLock()

    def apply(self, cmd: Dict[str, Any]) -> Dict[str, Any]:
        token = _NOW_OVERRIDE.set(cmd.get("ts"))
        try:
            with self.lock:
                value = self.api.handle(cmd["request"],
                                        cmd.get("credential"))
            return {"ok": True, "value": value}
        except Exception as e:  # failed applies are part of the
            # replicated history too: every replica runs the same
            # command and reaches the same (error) outcome
            return {"ok": False, "error": str(e),
                    "denied": isinstance(e, PermissionDenied)}
        finally:
            _NOW_OVERRIDE.reset(token)

    # -- full-state snapshot (store/store.rs snapshot data) --------------
    def snapshot(self) -> bytes:
        with self.lock:
            return self._snapshot_locked()

    def _snapshot_locked(self) -> bytes:
        db = self.api.registry.db
        dump = {
            "entities": db.execute(
                "SELECT entity_id, entity_content FROM entities"
            ).fetchall(),
            "edges": db.execute(
                "SELECT from_id, to_id, edge_type FROM edges").fetchall(),
            "userroles": db.execute(
                "SELECT project_name, user_name, role_name, create_by,"
                " create_reason, create_time, delete_by, delete_reason,"
                " delete_time FROM userroles").fetchall(),
        }
        return json.dumps(dump).encode("utf-8")

    def restore(self, blob: bytes) -> None:
        with self.lock:
            self._restore_locked(blob)

    def _restore_locked(self, blob: bytes) -> None:
        dump = json.loads(blob.decode("utf-8"))
        db = self.api.registry.db
        db.execute("DELETE FROM entities")
        db.execute("DELETE FROM edges")
        db.execute("DELETE FROM userroles")
        db.executemany("INSERT INTO entities VALUES (?, ?)",
                       dump["entities"])
        db.executemany("INSERT INTO edges VALUES (?, ?, ?)", dump["edges"])
        db.executemany(
            "INSERT INTO userroles (project_name, user_name, role_name,"
            " create_by, create_reason, create_time, delete_by,"
            " delete_reason, delete_time) VALUES (?,?,?,?,?,?,?,?,?)",
            dump["userroles"])
        db.commit()


class HttpTransport:
    """Async JSON-over-HTTP sends between nodes; responses are routed
    back through the node's handle_*_response callbacks."""

    RPC_PATH = {"vote": "/raft-vote", "append": "/raft-append",
                "snapshot": "/raft-snapshot"}

    def __init__(self, node: RaftNode, peer_urls: Dict[str, str],
                 timeout: float = 2.0):
        self.node = node
        self.peer_urls = peer_urls
        self.timeout = timeout
        self.pool = ThreadPoolExecutor(max_workers=4)
        self.closed = False

    def send(self, dst: str, rpc: str, payload: Dict[str, Any]):
        url = self.peer_urls.get(dst)
        if self.closed or url is None:
            return None
        self.pool.submit(self._roundtrip, dst, url + self.RPC_PATH[rpc],
                         rpc, payload)
        return None  # async: never block while the node lock is held

    def _roundtrip(self, dst: str, url: str, rpc: str,
                   payload: Dict[str, Any]):
        data = json.dumps(payload).encode("utf-8")
        req = urllib.request.Request(
            url, data=data, headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                resp = json.loads(r.read().decode("utf-8"))
        except (OSError, http.client.HTTPException, ValueError):
            # unreachable peer, error status or undecodable reply:
            # a dropped message, which Raft retries
            return
        if self.closed:
            return
        if rpc == "vote":
            self.node.handle_vote_response(dst, resp)
        elif rpc == "append":
            sent_upto = payload["prev_log_index"] + len(payload["entries"])
            self.node.handle_append_response(dst, resp, sent_upto=sent_upto)
        else:
            self.node.handle_snapshot_response(dst, resp)

    def close(self):
        self.closed = True
        self.pool.shutdown(wait=False)


class RaftRegistryServer:
    """One clustered registry node: RaftNode + state machine + HTTP."""

    def __init__(self, node_id: str, host: str = "127.0.0.1",
                 port: int = 0, tick_ms: int = 40,
                 election_ticks=(10, 20), heartbeat_ticks: int = 3,
                 seed: int = 0, api: Optional[RegistryApi] = None,
                 snapshot_every: int = 256, snapshot_retain: int = 32,
                 data_dir: Optional[str] = None):
        # Durability model (matches the reference store: openraft
        # persists log + snapshot, the state machine is rebuilt): the
        # sqlite catalog stays IN-MEMORY even with data_dir set — on
        # restart the persisted snapshot restores it and committed tail
        # entries re-apply. A file-backed catalog would survive the
        # crash AHEAD of the snapshot point and tail replay would
        # double-apply.
        self.sm = RegistryStateMachine(api)
        self.transport = HttpTransport(None, {})  # node set below
        persist_path = None
        if data_dir is not None:
            import os
            os.makedirs(data_dir, exist_ok=True)
            persist_path = os.path.join(data_dir, f"raft-{node_id}.json")
        self.node = RaftNode(
            node_id, [node_id], self.sm.apply,
            send_fn=self.transport.send,
            snapshot_fn=self.sm.snapshot,
            restore_fn=self.sm.restore,
            election_ticks=election_ticks,
            heartbeat_ticks=heartbeat_ticks, seed=seed,
            snapshot_every=snapshot_every,
            snapshot_retain=snapshot_retain,
            persist_path=persist_path)
        self.transport.node = self.node
        self.tick_ms = tick_ms
        handler = _make_handler(self)
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self._threads = []
        self._stop = threading.Event()
        self.initialized = False

    # -- lifecycle -------------------------------------------------------
    @property
    def url(self) -> str:
        h, p = self.httpd.server_address[:2]
        return f"http://{h}:{p}"

    def start(self) -> "RaftRegistryServer":
        t1 = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        t2 = threading.Thread(target=self._tick_loop, daemon=True)
        t1.start(); t2.start()
        self._threads = [t1, t2]
        return self

    def stop(self) -> None:
        self._stop.set()
        self.transport.close()
        self.httpd.shutdown()
        self.httpd.server_close()

    def _tick_loop(self) -> None:
        while not self._stop.is_set():
            if self.initialized:
                self.node.tick()
            time.sleep(self.tick_ms / 1000.0)

    # -- cluster management ------------------------------------------------
    def init_cluster(self, nodes: Dict[str, str],
                     voters: Optional[list] = None) -> Dict[str, Any]:
        """Set the initial membership + peer URL map (the reference's
        /init; every founding node gets the same map before traffic
        starts). A node bootstrapping as a LEARNER passes voters=[] —
        it knows everyone's URL but holds no vote until the leader's
        config entries promote it."""
        v = sorted(nodes) if voters is None else sorted(voters)
        with self.node.lock:
            self.node.voters = v
            self.node._config_log = [(0, list(v), [])]
            self.transport.peer_urls = {
                k: u for k, u in nodes.items() if k != self.node.id}
        self.initialized = True
        return {"status": "OK", "voters": v}

    def add_peer_url(self, node_id: str, url: str) -> None:
        self.transport.peer_urls[node_id] = url

    # -- request paths -------------------------------------------------------
    def leader_url(self) -> Optional[str]:
        lid = self.node.leader_id
        if lid is None:
            return None
        if lid == self.node.id:
            return self.url
        return self.transport.peer_urls.get(lid)

    def handle_read(self, request: dict, credential=None) -> Any:
        if request.get("type") in _WRITING:
            raise RegistryError(
                "Updating requests must be submitted to the Raft leader")
        with self.sm.lock:
            return self.sm.api.handle(request, credential)

    def handle_write(self, request: dict, credential=None,
                     timeout: float = 5.0) -> Any:
        """Propose through the log and wait for local apply (leader
        path of /handle-leader-request)."""
        cmd = {"request": request, "credential": credential,
               "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())}
        index, term = self.node.client_write(cmd)
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.node.lock:
                if self.node.last_applied >= index:
                    if self.node.log.term_at(index) != term:
                        raise RegistryError(
                            "write lost leadership before commit")
                    res = self.node.apply_results.pop(index, None)
                    break
            time.sleep(self.tick_ms / 2000.0)
        else:
            raise RegistryError("timed out waiting for commit")
        if res is None:
            raise RegistryError("write result unavailable")
        if not res["ok"]:
            error = PermissionDenied if res["denied"] else RegistryError
            raise error(res["error"])
        return res["value"]

    def serve(self, request: dict, credential: Optional[str] = None) -> Any:
        """The REST front end's request callable: a read runs on the
        local replica; a write is proposed here when this node leads,
        else it goes to the leader through :class:`RaftRegistryClient`
        (the reference's RaftSequencer role)."""
        if request.get("type") not in _WRITING:
            return self.handle_read(request, credential)
        if self.node.is_leader():
            return self.handle_write(request, credential)
        client = RaftRegistryClient(
            self.leader_url() or self.url, credential=credential,
            peers=list(self.transport.peer_urls.values()))
        return client.consistent_request(request)


def _make_handler(app: RaftRegistryServer):
    node = app.node

    def leader_request(body: dict, credential: Optional[str]) -> Any:
        if not node.is_leader():
            raise NotLeader(node.leader_id)
        if body.get("type") in _WRITING:
            return app.handle_write(body, credential)
        return app.handle_read(body, credential)

    def add_learner(body: dict) -> dict:
        app.add_peer_url(body["node_id"], body["url"])
        index, _ = node.add_learner(body["node_id"])
        return {"status": "OK", "index": index}

    def change_membership(body: dict) -> dict:
        index, _ = node.change_membership(body["voters"])
        return {"status": "OK", "index": index,
                "voters": sorted(body["voters"])}

    # POST routes of the cluster: path -> fn(body)
    cluster_routes = {
        "/raft-vote": node.handle_vote,
        "/raft-append": node.handle_append,
        "/raft-snapshot": node.handle_snapshot,
        "/init": lambda body: app.init_cluster(body["nodes"],
                                               body.get("voters")),
        "/add-learner": add_learner,
        "/change-membership": change_membership,
    }
    # registry requests in the body: path -> fn(body, credential)
    request_routes = {"/handle-request": app.handle_read,
                      "/handle-leader-request": leader_request}

    class Handler(RestHandler):
        server_version = "FeathrSparkRaftRegistry/1.0"
        version_info = {"version": "feathr-spark-raft", "raft": True}
        api = app.sm.api
        serve = staticmethod(app.serve)

        def _answer(self, ok: int, call) -> None:
            try:
                super()._answer(ok, call)
            except NotLeader:
                self._send(421, {"error": "ForwardToLeader",
                                 "leader": app.leader_url()})

        def do_GET(self):
            path = urlparse(self.path).path.rstrip("/") or "/"
            if path == "/ping":
                self._send(200, {"status": "OK"})
            elif path == "/ready":
                ready = app.initialized and node.leader_id is not None
                self._send(200 if ready else 503, {"ready": ready})
            elif path == "/metrics":
                m = node.metrics()
                m["url"] = app.url
                m["leader_url"] = app.leader_url()
                self._send(200, m)
            else:
                self._rest("GET")

        def do_POST(self):
            path = urlparse(self.path).path.rstrip("/") or "/"
            if path in cluster_routes:
                self._answer(200, lambda: cluster_routes[path](self._body()))
            elif path in request_routes:
                self._answer(200, lambda: request_routes[path](
                    self._body(), self._credential()))
            else:
                self._rest("POST")

    return Handler


class RaftRegistryClient:
    """Leader-tracking client for a Raft registry cluster — the
    reference's raft-registry client surface (client.rs:36-131:
    ``request`` = possibly-stale local read at the tracked node,
    ``consistent_request`` = write/read through the leader with
    ForwardToLeader retry, plus init / add_learner / change_membership
    / metrics management calls). On a ForwardToLeader rejection the
    client updates its tracked leader from the hint and retries
    (client.rs:189+ send_rpc_to_leader)."""

    def __init__(self, url: str, credential: Optional[str] = None,
                 max_retries: int = 5, timeout: float = 5.0,
                 peers: Optional[list] = None):
        self.leader_url = url.rstrip("/")
        self.credential = credential
        self.max_retries = max_retries
        self.timeout = timeout
        # seed list for leader rediscovery when the tracked node DIES
        # (no ForwardToLeader hint arrives from a dead socket): rotate
        # through every address we have ever been told about
        self.known_urls = {self.leader_url}
        for p in peers or []:
            self.known_urls.add(p.rstrip("/"))

    # -- plumbing --------------------------------------------------------
    def _call(self, url: str, path: str, payload=None, method="POST"):
        headers = {"Content-Type": "application/json"}
        if self.credential:
            headers["x-registry-credential"] = self.credential
        data = (json.dumps(payload).encode("utf-8")
                if payload is not None else None)
        req = urllib.request.Request(url + path, data=data,
                                     headers=headers, method=method)
        with urllib.request.urlopen(req, timeout=self.timeout) as r:
            return json.loads(r.read().decode("utf-8"))

    def _leader_call(self, path: str, payload=None):
        last = None
        for _ in range(self.max_retries):
            try:
                return self._call(self.leader_url, path, payload)
            except urllib.error.HTTPError as e:
                body = e.read().decode("utf-8") or "{}"
                try:
                    detail = json.loads(body)
                except ValueError:
                    detail = {}
                if e.code == 421 or detail.get("error") == "ForwardToLeader":
                    hint = detail.get("leader")
                    if hint:
                        self.leader_url = hint.rstrip("/")
                        self.known_urls.add(self.leader_url)
                    else:
                        time.sleep(0.2)  # mid-election: wait and re-ask
                    last = RegistryError("leadership moved")
                    continue
                error = PermissionDenied if e.code == 403 else RegistryError
                raise error(detail.get("error", str(e)))
            except (OSError, http.client.HTTPException) as e:
                # connection refused or dropped: the leader died —
                # rotate to the next known address; its ForwardToLeader
                # hint (or success) re-establishes the leader
                last = e
                alts = sorted(self.known_urls - {self.leader_url})
                if alts:
                    self.leader_url = alts[0]
                time.sleep(0.2)
        raise RegistryError(f"no leader reachable: {last}")

    # -- reference client surface ----------------------------------------
    def request(self, req: dict):
        """Local read at the tracked node (may be stale; client.rs:60)."""
        return self._call(self.leader_url, "/handle-request", req)

    def consistent_request(self, req: dict):
        """Write (or leader-consistent read) through the Raft leader."""
        return self._leader_call("/handle-leader-request", req)

    def init(self, nodes: Dict[str, str], voters=None):
        body = {"nodes": nodes}
        if voters is not None:
            body["voters"] = voters
        return self._call(self.leader_url, "/init", body)

    def add_learner(self, node_id: str, url: str):
        return self._leader_call("/add-learner",
                                 {"node_id": node_id, "url": url})

    def change_membership(self, voters) -> dict:
        return self._leader_call("/change-membership",
                                 {"voters": list(voters)})

    def metrics(self) -> dict:
        return self._call(self.leader_url, "/metrics", method="GET")
