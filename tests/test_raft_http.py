"""E2E tests for the Raft-clustered registry over real localhost HTTP
(feathr_spark/registry/raft_http.py): election, replicated writes,
follower forwarding, leader failover, learner catch-up + promotion,
and cross-replica state equality (including the pinned audit
timestamps that make RBAC applies deterministic)."""
import json
import time
import urllib.error
import urllib.request

import pytest

from feathr_spark.registry.raft_http import RaftRegistryServer


def _post(url: str, payload: dict, credential=None, timeout=5.0) -> dict:
    headers = {"Content-Type": "application/json"}
    if credential:
        headers["x-registry-credential"] = credential
    req = urllib.request.Request(url, data=json.dumps(payload).encode(),
                                 headers=headers)
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return json.loads(r.read().decode())


def _get(url: str, timeout=5.0) -> dict:
    with urllib.request.urlopen(url, timeout=timeout) as r:
        return json.loads(r.read().decode())


def _wait_leader(servers, timeout=10.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        for s in servers:
            if s.node.is_leader():
                return s
        time.sleep(0.05)
    raise AssertionError("no leader elected in time")


def _wait(cond, timeout=10.0, msg="condition"):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if cond():
            return
        time.sleep(0.05)
    raise AssertionError(f"timed out waiting for {msg}")


@pytest.fixture()
def cluster():
    servers = [RaftRegistryServer(f"n{i}", tick_ms=25, seed=1000 + i)
               .start() for i in range(3)]
    nodes = {s.node.id: s.url for s in servers}
    for s in servers:
        _post(s.url + "/init", {"nodes": nodes})
    try:
        yield servers
    finally:
        for s in servers:
            try:
                s.stop()
            except Exception:
                pass


def test_cluster_elects_and_reports_consistent_metrics(cluster):
    leader = _wait_leader(cluster)
    _wait(lambda: all(s.node.leader_id == leader.node.id for s in cluster),
          msg="leader propagation")
    for s in cluster:
        m = _get(s.url + "/metrics")
        assert m["current_leader"] == leader.node.id
        assert m["membership"]["voters"] == ["n0", "n1", "n2"]
        assert _get(s.url + "/ping")["status"] == "OK"
        assert _get(s.url + "/ready")["ready"] is True


def test_write_at_leader_replicates_to_every_replica(cluster):
    leader = _wait_leader(cluster)
    out = _post(leader.url + "/handle-leader-request",
                {"type": "CreateProject",
                 "definition": {"name": "proj_ha"}})
    assert out["guid"]

    def replicated():
        return all(
            any(p["qualifiedName"] == "proj_ha"
                for p in _post(s.url + "/handle-request",
                               {"type": "GetProjects"}))
            for s in cluster)
    _wait(replicated, msg="replication to all replicas")
    # reads are local everywhere; writing through /handle-request is the
    # reference's hard error (management.rs:91-95)
    for s in cluster:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(s.url + "/handle-request",
                  {"type": "CreateProject", "definition": {"name": "x"}})
        assert e.value.code == 400
        assert "Raft leader" in json.loads(e.value.read().decode())["error"]


def test_follower_handle_leader_request_forwards_hint(cluster):
    leader = _wait_leader(cluster)
    _wait(lambda: all(s.node.leader_id == leader.node.id for s in cluster),
          msg="leader propagation")
    follower = next(s for s in cluster if s is not leader)
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(follower.url + "/handle-leader-request",
              {"type": "CreateProject", "definition": {"name": "y"}})
    assert e.value.code == 421
    detail = json.loads(e.value.read().decode())
    assert detail["error"] == "ForwardToLeader"
    assert detail["leader"] == leader.url


def test_rest_write_on_follower_transparently_forwards(cluster):
    leader = _wait_leader(cluster)
    _wait(lambda: all(s.node.leader_id == leader.node.id for s in cluster),
          msg="leader propagation")
    follower = next(s for s in cluster if s is not leader)
    out = _post(follower.url + "/api/v1/projects", {"name": "via_follower"})
    assert out["guid"]

    def everywhere():
        return all(
            any(p["qualifiedName"] == "via_follower"
                for p in _get(s.url + "/api/v2/projects"))
            for s in cluster)
    _wait(everywhere, msg="forwarded write visible everywhere")


def test_failover_preserves_writes_and_resumes_service(cluster):
    leader = _wait_leader(cluster)
    _post(leader.url + "/handle-leader-request",
          {"type": "CreateProject", "definition": {"name": "before_crash"}})
    survivors = [s for s in cluster if s is not leader]
    _wait(lambda: all(
        s.node.last_applied >= 2 for s in survivors),
        msg="pre-crash replication")
    leader.stop()
    new_leader = _wait_leader(survivors, timeout=15.0)
    assert new_leader is not leader
    _post(new_leader.url + "/handle-leader-request",
          {"type": "CreateProject", "definition": {"name": "after_crash"}})

    def both_everywhere():
        for s in survivors:
            names = {p["qualifiedName"]
                     for p in _post(s.url + "/handle-request",
                                    {"type": "GetProjects"})}
            if not {"before_crash", "after_crash"} <= names:
                return False
        return True
    _wait(both_everywhere, msg="post-failover consistency")


def test_replicas_bitwise_identical_including_rbac_audit_time(cluster):
    """Entity ids are content-addressed and audit timestamps are stamped
    at propose time, so the sqlite state must be IDENTICAL on every
    replica — the determinism contract of the replicated state machine."""
    leader = _wait_leader(cluster)
    _post(leader.url + "/handle-leader-request",
          {"type": "CreateProject", "definition": {"name": "proj_det"}})
    _post(leader.url + "/handle-leader-request",
          {"type": "AddUserRole", "project_id_or_name": "proj_det",
           "user": "alice", "role": "producer", "reason": "e2e"})
    _wait(lambda: all(s.node.last_applied >= 3 for s in cluster),
          msg="apply on all replicas")

    def dump(s):
        db = s.sm.api.registry.db
        with s.sm.lock:
            ents = db.execute(
                "SELECT entity_id, entity_content FROM entities"
                " ORDER BY entity_id").fetchall()
            roles = db.execute(
                "SELECT project_name, user_name, role_name, create_by,"
                " create_reason, create_time FROM userroles"
                " ORDER BY record_id").fetchall()
        return ents, roles
    dumps = [dump(s) for s in cluster]
    assert dumps[0][0] and dumps[0][1]
    assert dumps[0] == dumps[1] == dumps[2]


def test_learner_joins_catches_up_and_gets_promoted(cluster):
    leader = _wait_leader(cluster)
    for i in range(3):
        _post(leader.url + "/handle-leader-request",
              {"type": "CreateProject", "definition": {"name": f"p{i}"}})
    # take a snapshot so the learner exercises the InstallSnapshot path
    leader.node.take_snapshot(retain=1)
    new = RaftRegistryServer("n3", tick_ms=25, seed=4242).start()
    try:
        nodes = {s.node.id: s.url for s in cluster}
        nodes["n3"] = new.url
        _post(new.url + "/init", {"nodes": nodes, "voters": []})
        # every existing node must know the learner's address (any of
        # them can be leader later)
        for s in cluster:
            s.add_peer_url("n3", new.url)
        _post(leader.url + "/add-learner",
              {"node_id": "n3", "url": new.url})
        _wait(lambda: new.node.last_applied >= leader.node.last_applied,
              msg="learner catch-up")
        names = {p["qualifiedName"]
                 for p in _post(new.url + "/handle-request",
                                {"type": "GetProjects"})}
        assert {"p0", "p1", "p2"} <= names
        out = _post(leader.url + "/change-membership",
                    {"voters": ["n0", "n1", "n2", "n3"]})
        assert out["voters"] == ["n0", "n1", "n2", "n3"]
        _wait(lambda: "n3" in new.node.voters, msg="promotion replication")
        # 4-voter quorum (3) still commits
        _post(leader.url + "/handle-leader-request",
              {"type": "CreateProject", "definition": {"name": "post4"}})
        _wait(lambda: any(
            p["qualifiedName"] == "post4"
            for p in _post(new.url + "/handle-request",
                           {"type": "GetProjects"})),
            msg="write visible on promoted node")
    finally:
        new.stop()


def test_node_restarts_from_disk_and_rejoins(tmp_path):
    """Durability E2E: a node with data_dir persists log + snapshot;
    a NEW process-equivalent (fresh server object, same node id and
    data_dir) rebuilds its state machine and rejoins the cluster."""
    servers = {}
    for i in range(3):
        servers[f"n{i}"] = RaftRegistryServer(
            f"n{i}", tick_ms=25, seed=2000 + i,
            snapshot_every=4, snapshot_retain=2,
            data_dir=str(tmp_path / f"n{i}")).start()
    nodes = {nid: s.url for nid, s in servers.items()}
    try:
        for s in servers.values():
            _post(s.url + "/init", {"nodes": nodes})
        leader = _wait_leader(list(servers.values()))
        for i in range(8):  # crosses the snapshot_every=4 threshold
            _post(leader.url + "/handle-leader-request",
                  {"type": "CreateProject", "definition": {"name": f"d{i}"}})
        victim_id = next(nid for nid, s in servers.items() if s is not leader)
        _wait(lambda: servers[victim_id].node.last_applied
              >= leader.node.last_applied, msg="victim caught up")
        servers[victim_id].stop()

        reborn = RaftRegistryServer(
            victim_id, tick_ms=25, seed=7777,
            snapshot_every=4, snapshot_retain=2,
            data_dir=str(tmp_path / victim_id)).start()
        servers[victim_id] = reborn
        # state machine rebuilt from the persisted snapshot BEFORE any
        # network contact
        assert reborn.node.log.snap_last_index > 0
        pre = {p["qualifiedName"]
               for p in reborn.sm.api.get_projects()}
        assert pre  # snapshot restored some projects offline
        nodes[victim_id] = reborn.url
        for s in servers.values():
            _post(s.url + "/init", {"nodes": nodes})
        cur = _wait_leader(list(servers.values()))
        _post(cur.url + "/handle-leader-request",
              {"type": "CreateProject", "definition": {"name": "post"}})
        _wait(lambda: any(
            p["qualifiedName"] == "post"
            for p in _post(reborn.url + "/handle-request",
                           {"type": "GetProjects"})),
            msg="reborn node receives post-restart writes")
        names = {p["qualifiedName"]
                 for p in _post(reborn.url + "/handle-request",
                                {"type": "GetProjects"})}
        assert {f"d{i}" for i in range(8)} <= names
    finally:
        for s in servers.values():
            try:
                s.stop()
            except Exception:
                pass


def test_client_tracks_leader_across_failover(cluster):
    from feathr_spark.registry.raft_http import RaftRegistryClient
    leader = _wait_leader(cluster)
    follower = next(s for s in cluster if s is not leader)
    # client pointed at a FOLLOWER: consistent_request must follow the
    # ForwardToLeader hint automatically
    client = RaftRegistryClient(follower.url)
    out = client.consistent_request(
        {"type": "CreateProject", "definition": {"name": "via_client"}})
    assert out["guid"]
    assert client.leader_url == leader.url  # hint updated the client
    assert client.metrics()["current_leader"] == leader.node.id
    # stale-ok local read path
    _wait(lambda: any(p["qualifiedName"] == "via_client"
                      for p in client.request({"type": "GetProjects"})),
          msg="local read sees the write")
    # kill the leader: the client's next consistent write must rediscover
    leader.stop()
    survivors = [s for s in cluster if s is not leader]
    _wait_leader(survivors, timeout=15.0)
    out2 = client.consistent_request(
        {"type": "CreateProject", "definition": {"name": "post_failover"}})
    assert out2["guid"]
    new_leader = next(s for s in survivors if s.node.is_leader())
    assert client.leader_url == new_leader.url


def test_follower_forwarded_denial_is_403_and_writes_nothing():
    """On an RBAC-enforcing cluster a follower forwards each REST write
    to the leader, whose denial reaches the caller as a 403: for a
    caller without the grant and for one with no credential at all.
    Refused writes create nothing on any replica; a granted caller's
    forwarded write is a 201."""
    from feathr_spark.registry.api import RegistryApi
    from feathr_spark.registry.catalog import Registry
    from feathr_spark.registry.rbac import (
        GLOBAL_SCOPE, Permission, RbacStore,
    )

    def enforcing_api():
        reg = Registry()
        rbac = RbacStore(reg.db)
        rbac.grant(GLOBAL_SCOPE, "root", Permission.ADMIN, "root", "boot")
        return RegistryApi(reg, rbac=rbac)

    servers = [RaftRegistryServer(f"n{i}", tick_ms=25, seed=3000 + i,
                                  api=enforcing_api()).start()
               for i in range(3)]
    try:
        nodes = {s.node.id: s.url for s in servers}
        for s in servers:
            _post(s.url + "/init", {"nodes": nodes})
        leader = _wait_leader(servers)
        _wait(lambda: all(s.node.leader_id == leader.node.id
                          for s in servers), msg="leader propagation")
        follower = next(s for s in servers if s is not leader)
        for credential in ("mallory", None):
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(follower.url + "/api/v1/projects", {"name": "denied"},
                      credential=credential)
            assert e.value.code == 403, credential
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(follower.url + "/handle-request",
                      {"type": "GetProjects"}, credential=credential)
            assert e.value.code == 403, credential
        req = urllib.request.Request(
            follower.url + "/api/v1/projects",
            data=json.dumps({"name": "granted"}).encode(),
            headers={"Content-Type": "application/json",
                     "x-registry-credential": "root"})
        with urllib.request.urlopen(req, timeout=5.0) as r:
            assert r.status == 201
        # the refused writes precede the granted one in the log, so once
        # every replica shows it they have all applied the refusals too

        def names(s):
            with s.sm.lock:
                return {p["qualifiedName"] for p in s.sm.api.get_projects()}
        _wait(lambda: all("granted" in names(s) for s in servers),
              msg="granted write on every replica")
        assert all(names(s) == {"granted"} for s in servers)
    finally:
        for s in servers:
            s.stop()


def test_malformed_json_body_is_400():
    server = RaftRegistryServer("n0", tick_ms=25).start()
    try:
        _post(server.url + "/init", {"nodes": {"n0": server.url}})
        _wait_leader([server])
        for path in ("/api/v1/projects", "/handle-request",
                     "/handle-leader-request"):
            req = urllib.request.Request(
                server.url + path, data=b"{not json",
                headers={"Content-Type": "application/json"})
            with pytest.raises(urllib.error.HTTPError) as e:
                urllib.request.urlopen(req, timeout=5.0)
            assert e.value.code == 400, path
            assert "invalid JSON body" in json.loads(e.value.read())["error"]
    finally:
        server.stop()
