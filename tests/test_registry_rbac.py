"""RBAC tests: the reference's user-role model (rbac_provider.rs:41-57,
api_models/rbac.rs:22-52, scripts/sqlite.sql userroles) enforced by the
in-process API facade and over real localhost HTTP.
"""

import json
import urllib.error
import urllib.request

import pytest

from feathr_spark.registry.api import RegistryApi
from feathr_spark.registry.catalog import Registry, RegistryError
from feathr_spark.registry.http import RegistryHttpServer
from feathr_spark.registry.rbac import (
    GLOBAL_SCOPE, Permission, PermissionDenied, RbacStore,
)


def _store():
    reg = Registry()
    return reg, RbacStore(reg.db)


def test_permission_model_mirrors_reference():
    assert Permission.from_role("consumer") is Permission.READ
    assert Permission.from_role("Producer") is Permission.WRITE
    assert Permission.from_role("ADMIN") is Permission.ADMIN
    assert Permission.READ.access == ["read"]
    assert Permission.WRITE.access == ["read", "write"]
    assert Permission.ADMIN.access == ["read", "write", "manage"]
    with pytest.raises(RegistryError):
        Permission.from_role("owner")


def test_grant_check_implication_and_global_scope():
    _, rbac = _store()
    rbac.grant("proj_a", "alice", Permission.WRITE, "root", "team lead")
    rbac.grant(GLOBAL_SCOPE, "carol", Permission.ADMIN, "root", "platform")
    # write implies read (the cumulative access vectors)
    assert rbac.check("alice", "proj_a", Permission.READ)
    assert rbac.check("alice", "proj_a", Permission.WRITE)
    assert not rbac.check("alice", "proj_a", Permission.ADMIN)
    assert not rbac.check("alice", "proj_b", Permission.READ)
    # global grants apply to every project
    assert rbac.check("carol", "proj_b", Permission.ADMIN)
    # unknown users have nothing; None = RbacDisabled passes everything
    assert not rbac.check("mallory", "proj_a", Permission.READ)
    assert rbac.check(None, "proj_a", Permission.ADMIN)


def test_revoke_is_soft_delete_with_audit():
    _, rbac = _store()
    rbac.grant("p", "bob", Permission.READ, "root", "onboard")
    assert rbac.check("bob", "p", Permission.READ)
    rbac.revoke("p", "bob", Permission.READ, "root", "offboard")
    assert not rbac.check("bob", "p", Permission.READ)
    # the audit row survives with delete_* filled (userroles schema)
    roles = rbac.user_roles()
    assert len(roles) == 1
    assert roles[0]["deleteBy"] == "root"
    assert roles[0]["deleteReason"] == "offboard"
    assert roles[0]["deleteTime"] is not None
    # revoking a non-existent grant is an error
    with pytest.raises(RegistryError):
        rbac.revoke("p", "bob", Permission.READ, "root", "again")


def test_api_enforcement_matrix():
    reg, rbac = _store()
    api = RegistryApi(reg, rbac=rbac)
    rbac.grant(GLOBAL_SCOPE, "root", Permission.ADMIN, "root", "bootstrap")
    rbac.grant(GLOBAL_SCOPE, "creator", Permission.WRITE, "root", "ci")
    api.handle({"type": "CreateProject", "definition": {"name": "proj"}},
               credential="creator")
    rbac.grant("proj", "writer", Permission.WRITE, "root", "team")
    rbac.grant("proj", "reader", Permission.READ, "root", "analyst")

    # writer can create a source; reader cannot
    req = {"type": "CreateProjectDataSource", "project_id_or_name": "proj",
           "definition": {"name": "src", "type": "hdfs", "path": "/x"}}
    api.handle(req, credential="writer")
    with pytest.raises(PermissionDenied):
        api.handle(dict(req, definition={"name": "src2"}),
                   credential="reader")
    # reader can read; stranger cannot
    assert api.handle({"type": "GetProject", "id_or_name": "proj"},
                      credential="reader")["name"] == "proj"
    with pytest.raises(PermissionDenied):
        api.handle({"type": "GetProject", "id_or_name": "proj"},
                   credential="mallory")
    # role management needs global admin
    with pytest.raises(PermissionDenied):
        api.handle({"type": "GetUserRoles"}, credential="writer")
    out = api.handle({"type": "GetUserRoles"}, credential="root")
    assert {r["userName"] for r in out} >= {"writer", "reader", "creator"}
    # AddUserRole via the facade records the requestor credential
    api.handle({"type": "AddUserRole", "project_id_or_name": "proj",
                "user": "dave", "role": "consumer", "reason": "new analyst"},
               credential="root")
    dave = [r for r in api.handle({"type": "GetUserRoles"},
                                  credential="root")
            if r["userName"] == "dave"][0]
    assert dave["createBy"] == "root" and dave["roleName"] == "consumer"
    # no credential = RbacDisabled mode: everything passes
    assert api.handle({"type": "GetProject", "id_or_name": "proj"})


def _req(url, method="GET", cred=None, expect=200):
    r = urllib.request.Request(url, method=method)
    if cred:
        r.add_header("x-registry-credential", cred)
    try:
        with urllib.request.urlopen(r) as resp:
            assert resp.status == expect, url
            return json.loads(resp.read())
    except urllib.error.HTTPError as e:
        assert e.code == expect, f"{url}: {e.code} != {expect}: {e.read()}"
        return json.loads(e.read())


@pytest.fixture(scope="module")
def serve():
    """``with serve(api) as url:`` — the server test_rbac_over_http runs
    against: the single-node one here, a Raft node in the class below."""
    return RegistryHttpServer


def test_rbac_over_http(serve):
    reg, rbac = _store()
    api = RegistryApi(reg, rbac=rbac)
    rbac.grant(GLOBAL_SCOPE, "root", Permission.ADMIN, "root", "bootstrap")
    with serve(api) as url:
        base = f"{url}/api/v1"
        # version advertises rbac on
        assert _req(f"{url}/version")["rbac"] is True
        # role management over the wire needs global admin -> 403 without
        _req(f"{base}/userroles", expect=403)
        _req(f"{base}/users/alice/userroles/add?project=proj&role=producer"
             f"&reason=team", method="POST", cred="root", expect=201)
        roles = _req(f"{base}/userroles", cred="root")
        alice = [r for r in roles if r["userName"] == "alice"]
        assert alice and alice[0]["access"] == ["read", "write"]
        assert alice[0]["createBy"] == "root"
        # alice's producer grant is not enough to create a PROJECT
        # (global write) -> 403; grant global write, then it works
        body = json.dumps({"name": "proj"}).encode()
        r = urllib.request.Request(f"{base}/projects", data=body,
                                   method="POST",
                                   headers={"Content-Type": "application/json",
                                            "x-registry-credential": "alice"})
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(r)
        assert ei.value.code == 403
        _req(f"{base}/users/alice/userroles/add?project=global&role=producer"
             f"&reason=ci", method="POST", cred="root", expect=201)
        r = urllib.request.Request(f"{base}/projects", data=body,
                                   method="POST",
                                   headers={"Content-Type": "application/json",
                                            "x-registry-credential": "alice"})
        with urllib.request.urlopen(r) as resp:
            assert resp.status == 201
        # project read now enforced per-scope: alice can, mallory 403
        _req(f"{base}/projects/proj", cred="alice")
        _req(f"{base}/projects/proj", cred="mallory", expect=403)
        # DELETE on the same /add path (the reference's quirk) revokes.
        # The project-scoped revoke alone is NOT enough: alice still
        # holds the global producer grant, which implies read everywhere.
        _req(f"{base}/users/alice/userroles/add?project=proj&role=producer"
             f"&reason=done", method="DELETE", cred="root")
        _req(f"{base}/projects/proj", cred="alice")
        _req(f"{base}/users/alice/userroles/add?project=global&role=producer"
             f"&reason=done", method="DELETE", cred="root")
        _req(f"{base}/projects/proj", cred="alice", expect=403)


class TestRbacOnRaftNode:
    """test_rbac_over_http, unchanged, against a one-node Raft server:
    its REST front end is the single-node server's, RBAC included."""

    @pytest.fixture(scope="class")
    def serve(self, one_node_raft):
        return one_node_raft

    test_rbac_over_http = staticmethod(test_rbac_over_http)
