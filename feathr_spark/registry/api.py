"""In-process registry API facade.

Mirrors the reference registry's typed request surface
(/root/reference/registry/registry-api/src/api_provider.rs:20-169
``FeathrApiRequest``) without the HTTP server: the same request
vocabulary, dispatched in-process against :class:`catalog.Registry`.
``handle({"type": "GetProjects", ...})`` accepts the enum-variant names
verbatim, so a thin HTTP layer (or a test) can speak the reference's
protocol; each variant is also a plain method.

Raft replication (`BatchLoad`) is intentionally out of scope for an
in-process engine (SURVEY §2.10 scope cut): there is no cluster to
replicate. RBAC follows the reference model
(api_provider.rs:153-168 GetUserRoles/AddUserRole/DeleteUserRole;
enforcement mirrors raft-registry/src/network/api_v2.rs: role routes
need global admin, writing requests need write on the target project,
reads need read): construct with an :class:`rbac.RbacStore` and pass
``credential=`` to :meth:`handle`; without a store (or with
``credential=None``) enforcement is off — the reference's
``Credential::RbacDisabled`` mode.

Responses are JSON-shaped dicts: entities as ``{"guid", "name",
"qualifiedName", "version", "attributes", "typeName"}``, lineage as
``{"guidEntityMap", "relations"}`` — the payload
:func:`feathr_spark.configio.from_lineage` consumes, so a project fetched
through this API can be rebuilt and run.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from .catalog import EdgeType, Entity, EntityType, Registry, RegistryError

TYPE_NAMES = {
    EntityType.Project: "feathr_workspace_v1",
    EntityType.Source: "feathr_source_v1",
    EntityType.Anchor: "feathr_anchor_v1",
    EntityType.AnchorFeature: "feathr_anchor_feature_v1",
    EntityType.DerivedFeature: "feathr_derived_feature_v1",
}


def _ent(e: Entity) -> dict:
    return {
        "guid": e.id,
        "name": e.qualified_name.rsplit("__", 1)[-1],
        "qualifiedName": e.qualified_name,
        "version": e.version,
        "typeName": TYPE_NAMES.get(e.entity_type, e.entity_type.value),
        "attributes": e.attributes,
    }


def entity_ref(e: Entity) -> dict:
    """An Atlas entity reference to ``e``."""
    return {"guid": e.id, "typeName": TYPE_NAMES[e.entity_type],
            "uniqueAttributes": {"qualifiedName": e.qualified_name}}


def _page(items: list, size: Optional[int], offset: Optional[int]) -> list:
    start = offset or 0
    return items[start:start + size] if size is not None else items[start:]


# Writing request variants per api_provider.rs:172-184 is_writing_request
# (BatchLoad excluded — Raft-only).
_WRITING = {"CreateProject", "CreateProjectDataSource",
            "CreateProjectAnchor", "CreateAnchorFeature",
            "CreateProjectDerivedFeature", "AddUserRole", "DeleteUserRole"}
_RBAC_ADMIN = {"GetUserRoles", "AddUserRole", "DeleteUserRole"}


class RegistryApi:
    """Typed request dispatch over an in-process :class:`Registry`."""

    def __init__(self, registry: Optional[Registry] = None,
                 rbac: Optional[object] = None):
        from .rbac import RbacStore
        self.registry = registry or Registry()
        # the userroles table is part of the reference schema
        # (scripts/sqlite.sql), so the store always exists; ENFORCEMENT is
        # opt-in by passing a store explicitly (= the reference's
        # rbac-enabled deployment; otherwise Credential::RbacDisabled).
        self.rbac = rbac or RbacStore(self.registry.db)
        self.enforce = rbac is not None

    # -- generic dispatch (reference enum-variant names) ----------------
    def handle(self, request: dict, credential: Optional[str] = None
               ) -> object:
        kind = request.get("type")
        method = getattr(self, _snake(kind), None) if kind else None
        if method is None:
            raise RegistryError(f"unsupported request: {kind!r}")
        params = {k: v for k, v in request.items() if k != "type"}
        self._enforce(kind, params, credential)
        if kind in _RBAC_ADMIN and kind != "GetUserRoles":
            params.setdefault("requestor", credential or "*")
        return method(**params)

    def _enforce(self, kind: str, params: dict,
                 credential: Optional[str]) -> None:
        """Mirror the reference middleware: role management needs global
        admin; writes need write on the target project (project creation
        is a global write); reads need read. Enforcement off or no
        credential = RbacDisabled."""
        if not self.enforce or credential is None:
            return
        from .rbac import GLOBAL_SCOPE, Permission
        if kind in _RBAC_ADMIN:
            self.rbac.require(credential, GLOBAL_SCOPE, Permission.ADMIN)
            return
        if kind == "CreateProject":
            scope = GLOBAL_SCOPE
        elif "project_id_or_name" in params:
            scope = params["project_id_or_name"]
        elif kind in ("GetProject", "GetProjectLineage"):
            scope = params["id_or_name"]
        else:
            # project listing and cross-project feature lookups: global
            scope = GLOBAL_SCOPE
        needed = Permission.WRITE if kind in _WRITING else Permission.READ
        self.rbac.require(credential, str(scope), needed)

    # -- RBAC (reference api_provider.rs:153-168) -----------------------
    def get_user_roles(self) -> List[dict]:
        return self.rbac.user_roles()

    def add_user_role(self, project_id_or_name: str, user: str, role: str,
                      requestor: str = "*", reason: str = "") -> dict:
        from .rbac import Permission
        self.rbac.grant(project_id_or_name, user, Permission.from_role(role),
                        requestor, reason)
        return {"status": "OK"}

    def delete_user_role(self, project_id_or_name: str, user: str, role: str,
                         requestor: str = "*", reason: str = "") -> dict:
        from .rbac import Permission
        self.rbac.revoke(project_id_or_name, user, Permission.from_role(role),
                         requestor, reason)
        return {"status": "OK"}

    # -- projects --------------------------------------------------------
    def get_projects(self, keyword: Optional[str] = None,
                     size: Optional[int] = None,
                     offset: Optional[int] = None) -> List[dict]:
        ents = self._of_type(EntityType.Project, keyword)
        return _page([_ent(e) for e in ents], size, offset)

    def get_project(self, id_or_name: str) -> dict:
        e = self._project(id_or_name)
        return _ent(e)

    def get_project_lineage(self, id_or_name: str) -> dict:
        p = self._project(id_or_name)
        return self._lineage([p] + self._children(p))

    def get_project_features(self, project_id_or_name: str,
                             keyword: Optional[str] = None,
                             size: Optional[int] = None,
                             offset: Optional[int] = None) -> List[dict]:
        feats = self._project_children(
            project_id_or_name,
            (EntityType.AnchorFeature, EntityType.DerivedFeature), keyword)
        return _page([_ent(e) for e in feats], size, offset)

    def create_project(self, definition: dict) -> dict:
        name = definition["name"]
        e = self.registry.create_entity(name, EntityType.Project,
                                        dict(definition))
        return _ent(e)

    # -- sources ---------------------------------------------------------
    def get_project_data_sources(self, project_id_or_name: str,
                                 keyword: Optional[str] = None,
                                 size: Optional[int] = None,
                                 offset: Optional[int] = None) -> List[dict]:
        srcs = self._project_children(project_id_or_name,
                                      (EntityType.Source,), keyword)
        return _page([_ent(e) for e in srcs], size, offset)

    def get_project_data_source(self, project_id_or_name: str,
                                id_or_name: str) -> dict:
        return _ent(self._child(project_id_or_name, EntityType.Source,
                                id_or_name))

    def get_project_data_source_versions(self, project_id_or_name: str,
                                         id_or_name: str) -> List[dict]:
        return self._versions(project_id_or_name, EntityType.Source,
                              id_or_name)

    def get_project_data_source_version(self, project_id_or_name: str,
                                        id_or_name: str,
                                        version: Optional[int] = None) -> dict:
        return self._version(project_id_or_name, EntityType.Source,
                             id_or_name, version)

    def create_project_data_source(self, project_id_or_name: str,
                                   definition: dict) -> dict:
        return self._create_child(project_id_or_name, EntityType.Source,
                                  definition)

    # -- anchors ---------------------------------------------------------
    def get_project_anchors(self, project_id_or_name: str,
                            keyword: Optional[str] = None,
                            size: Optional[int] = None,
                            offset: Optional[int] = None) -> List[dict]:
        ents = self._project_children(project_id_or_name,
                                      (EntityType.Anchor,), keyword)
        return _page([_ent(e) for e in ents], size, offset)

    def get_project_anchor(self, project_id_or_name: str,
                           id_or_name: str) -> dict:
        return _ent(self._child(project_id_or_name, EntityType.Anchor,
                                id_or_name))

    def get_project_anchor_versions(self, project_id_or_name: str,
                                    id_or_name: str) -> List[dict]:
        return self._versions(project_id_or_name, EntityType.Anchor,
                              id_or_name)

    def get_project_anchor_version(self, project_id_or_name: str,
                                   id_or_name: str,
                                   version: Optional[int] = None) -> dict:
        return self._version(project_id_or_name, EntityType.Anchor,
                             id_or_name, version)

    def create_project_anchor(self, project_id_or_name: str,
                              definition: dict) -> dict:
        return self._create_child(project_id_or_name, EntityType.Anchor,
                                  definition)

    # -- derived features ------------------------------------------------
    def get_project_derived_features(self, project_id_or_name: str,
                                     keyword: Optional[str] = None,
                                     size: Optional[int] = None,
                                     offset: Optional[int] = None
                                     ) -> List[dict]:
        ents = self._project_children(project_id_or_name,
                                      (EntityType.DerivedFeature,), keyword)
        return _page([_ent(e) for e in ents], size, offset)

    def get_project_derived_feature(self, project_id_or_name: str,
                                    id_or_name: str) -> dict:
        return _ent(self._child(project_id_or_name,
                                EntityType.DerivedFeature, id_or_name))

    def get_project_derived_feature_versions(self, project_id_or_name: str,
                                             id_or_name: str) -> List[dict]:
        return self._versions(project_id_or_name, EntityType.DerivedFeature,
                              id_or_name)

    def get_project_derived_feature_version(self, project_id_or_name: str,
                                            id_or_name: str,
                                            version: Optional[int] = None
                                            ) -> dict:
        return self._version(project_id_or_name, EntityType.DerivedFeature,
                             id_or_name, version)

    def create_project_derived_feature(self, project_id_or_name: str,
                                       definition: dict) -> dict:
        return self._create_child(project_id_or_name,
                                  EntityType.DerivedFeature, definition)

    # -- anchor features -------------------------------------------------
    def get_anchor_features(self, project_id_or_name: str,
                            anchor_id_or_name: str,
                            keyword: Optional[str] = None,
                            size: Optional[int] = None,
                            offset: Optional[int] = None) -> List[dict]:
        anchor = self._child(project_id_or_name, EntityType.Anchor,
                             anchor_id_or_name)
        by_id = {e.id: e for e in self.registry._all_entities()}
        feats = [by_id[r.to_id] for r in self.registry.edges()
                 if r.from_id == anchor.id
                 and r.edge_type == EdgeType.Contains and r.to_id in by_id
                 and by_id[r.to_id].entity_type == EntityType.AnchorFeature]
        if keyword:
            feats = self._filter(feats, keyword)
        return _page([_ent(e) for e in sorted(
            feats, key=lambda e: e.qualified_name)], size, offset)

    def get_anchor_feature(self, project_id_or_name: str,
                           anchor_id_or_name: str, id_or_name: str) -> dict:
        for f in self.get_anchor_features(project_id_or_name,
                                          anchor_id_or_name):
            if id_or_name in (f["guid"], f["name"], f["qualifiedName"]):
                return f
        raise RegistryError(f"anchor feature not found: {id_or_name}")

    def get_anchor_feature_versions(self, project_id_or_name: str,
                                    anchor_id_or_name: str,
                                    id_or_name: str) -> List[dict]:
        base = self.get_anchor_feature(project_id_or_name, anchor_id_or_name,
                                       id_or_name)["qualifiedName"]
        vs = [e for e in self.registry._all_entities()
              if e.qualified_name == base
              and e.entity_type == EntityType.AnchorFeature]
        return [_ent(e) for e in sorted(vs, key=lambda e: e.version)]

    def get_anchor_feature_version(self, project_id_or_name: str,
                                   anchor_id_or_name: str, id_or_name: str,
                                   version: Optional[int] = None) -> dict:
        vs = self.get_anchor_feature_versions(project_id_or_name,
                                              anchor_id_or_name, id_or_name)
        if version is None:
            return vs[-1]
        for v in vs:
            if v["version"] == version:
                return v
        raise RegistryError(f"version {version} not found for {id_or_name}")

    def create_anchor_feature(self, project_id_or_name: str,
                              anchor_id_or_name: str,
                              definition: dict) -> dict:
        p = self._project(project_id_or_name)
        anchor = self._child(project_id_or_name, EntityType.Anchor,
                             anchor_id_or_name)
        anchor_base = anchor.qualified_name[len(p.qualified_name) + 2:]
        qn = f"{p.qualified_name}__{anchor_base}__{definition['name']}"
        e = self.registry.create_entity(qn, EntityType.AnchorFeature,
                                        dict(definition))
        self.registry.add_edge(p.id, EdgeType.Contains, e.id)
        self.registry.add_edge(e.id, EdgeType.BelongsTo, p.id)
        self.registry.add_edge(anchor.id, EdgeType.Contains, e.id)
        return _ent(e)

    # -- cross-project feature lookups ----------------------------------
    def get_feature(self, id_or_name: str) -> dict:
        return _ent(self._feature(id_or_name))

    def get_feature_lineage(self, id_or_name: str) -> dict:
        f = self._feature(id_or_name)
        return self._lineage([f] + self.registry.lineage(f.id, "upstream")
                             + self.registry.lineage(f.id, "downstream"))

    def get_entity_project(self, id_or_name: str) -> dict:
        """Walk BelongsTo edges upward (feature → anchor → project) until
        hitting the owning Project entity."""
        e = self.registry.get_entity(id_or_name)
        by_id = {x.id: x for x in self.registry._all_entities()}
        up = {r.from_id: r.to_id for r in self.registry.edges()
              if r.edge_type == EdgeType.BelongsTo}
        seen = set()
        while e.entity_type != EntityType.Project:
            if e.id in seen or e.id not in up or up[e.id] not in by_id:
                raise RegistryError(f"no project for entity {id_or_name}")
            seen.add(e.id)
            e = by_id[up[e.id]]
        return _ent(e)

    # -- internals -------------------------------------------------------
    def _lineage(self, ents: List[Entity]) -> dict:
        """Lineage payload over ``ents`` and the edges among them. An
        anchor created through this API (:meth:`create_project_anchor`,
        then :meth:`create_anchor_feature`) stores no ``features``; it is
        served with the entity references of its ``Contains`` edges, the
        Atlas anchor shape the reference registry serves."""
        by_id = {e.id: e for e in ents}
        relations = [r for r in self.registry.edges()
                     if r.from_id in by_id and r.to_id in by_id]
        out = {i: _ent(e) for i, e in by_id.items()}
        for i, e in by_id.items():
            if e.entity_type == EntityType.Anchor \
                    and "features" not in e.attributes:
                out[i]["attributes"] = {**e.attributes, "features": [
                    entity_ref(by_id[r.to_id]) for r in relations
                    if r.from_id == i and r.edge_type == EdgeType.Contains
                    and by_id[r.to_id].entity_type
                    == EntityType.AnchorFeature]}
        return {
            "guidEntityMap": out,
            "relations": [
                {"fromEntityId": r.from_id, "toEntityId": r.to_id,
                 "relationshipType": r.edge_type.value}
                for r in relations],
        }

    def _of_type(self, et: EntityType,
                 keyword: Optional[str]) -> List[Entity]:
        ents = [e for e in self.registry._all_entities()
                if e.entity_type == et]
        if keyword:
            ents = self._filter(ents, keyword)
        return sorted(ents, key=lambda e: (e.qualified_name, -e.version))

    def _filter(self, ents: List[Entity], keyword: str) -> List[Entity]:
        hits = {e.id for e in self.registry.search(keyword)}
        return [e for e in ents if e.id in hits]

    def _project(self, id_or_name: str) -> Entity:
        e = self.registry.get_entity(id_or_name)
        if e.entity_type != EntityType.Project:
            raise RegistryError(f"{id_or_name} is not a project")
        return e

    def _children(self, p: Entity) -> List[Entity]:
        """Transitive Contains closure (project → anchors → their
        features): the reference's workspace entity lists anchor features
        as project children even though they hang off the anchor."""
        by_id = {e.id: e for e in self.registry._all_entities()}
        adj: Dict[str, List[str]] = {}
        for r in self.registry.edges():
            if r.edge_type == EdgeType.Contains:
                adj.setdefault(r.from_id, []).append(r.to_id)
        seen, frontier, out = {p.id}, [p.id], []
        while frontier:
            nxt = []
            for nid in frontier:
                for c in adj.get(nid, []):
                    if c not in seen and c in by_id:
                        seen.add(c)
                        out.append(by_id[c])
                        nxt.append(c)
            frontier = nxt
        return out

    def _project_children(self, project: str, types: tuple,
                          keyword: Optional[str] = None) -> List[Entity]:
        p = self._project(project)
        ents = [e for e in self._children(p) if e.entity_type in types]
        if keyword:
            ents = self._filter(ents, keyword)
        return sorted(ents, key=lambda e: (e.qualified_name, -e.version))

    def _child(self, project: str, et: EntityType, id_or_name: str) -> Entity:
        p = self._project(project)
        for e in self._project_children(project, (et,)):
            if id_or_name in (e.id, e.qualified_name):
                return e
            if e.qualified_name == f"{p.qualified_name}__{id_or_name}":
                return e
        raise RegistryError(f"{et.value} not found: {id_or_name}")

    def _versions(self, project: str, et: EntityType,
                  id_or_name: str) -> List[dict]:
        base = self._child(project, et, id_or_name).qualified_name
        vs = [e for e in self.registry._all_entities()
              if e.qualified_name == base and e.entity_type == et]
        return [_ent(e) for e in sorted(vs, key=lambda e: e.version)]

    def _version(self, project: str, et: EntityType, id_or_name: str,
                 version: Optional[int]) -> dict:
        vs = self._versions(project, et, id_or_name)
        if version is None:
            return vs[-1]
        for v in vs:
            if v["version"] == version:
                return v
        raise RegistryError(f"version {version} not found for {id_or_name}")

    def _create_child(self, project: str, et: EntityType,
                      definition: dict) -> dict:
        p = self._project(project)
        qn = f"{p.qualified_name}__{definition['name']}"
        e = self.registry.create_entity(qn, et, dict(definition))
        self.registry.add_edge(p.id, EdgeType.Contains, e.id)
        self.registry.add_edge(e.id, EdgeType.BelongsTo, p.id)
        return _ent(e)

    def _feature(self, id_or_name: str) -> Entity:
        e = self.registry.get_entity(id_or_name)
        if e.entity_type not in (EntityType.AnchorFeature,
                                 EntityType.DerivedFeature):
            raise RegistryError(f"{id_or_name} is not a feature")
        return e


def _snake(name: str) -> str:
    return re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()
