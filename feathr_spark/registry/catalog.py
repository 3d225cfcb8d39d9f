"""Metadata registry: entity graph, versioning, lineage, search.

Re-expresses the reference registry's data model in-process
(/root/reference/registry/): 5 entity types and 4 edge types with the
validity matrix (registry-provider/src/models/entity.rs:14-23,
models/edge.rs:8-19,45-115), version-suffix name resolution
(registry.rs:11-25, 272-301), lineage BFS over Consumes/Produces edges
(registry.rs:249-270), and substring full-text search standing in for the
reference's Tantivy index (sql-provider/src/fts.rs). Storage mirrors the
two-table layout of registry/scripts/sqlite.sql (entities + edges), via
sqlite3 or in-memory.

This is a metadata concern, not a dataflow concern — no Spark imports.
"""

from __future__ import annotations

import json
import re
import sqlite3
import uuid
from collections import deque
from dataclasses import dataclass, field
from enum import Enum
from typing import Dict, List, Optional, Set, Tuple


class EntityType(str, Enum):
    Project = "Project"
    Source = "Source"
    Anchor = "Anchor"
    AnchorFeature = "AnchorFeature"
    DerivedFeature = "DerivedFeature"


class EdgeType(str, Enum):
    BelongsTo = "BelongsTo"
    Contains = "Contains"
    Consumes = "Consumes"
    Produces = "Produces"


# (from, edge, to) validity matrix — reference models/edge.rs:45-115
VALID_EDGES: Set[Tuple[EntityType, EdgeType, EntityType]] = {
    (EntityType.Source, EdgeType.BelongsTo, EntityType.Project),
    (EntityType.Anchor, EdgeType.BelongsTo, EntityType.Project),
    (EntityType.AnchorFeature, EdgeType.BelongsTo, EntityType.Project),
    (EntityType.DerivedFeature, EdgeType.BelongsTo, EntityType.Project),
    (EntityType.AnchorFeature, EdgeType.BelongsTo, EntityType.Anchor),
    (EntityType.Project, EdgeType.Contains, EntityType.Source),
    (EntityType.Project, EdgeType.Contains, EntityType.Anchor),
    (EntityType.Project, EdgeType.Contains, EntityType.AnchorFeature),
    (EntityType.Project, EdgeType.Contains, EntityType.DerivedFeature),
    (EntityType.Anchor, EdgeType.Contains, EntityType.AnchorFeature),
    (EntityType.Anchor, EdgeType.Consumes, EntityType.Source),
    (EntityType.AnchorFeature, EdgeType.Consumes, EntityType.Source),
    (EntityType.DerivedFeature, EdgeType.Consumes, EntityType.AnchorFeature),
    (EntityType.DerivedFeature, EdgeType.Consumes, EntityType.DerivedFeature),
    (EntityType.Source, EdgeType.Produces, EntityType.AnchorFeature),
    (EntityType.Anchor, EdgeType.Produces, EntityType.AnchorFeature),
    (EntityType.AnchorFeature, EdgeType.Produces, EntityType.DerivedFeature),
    (EntityType.DerivedFeature, EdgeType.Produces, EntityType.DerivedFeature),
}


class RegistryError(Exception):
    pass


_GUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


@dataclass
class Entity:
    id: str
    qualified_name: str
    entity_type: EntityType
    version: int = 1
    attributes: Dict = field(default_factory=dict)


@dataclass(frozen=True)
class Edge:
    from_id: str
    to_id: str
    edge_type: EdgeType


def parse_version_suffix(name: str) -> Tuple[str, Optional[int]]:
    """``name:3`` → (name, 3); ``name:latest``/bare → (name, None).
    Mirrors reference registry.rs:11-25."""
    if ":" in name:
        base, _, suffix = name.rpartition(":")
        if suffix == "latest":
            return base, None
        try:
            return base, int(suffix)
        except ValueError:
            pass
    return name, None


class Registry:
    """Entity-graph registry over sqlite (file or :memory:)."""

    def __init__(self, path: str = ":memory:"):
        # check_same_thread=False lets the HTTP layer's worker threads use
        # the connection; callers that share a Registry across threads must
        # serialize access (RegistryHttpServer holds a dispatch lock).
        self.db = sqlite3.connect(path, check_same_thread=False)
        # two-table layout per registry/scripts/sqlite.sql
        self.db.executescript("""
            CREATE TABLE IF NOT EXISTS entities(
                entity_id TEXT PRIMARY KEY,
                entity_content TEXT NOT NULL);
            CREATE TABLE IF NOT EXISTS edges(
                from_id TEXT NOT NULL,
                to_id TEXT NOT NULL,
                edge_type TEXT NOT NULL,
                PRIMARY KEY (from_id, to_id, edge_type));
        """)

    # -- entity CRUD + versioning ------------------------------------
    def create_entity(self, qualified_name: str, entity_type: EntityType,
                      attributes: Optional[Dict] = None) -> Entity:
        """Insert a new version: same name → version = latest + 1
        (reference registry.rs:272-301)."""
        latest = self._latest_version(qualified_name)
        # Content-addressed id, not uuid4: (qualified_name, version) is
        # unique by construction, and a DETERMINISTIC id is required for
        # Raft-replicated applies — every replica must mint the same id
        # for the same command sequence (registry/raft.py state machine).
        eid = str(uuid.uuid5(uuid.NAMESPACE_URL,
                             f"feathr-entity:{qualified_name}:v{latest + 1}"))
        e = Entity(id=eid, qualified_name=qualified_name,
                   entity_type=entity_type, version=latest + 1,
                   attributes=attributes or {})
        self.db.execute(
            "INSERT INTO entities VALUES (?, ?)",
            (e.id, json.dumps({
                "qualified_name": e.qualified_name,
                "entity_type": e.entity_type.value,
                "version": e.version,
                "attributes": e.attributes,
            })))
        self.db.commit()
        return e

    def _latest_version(self, qualified_name: str) -> int:
        best = 0
        for e in self._all_entities():
            if e.qualified_name == qualified_name:
                best = max(best, e.version)
        return best

    @staticmethod
    def _entity(eid: str, content: str) -> Entity:
        d = json.loads(content)
        return Entity(id=eid, qualified_name=d["qualified_name"],
                      entity_type=EntityType(d["entity_type"]),
                      version=d["version"], attributes=d["attributes"])

    def _all_entities(self) -> List[Entity]:
        return [self._entity(*row)
                for row in self.db.execute("SELECT * FROM entities")]

    def get_entity(self, name_or_id: str) -> Entity:
        """Resolve by id (a primary-key lookup), or by qualified name with
        optional ``:N`` / ``:latest`` version suffix."""
        row = self.db.execute("SELECT * FROM entities WHERE entity_id = ?",
                              (name_or_id,)).fetchone()
        if row is not None:
            return self._entity(*row)
        base, version = parse_version_suffix(name_or_id)
        matches = [e for e in self._all_entities() if e.qualified_name == base]
        if not matches:
            raise RegistryError(f"entity not found: {name_or_id}")
        if version is None:
            return max(matches, key=lambda e: e.version)
        for e in matches:
            if e.version == version:
                return e
        raise RegistryError(f"version {version} not found for {base}")

    def delete_entity(self, name_or_id: str) -> None:
        e = self.get_entity(name_or_id)
        self.db.execute("DELETE FROM entities WHERE entity_id = ?", (e.id,))
        self.db.execute("DELETE FROM edges WHERE from_id = ? OR to_id = ?",
                        (e.id, e.id))
        self.db.commit()

    # -- edges --------------------------------------------------------
    def add_edge(self, from_: str, edge_type: EdgeType, to: str) -> Edge:
        a, b = self.get_entity(from_), self.get_entity(to)
        if (a.entity_type, edge_type, b.entity_type) not in VALID_EDGES:
            raise RegistryError(
                f"invalid edge {a.entity_type.value} -{edge_type.value}-> "
                f"{b.entity_type.value} (edge.rs validity matrix)")
        self.db.execute("INSERT OR IGNORE INTO edges VALUES (?, ?, ?)",
                        (a.id, b.id, edge_type.value))
        self.db.commit()
        return Edge(a.id, b.id, edge_type)

    def edges(self) -> List[Edge]:
        return [Edge(f, t, EdgeType(et))
                for f, t, et in self.db.execute("SELECT * FROM edges")]

    # -- lineage: BFS over Consumes (upstream) / Produces (downstream) --
    def lineage(self, name_or_id: str, direction: str = "upstream",
                max_depth: int = 10) -> List[Entity]:
        """reference registry.rs:249-270 (bfs registry.rs:83-88):
        upstream follows Consumes edges, downstream follows Produces."""
        start = self.get_entity(name_or_id)
        edge_type = EdgeType.Consumes if direction == "upstream" else EdgeType.Produces
        adj: Dict[str, List[str]] = {}
        for e in self.edges():
            if e.edge_type == edge_type:
                adj.setdefault(e.from_id, []).append(e.to_id)
        seen = {start.id}
        order: List[str] = []
        frontier = deque([(start.id, 0)])
        while frontier:
            nid, d = frontier.popleft()
            if d >= max_depth:
                continue
            for nxt in adj.get(nid, []):
                if nxt not in seen:
                    seen.add(nxt)
                    order.append(nxt)
                    frontier.append((nxt, d + 1))
        by_id = {e.id: e for e in self._all_entities()}
        return [by_id[i] for i in order if i in by_id]

    # -- search -------------------------------------------------------
    #
    # Tokenized, prefix-capable, field-weighted search approximating the
    # reference's Tantivy FTS (registry/sql-provider/src/fts.rs:59-265):
    # the name field is indexed separately from the attribute body and
    # scores higher, query terms AND together, and each term matches a
    # token exactly or, from 3 characters on, as a prefix (Tantivy's
    # en_stem tokenizer reduces inflections; prefix matching covers the
    # same "feature" ~ "features" ground without a stemmer dependency).

    @staticmethod
    def _tokenize(text: str) -> List[str]:
        """Lowercased tokens split on non-alphanumerics AND camelCase
        boundaries, so `nycTaxiBatchSource` is findable by `taxi`."""
        parts = re.split(r"[^0-9A-Za-z]+", text)
        out: List[str] = []
        for p in parts:
            if not p:
                continue
            out.extend(m.group(0).lower() for m in
                       re.finditer(r"[0-9]+|[A-Z]+(?![a-z])|[A-Z]?[a-z]+", p))
        return out

    def _search_doc(self, e: Entity) -> Tuple[set, set]:
        """(name tokens, body tokens) for one entity. The body leaves out
        the guids of entity references: their hex fragments are no
        search terms."""
        name_toks = set(self._tokenize(e.qualified_name))
        if isinstance(e.attributes.get("name"), str):
            name_toks |= set(self._tokenize(e.attributes["name"]))
        body = _GUID.sub(" ", json.dumps(e.attributes))
        return name_toks, set(self._tokenize(body))

    def search(self, query: str, entity_type: Optional[EntityType] = None,
               limit: Optional[int] = None) -> List[Entity]:
        """Multi-token AND search: every query term must hit some token
        of the entity's name or attributes, exactly or, for a term of 3 or
        more characters, as a prefix (a 1- or 2-character term such as the
        ``c`` of ``f_c`` would otherwise prefix-match nearly every entity).
        Name-field hits outrank body-only hits (fts.rs name_score boost);
        ties break on qualified name then newest version."""
        terms = self._tokenize(query)
        if not terms:
            return []
        scored: List[Tuple[float, Entity]] = []
        for e in self._all_entities():
            if entity_type is not None and e.entity_type != entity_type:
                continue
            name_toks, body_toks = self._search_doc(e)
            score = 0.0
            for t in terms:
                prefix = len(t) >= 3
                if t in name_toks:
                    score += 3.0       # exact name token
                elif prefix and any(tok.startswith(t) for tok in name_toks):
                    score += 2.0       # name prefix
                elif t in body_toks:
                    score += 1.0       # exact body token
                elif prefix and any(tok.startswith(t) for tok in body_toks):
                    score += 0.5       # body prefix
                else:
                    score = 0.0
                    break              # AND semantics: every term must hit
            if score > 0:
                scored.append((score, e))
        scored.sort(key=lambda se: (-se[0], se[1].qualified_name,
                                    -se[1].version))
        out = [e for _, e in scored]
        return out[:limit] if limit else out
