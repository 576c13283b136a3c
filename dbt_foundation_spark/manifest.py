"""Manifest — the engine's DAG IR (dbt's ``graph.nodes`` analog).

Reference semantics re-expressed:
- nodes carry ``resource_type``, ``config.schema``, ``alias`` exactly as
  the orphan macro consumes them (macros/list_orphaned_objects.sql:45-48);
- edges come from a model's ``ref()``/``source()`` calls, read once when
  it is registered (dbt reads them while parsing — §3 step 2 of
  SURVEY.md): ``refs`` holds the patterns, ``Project._bind_refs``
  resolves them into ``depends_on``;
- ``ref`` resolves to a 2-part ``schema.alias`` name, never 3-part
  (macros/overrides/ref.sql:20-25 strips the database for clone-safety).

The manifest holds the graph; it does not schedule it. ``Project.run``
releases each node to its thread pool when the node's last parent has
finished, so a build has no generation barriers.
"""

from __future__ import annotations

import hashlib
import inspect
from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter
from typing import Any, Callable


@dataclass
class NodeConfig:
    materialized: str = "view"
    schema: str | None = None  # custom schema (generate_schema_name input)
    alias: str | None = None
    tags: tuple[str, ...] = ()
    unique_key: str | tuple[str, ...] | None = None
    incremental_strategy: str = "append"  # append | insert_overwrite | merge
    partition_by: tuple[str, ...] = ()
    bucket_by: tuple[str, ...] = ()  # hive-bucketed table layout
    buckets: int = 0  # bucket count (with bucket_by)
    cluster_by: tuple[str, ...] = ()  # sort-within-files data-skipping layout
    on_schema_change: str = "ignore"  # ignore | fail | append_new_columns | sync_all_columns
    pre_hook: tuple[str, ...] = ()  # SQL run before materialization ({this} -> relation)
    post_hook: tuple[str, ...] = ()  # SQL run after materialization
    incremental_predicates: tuple[str, ...] = ()  # SQL conjuncts bounding the merge scan
    extra: dict[str, Any] = field(default_factory=dict)


@dataclass
class Node:
    name: str
    resource_type: str  # model | seed | snapshot | source | test
    config: NodeConfig
    fn: Callable[..., Any] | None = None  # (ctx) -> DataFrame, or None for seeds
    sql: str | None = None  # SQL-string models
    path: str | None = None  # seeds: csv path
    depends_on: set[str] = field(default_factory=set)
    source_deps: set[tuple[str, str]] = field(default_factory=set)
    columns: dict[str, dict] = field(default_factory=dict)  # docs/tests metadata
    package: str | None = None  # owning package (2-arg ref target)
    base_name: str | None = None  # logical name for versioned models
    version: int | None = None  # model version (ref version= kwarg)
    # ref() calls read at registration as (name, package, version),
    # resolved to node keys when edges are bound (registration order
    # independent); source() pairs go straight into source_deps
    refs: tuple[tuple[str, str | None, int | None], ...] = ()
    dynamic: bool = False  # calls not all readable: one capture render binds them

    @property
    def alias(self) -> str:
        return self.config.alias or self.name

    def checksum(self) -> str:
        """Content hash for state:modified+ selection (README.md:280)."""
        if self.sql is not None:
            body = self.sql
        elif self.fn is not None:
            try:
                body = inspect.getsource(self.fn)
            except (OSError, TypeError):
                body = repr(self.fn)
        else:
            body = self.path or ""
        return hashlib.sha256(body.encode()).hexdigest()


class Manifest:
    """Node registry + DAG: ref resolution, downstream closure and
    topological layers."""

    _AMBIGUOUS = "!ambiguous"

    def __init__(self) -> None:
        self.nodes: dict[str, Node] = {}
        # ref-resolution index: (package|None, logical name) -> {version|None: node key}
        self._refs: dict[tuple[str | None, str], dict[int | None, str]] = {}
        self._latest: dict[tuple[str | None, str], int] = {}

    def add(self, node: Node) -> None:
        if node.name in self.nodes:
            raise ValueError(f"duplicate node name: {node.name}")
        self.nodes[node.name] = node
        base = node.base_name or node.name
        for pkg in {node.package, None}:
            versions = self._refs.setdefault((pkg, base), {})
            existing = versions.get(node.version)
            if existing is not None and existing != node.name:
                if pkg is None:
                    # same logical name from two packages: unqualified
                    # ref becomes ambiguous, package-qualified still works
                    versions[node.version] = self._AMBIGUOUS
                else:
                    raise ValueError(
                        f"duplicate model {base!r} v{node.version} in package {pkg!r}"
                    )
            else:
                versions[node.version] = node.name

    def set_latest_version(self, base: str, version: int, package: str | None = None) -> None:
        """Pin which version an unversioned ref resolves to (dbt's
        ``latest_version`` config; default is the highest version)."""
        for pkg in {package, None}:
            self._latest[(pkg, base)] = version

    def resolve_ref(
        self, name: str, package: str | None = None, version: int | None = None
    ) -> str:
        """Node key for ``ref([package,] name[, version=n])`` — the
        reference's override forwards exactly these shapes
        (macros/overrides/ref.sql:10-26)."""
        versions = self._refs.get((package, name))
        if not versions:
            if package is None and version is None and name in self.nodes:
                return name  # direct node-key hit (e.g. 'fact.v2')
            raise KeyError(
                f"ref({name!r}"
                + (f", package={package!r}" if package else "")
                + "): unknown model"
            )
        if version is not None:
            key = versions.get(version)
            if key is None:
                raise KeyError(f"ref({name!r}, version={version}): no such version")
        elif None in versions:
            key = versions[None]  # unversioned model wins for a bare ref
        else:
            latest = self._latest.get((package, name), max(v for v in versions))
            key = versions[latest]
        if key == self._AMBIGUOUS:
            raise KeyError(
                f"ref({name!r}) is ambiguous across packages — use ref(package, {name!r})"
            )
        return key

    def __contains__(self, name: str) -> bool:
        return name in self.nodes

    def __getitem__(self, name: str) -> Node:
        return self.nodes[name]

    def models(self) -> list[Node]:
        return [n for n in self.nodes.values() if n.resource_type == "model"]

    def downstream(self, names: set[str]) -> set[str]:
        """names plus every transitive consumer (the '+' in state:modified+)."""
        out = set(names)
        changed = True
        while changed:
            changed = False
            for n in self.nodes.values():
                if n.name not in out and (n.depends_on & out):
                    out.add(n.name)
                    changed = True
        return out

    def sorter(self, names: set[str]) -> TopologicalSorter:
        """A prepared ``graphlib`` sorter over ``names`` and the edges
        among them: ``Project.run``'s ready queue. Raises ``ValueError``
        on a dependency cycle."""
        graph = TopologicalSorter({n: self.nodes[n].depends_on & names for n in names})
        try:
            graph.prepare()
        except CycleError as e:
            raise ValueError(f"dependency cycle among: {sorted(set(e.args[1]))}") from None
        return graph

    def topo_generations(self, subset: set[str] | None = None) -> list[list[Node]]:
        """Generations of the DAG: each generation's nodes depend only on
        nodes of earlier generations. A layered view of the DAG
        (perfbench's per-layer figures read it); builds do not run by
        generation. Raises ``ValueError`` on a dependency cycle."""
        graph = self.sorter(set(self.nodes) if subset is None else set(subset))
        gens: list[list[Node]] = []
        while graph.is_active():
            gen = sorted(graph.get_ready())
            gens.append([self.nodes[n] for n in gen])
            graph.done(*gen)
        return gens
