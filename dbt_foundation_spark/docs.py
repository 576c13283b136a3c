"""Docs artifacts — the ``dbt docs generate`` analog.

dbt emits two JSON artifacts: ``manifest.json`` (the compiled graph —
nodes, configs, dependencies, checksums) and ``catalog.json`` (what the
warehouse actually holds — columns, types, stats per relation).
``generate_docs`` produces both from the in-process manifest plus the
Spark catalog, so downstream tooling (lineage UIs, diff-based CI, the
state:modified selector of a later invocation) has the same contract
files a dbt project ships.

The catalog half reads ONLY metadata (``spark.table(...).schema`` and
DESCRIBE output) — no data scan, so generation is constant-cost at any
corpus size.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any

from dbt_foundation_spark.project import Project


def generate_docs(project: Project, path: str | None = None) -> dict[str, Any]:
    """Build {"manifest": ..., "catalog": ...}; optionally write
    ``manifest.json`` + ``catalog.json`` under ``path``."""
    project._bind_refs()
    manifest: dict[str, Any] = {"nodes": {}, "sources": [], "exposures": {}}
    for node in project.manifest.nodes.values():
        if node.resource_type == "exposure":
            manifest["exposures"][node.name] = {
                "depends_on": sorted(node.depends_on),
                **{
                    k: v
                    for k, v in node.config.extra.items()
                    if k in ("exposure_type", "owner", "url", "description")
                },
            }
            continue
        manifest["nodes"][node.name] = {
            "resource_type": node.resource_type,
            "materialized": node.config.materialized,
            "schema": project.schema_for(node),
            "alias": node.alias,
            "tags": list(node.config.tags),
            "depends_on": sorted(node.depends_on),
            "sources": sorted(f"{s}.{t}" for s, t in node.source_deps),
            "columns": node.columns,
            "checksum": node.checksum(),
        }
    for src in project.sources.items():
        manifest["sources"].append(
            {
                "source": src.source_name,
                "table": src.table_name,
                "format": src.fmt,
                "path": src.path,
                "catalog_table": src.catalog_table,
                "loaded_at_field": src.loaded_at_field,
            }
        )

    catalog: dict[str, Any] = {}
    for node in project.manifest.nodes.values():
        if node.resource_type == "exposure":
            continue
        rel = project.relation_name(node)
        if not project.spark.catalog.tableExists(rel):
            continue
        schema = project.spark.table(rel).schema
        catalog[rel] = {
            "node": node.name,
            "columns": [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in schema.fields
            ],
        }

    artifacts = {"manifest": manifest, "catalog": catalog}
    if path:
        out = Path(path)
        out.mkdir(parents=True, exist_ok=True)
        (out / "manifest.json").write_text(json.dumps(manifest, indent=1, default=str))
        (out / "catalog.json").write_text(json.dumps(catalog, indent=1, default=str))
    return artifacts
