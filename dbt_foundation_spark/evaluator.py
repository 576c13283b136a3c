"""Project evaluator — DAG best-practice lint (reference: the pinned
``dbt_project_evaluator`` 1.1.2 package, /root/reference/packages.yml:8-9,
README.md:264-266,281, run as ``dbt run-operation project_evaluator``).

The upstream package materializes its checks as warehouse models over
dbt's graph tables; here the graph is the in-process ``Manifest``, so
every check is a pure-Python pass — no Spark jobs, instant at any scale.

Checks implemented (the package's core "DAG issues" + "testing/docs
coverage" families):

- root_models: models with no upstream ref/source (likely hard-coded
  inputs).
- source_fanout: a source consumed by >1 model (should have exactly one
  staging model).
- direct_source_join: a model mixing raw source reads with model refs
  (staging layer bypassed).
- model_fanout: a model with more than ``max_fanout`` direct children
  (missing intermediate rollup).
- bidirectional_pair: A depends on B and B on A — always a bug (cycle).
- unused_sources: declared in the registry but never read by any model.
- naming_convention: staging models (direct source consumers) should be
  ``stg_``-prefixed; marts should not.
- untested_models / undocumented_models: coverage by declared column
  metadata.
- hard_coded_reference: model body reads a warehouse relation directly
  (multi-part ``FROM``/``JOIN`` target in SQL models; ``spark.table`` /
  ``spark.read`` / ``spark.sql`` in function models) instead of going
  through ``ref()``/``source()`` — the package's
  ``fct_hard_coded_references``.
- staging_depends_on_downstream: a ``stg_`` model refs a non-staging
  model — dependencies must flow staging → marts, never back
  (``fct_staging_dependent_on_marts_or_intermediate``).
- duplicate_sources: two declared sources point at the same physical
  relation (path or catalog table) — ``fct_duplicate_sources``.
- exposure_parent_materialization: an exposure (dashboard/ML job)
  depends on a view or ephemeral model — BI-facing parents should be
  persisted contracts (``fct_exposure_parents_materializations``).
- test_coverage / documentation_coverage: PROJECT-WIDE ratios of models
  carrying column tests / docs, flagged when below a configurable
  threshold (the package's ``fct_test_coverage`` /
  ``fct_documentation_coverage`` with their
  ``test_coverage_target`` / ``documentation_coverage_target`` vars,
  both defaulting to 100%) — distinct from the per-model
  untested/undocumented rows, which name the offenders.
- missing_primary_key_tests: no column carries BOTH ``unique`` and
  ``not_null`` tests — the package's ``fct_missing_primary_key_tests``
  (a grain nobody asserts is a grain nobody can trust).
- sources_without_freshness: a source consumed by the DAG that declares
  no ``loaded_at_field``/staleness budget
  (``fct_sources_without_freshness``) — its staleness is invisible to
  ``check_freshness``.
- chained_view_dependencies: ≥ ``max_chained_views`` consecutive
  view/ephemeral models in one lineage path
  (``fct_chained_views_dependencies``): every query of the tail
  recomputes the whole chain; materialize an intermediate.
- rejoining_of_upstream_concepts: C refs both A and B where B refs A
  and C is B's only child (``fct_rejoining_of_upstream_concepts``) —
  the triangle means B's logic belongs in C (or C should read B only).
- multiple_sources_joined: one model reads >1 distinct source
  (``fct_multiple_sources_joined``) — each source should flow through
  its own staging model before anything joins them.
- too_many_joins: a model with more than ``max_joins`` direct parents
  (models + sources; ``fct_too_many_joins``) — an over-wide join fans
  the shuffle graph out and usually hides a missing intermediate.
- exposures_dependent_on_private_models: an exposure's parent model is
  not ``access: public`` (``fct_exposures_dependent_on_private_models``
  over dbt 1.5 groups/access) — BI-facing contracts must be public.
- staging_dependent_on_staging: a ``stg_`` model refs another ``stg_``
  model (``fct_staging_dependent_on_staging``) — each staging model
  reads its source directly; shared cleanup is an intermediate.
- undocumented_source_tables / undocumented_sources: declared source
  tables without a table-level ``description``, and source GROUPS
  where no table carries a ``source_description``
  (``fct_undocumented_source_tables`` / ``fct_undocumented_sources``).
- undocumented_public_models: ``access: public`` models without a
  model-level ``description`` (``fct_undocumented_public_models``) —
  a contract other teams build on must say what it is.

Rule-by-rule parity vs dbt_project_evaluator 1.1.2 — every ``fct_*``
model in the package, mapped to its check here (the auditable table
the round-5 review asked for):

========================================== ==================================
package model (``fct_``)                   here
========================================== ==================================
bidirectional_relationships                bidirectional_pair
direct_join_to_source                      direct_source_join
duplicate_sources                          duplicate_sources
hard_coded_references                      hard_coded_reference
marts_or_intermediate_dependent_on_source  naming_convention ("reads sources
                                           but not stg_-prefixed") +
                                           direct_source_join — together they
                                           flag every non-staging source read
model_fanout                               model_fanout
multiple_sources_joined                    multiple_sources_joined
rejoining_of_upstream_concepts             rejoining_of_upstream_concepts
root_models                                root_models
source_fanout                              source_fanout
staging_dependent_on_marts_or_intermediate staging_depends_on_downstream
staging_dependent_on_staging               staging_dependent_on_staging
too_many_joins                             too_many_joins
unused_sources                             unused_sources
missing_primary_key_tests                  missing_primary_key_tests
sources_without_freshness                  sources_without_freshness
test_coverage                              test_coverage (ratio) +
                                           untested_models (per offender)
documentation_coverage                     documentation_coverage (ratio) +
                                           undocumented_models (per offender)
undocumented_models                        undocumented_models (column docs —
                                           the registry's docs surface)
undocumented_source_tables                 undocumented_source_tables
undocumented_sources                       undocumented_sources
chained_views_dependencies                 chained_view_dependencies
exposure_parents_materializations          exposure_parent_materialization
exposures_dependent_on_private_models      exposures_dependent_on_private_models
undocumented_public_models                 undocumented_public_models
model_naming_conventions                   naming_convention (stg_ prefix —
                                           the one layer boundary the
                                           in-process registry encodes)
model_directories                          N/A — models are in-process
                                           Python/SQL registrations; there is
                                           no models/ directory tree whose
                                           paths could match or mismatch
source_directories                         N/A — sources are registry
                                           entries, not YAML files in a tree
test_directories                           N/A — generic tests attach to
                                           columns in code, not test files
========================================== ==================================
"""

from __future__ import annotations

import inspect
import re
from dataclasses import dataclass

from dbt_foundation_spark.project import Project

# multi-part FROM/JOIN target left in a SQL model AFTER ref()/source()
# calls are stripped (same family as the M16 lint's _THREE_PART check,
# widened to 2-part names: any dotted relation is a bypass)
_HARD_SQL_TARGET = re.compile(r"\b(?:from|join)\s+([a-zA-Z_]\w*(?:\.\w+)+)", re.I)
_REF_CALL = re.compile(r"\b(?:ref|source)\s*\([^)]*\)")
# direct SparkSession reads inside a function model (ctx.spark.table(...)
# etc.) — the function-model shape of a hard-coded reference
_HARD_FN_READ = re.compile(r"\bspark\s*\.\s*(table|sql|read)\b")


def _test_names(spec) -> set[str]:
    """Declared test names on one column spec (string or {name: cfg})."""
    out: set[str] = set()
    for t_ in spec.get("tests", ()) or ():
        out.add(t_ if isinstance(t_, str) else next(iter(t_), ""))
    return out


@dataclass(frozen=True)
class Finding:
    check: str
    node: str
    detail: str

    def __str__(self) -> str:  # pragma: no cover - display only
        return f"[{self.check}] {self.node}: {self.detail}"


def evaluate(
    project: Project,
    max_fanout: int = 3,
    test_coverage_target: float = 1.0,
    documentation_coverage_target: float = 1.0,
    max_chained_views: int = 4,
    max_joins: int = 7,
) -> list[Finding]:
    project._bind_refs()
    manifest = project.manifest
    models = {n.name: n for n in manifest.models()}
    findings: list[Finding] = []
    n_tested = 0
    n_documented = 0

    children: dict[str, list[str]] = {name: [] for name in models}
    for n in models.values():
        for dep in n.depends_on:
            if dep in children:
                children[dep].append(n.name)

    declared_sources = set(project.sources.names())
    used_sources: set[tuple[str, str]] = set()

    for name in sorted(models):
        node = models[name]
        used_sources |= node.source_deps
        is_staging = bool(node.source_deps)

        if not node.depends_on and not node.source_deps:
            findings.append(
                Finding("root_models", name, "no ref()/source() upstream — island node")
            )
        if node.source_deps and node.depends_on:
            findings.append(
                Finding(
                    "direct_source_join",
                    name,
                    f"mixes source reads {sorted(node.source_deps)} with refs "
                    f"{sorted(node.depends_on)} — add a staging model",
                )
            )
        if len(node.source_deps) > 1:
            findings.append(
                Finding(
                    "multiple_sources_joined",
                    name,
                    f"reads {len(node.source_deps)} sources "
                    f"{sorted(f'{a}.{b}' for a, b in node.source_deps)} — "
                    "give each source its own staging model first",
                )
            )
        n_parents = len(node.depends_on) + len(node.source_deps)
        if n_parents > max_joins:
            findings.append(
                Finding(
                    "too_many_joins",
                    name,
                    f"{n_parents} direct parents > {max_joins} — split out "
                    "an intermediate model",
                )
            )
        if len(children[name]) > max_fanout:
            findings.append(
                Finding(
                    "model_fanout",
                    name,
                    f"{len(children[name])} direct children > {max_fanout}",
                )
            )
        for dep in node.depends_on:
            if dep in models and name in models[dep].depends_on:
                findings.append(
                    Finding("bidirectional_pair", name, f"mutual dependency with {dep}")
                )
        if is_staging and not name.startswith("stg_"):
            findings.append(
                Finding("naming_convention", name, "reads sources but not stg_-prefixed")
            )
        if not is_staging and name.startswith("stg_") and node.depends_on:
            findings.append(
                Finding("naming_convention", name, "stg_ prefix but reads only models")
            )
        if node.sql is not None:
            stripped = _REF_CALL.sub("", node.sql)
            for m in _HARD_SQL_TARGET.finditer(stripped):
                findings.append(
                    Finding(
                        "hard_coded_reference",
                        name,
                        f"reads {m.group(1)} directly — use ref()/source()",
                    )
                )
        elif node.fn is not None:
            try:
                src = inspect.getsource(node.fn)
            except (OSError, TypeError):
                src = ""
            m = _HARD_FN_READ.search(src)
            if m:
                findings.append(
                    Finding(
                        "hard_coded_reference",
                        name,
                        f"calls spark.{m.group(1)} directly — use "
                        "ctx.ref()/ctx.source()",
                    )
                )
        if name.startswith("stg_"):
            for dep in sorted(node.depends_on):
                if dep in models and not dep.startswith("stg_"):
                    findings.append(
                        Finding(
                            "staging_depends_on_downstream",
                            name,
                            f"staging model refs downstream model {dep} — "
                            "dependencies must flow staging → marts",
                        )
                    )
                elif dep in models:
                    findings.append(
                        Finding(
                            "staging_dependent_on_staging",
                            name,
                            f"staging model refs staging model {dep} — "
                            "each staging model should read its source "
                            "directly; shared cleanup belongs in an "
                            "intermediate model",
                        )
                    )
        if node.config.extra.get("access") == "public" and not node.config.extra.get(
            "description"
        ):
            findings.append(
                Finding(
                    "undocumented_public_models",
                    name,
                    "access: public but no model description — a public "
                    "contract other teams build on must say what it is",
                )
            )
        has_tests = any(c.get("tests") for c in node.columns.values())
        if has_tests:
            n_tested += 1
            # a tested model still needs a declared GRAIN: one column
            # carrying both unique and not_null (pk-shaped). Untested
            # models already flag above — don't double-report them.
            if not any(
                {"unique", "not_null"} <= _test_names(c)
                for c in node.columns.values()
            ):
                findings.append(
                    Finding(
                        "missing_primary_key_tests",
                        name,
                        "no column carries both unique and not_null tests",
                    )
                )
        else:
            findings.append(Finding("untested_models", name, "no column tests declared"))
        has_docs = any(c.get("description") for c in node.columns.values())
        if has_docs:
            n_documented += 1
        else:
            findings.append(Finding("undocumented_models", name, "no column docs declared"))

    if models:
        test_cov = n_tested / len(models)
        if test_cov < test_coverage_target:
            findings.append(
                Finding(
                    "test_coverage",
                    "<project>",
                    f"{n_tested}/{len(models)} models tested "
                    f"({test_cov:.0%} < target {test_coverage_target:.0%})",
                )
            )
        doc_cov = n_documented / len(models)
        if doc_cov < documentation_coverage_target:
            findings.append(
                Finding(
                    "documentation_coverage",
                    "<project>",
                    f"{n_documented}/{len(models)} models documented "
                    f"({doc_cov:.0%} < target {documentation_coverage_target:.0%})",
                )
            )

    src_consumers: dict[tuple[str, str], list[str]] = {}
    for n in models.values():
        for s in n.source_deps:
            src_consumers.setdefault(s, []).append(n.name)
    for src, consumers in sorted(src_consumers.items()):
        if len(consumers) > 1:
            findings.append(
                Finding(
                    "source_fanout",
                    f"{src[0]}.{src[1]}",
                    f"read by {sorted(consumers)} — should have one staging model",
                )
            )
    for src in sorted(declared_sources - used_sources):
        findings.append(
            Finding("unused_sources", f"{src[0]}.{src[1]}", "declared but never read")
        )
    for n in manifest.nodes.values():
        if n.resource_type != "exposure":
            continue
        for dep in sorted(n.depends_on):
            parent = models.get(dep)
            if parent and parent.config.materialized in ("view", "ephemeral"):
                findings.append(
                    Finding(
                        "exposure_parent_materialization",
                        n.name,
                        f"depends on {parent.config.materialized} model {dep} — "
                        "exposure parents should be table/incremental",
                    )
                )
            if parent and parent.config.extra.get("access", "protected") != "public":
                findings.append(
                    Finding(
                        "exposures_dependent_on_private_models",
                        n.name,
                        f"depends on {parent.config.extra.get('access', 'protected')}"
                        f" model {dep} — exposure parents should be "
                        "access: public",
                    )
                )
    # chained_view_dependencies: longest run of consecutive
    # view/ephemeral models ending at each node, computed by memoized
    # DFS over the model DAG (pure metadata — no Spark jobs).
    def _virtual(n) -> bool:
        return n.config.materialized in ("view", "ephemeral")

    # iterative memoized DFS (explicit stack): a 10k-deep view chain is
    # exactly the pathology this check exists to flag, so it must not
    # die on Python's recursion limit reporting it. Cycle detection uses
    # an `on_path` SET of nodes on the current DFS path (O(1) membership
    # — a list scan would be O(n²) on deep chains): a dep merely
    # scheduled on the stack is a pending SIBLING (diamond shapes) and
    # must still contribute depth; only a dep on the current path is a
    # genuine cycle (already flagged by bidirectional_pair) and counts 0.
    chain_memo: dict[str, int] = {}

    def _chain(root: str) -> int:
        stack = [root]
        on_path: set[str] = set()
        while stack:
            name = stack[-1]
            if name in chain_memo:
                stack.pop()
                on_path.discard(name)
                continue
            node = models[name]
            if not _virtual(node):
                chain_memo[name] = 0
                stack.pop()
                continue
            if name not in on_path:
                on_path.add(name)
                pending = [
                    d
                    for d in node.depends_on
                    if d in models and d not in chain_memo and d not in on_path
                ]
                if pending:
                    stack.extend(pending)
                    continue
            # revisit after children resolved (or no unresolved children):
            # cyclic deps are the only ones still missing from the memo
            chain_memo[name] = 1 + max(
                (chain_memo[d] for d in node.depends_on if d in chain_memo),
                default=0,
            )
            on_path.discard(name)
            stack.pop()
        return chain_memo[root]

    for name in sorted(models):
        depth = _chain(name)
        if depth >= max_chained_views:
            findings.append(
                Finding(
                    "chained_view_dependencies",
                    name,
                    f"{depth} consecutive view/ephemeral models in its "
                    f"lineage (>= {max_chained_views}) — every read "
                    "recomputes the whole chain; materialize an "
                    "intermediate as a table",
                )
            )

    # rejoining_of_upstream_concepts: the A→B→C + A→C triangle where C
    # is B's only child — B's transformation belongs inline in C.
    for name in sorted(models):
        node = models[name]
        parents = [d for d in node.depends_on if d in models]
        for b in parents:
            if children[b] != [name]:
                continue
            for a in parents:
                if a != b and a in models[b].depends_on:
                    findings.append(
                        Finding(
                            "rejoining_of_upstream_concepts",
                            name,
                            f"joins {a} with {b}, but {b} already reads "
                            f"{a} and feeds only this model — fold "
                            f"{b}'s logic in or drop the direct {a} ref",
                        )
                    )

    for src in sorted(used_sources):
        try:
            s = project.sources.get(*src)
        except KeyError:  # pragma: no cover - registry/manifest drift
            continue
        if s.loaded_at_field is None:
            findings.append(
                Finding(
                    "sources_without_freshness",
                    f"{src[0]}.{src[1]}",
                    "consumed by the DAG but declares no loaded_at_field/"
                    "staleness budget — invisible to check_freshness",
                )
            )

    # undocumented_source_tables / undocumented_sources: every DECLARED
    # source table should carry a table-level description, and every
    # source GROUP (source_name) a parent-level one — the package scans
    # the whole sources.yml, not just consumed entries, so so do we.
    src_group_docs: dict[str, bool] = {}
    for s in project.sources.items():
        src_group_docs[s.source_name] = bool(
            src_group_docs.get(s.source_name) or s.source_description
        )
        if not s.description:
            findings.append(
                Finding(
                    "undocumented_source_tables",
                    f"{s.source_name}.{s.table_name}",
                    "declared source table has no description",
                )
            )
    for sname in sorted(src_group_docs):
        if not src_group_docs[sname]:
            findings.append(
                Finding(
                    "undocumented_sources",
                    sname,
                    "source group has no parent-level description "
                    "(set source_description on its tables)",
                )
            )

    by_target: dict[str, list[str]] = {}
    for s in project.sources.items():
        target = s.catalog_table or (f"{s.fmt}:{s.path}" if s.path else None)
        if target:
            by_target.setdefault(target, []).append(f"{s.source_name}.{s.table_name}")
    for target, decls in sorted(by_target.items()):
        if len(decls) > 1:
            findings.append(
                Finding(
                    "duplicate_sources",
                    ", ".join(sorted(decls)),
                    f"all declared over the same relation {target}",
                )
            )
    return findings
