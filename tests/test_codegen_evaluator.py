"""M14 codegen + M15 evaluator + plan-contract tests.

Reference parity: codegen 0.13.1 and dbt_project_evaluator 1.1.2 are
declared dependency surface (/root/reference/packages.yml:6-9); the plan
contracts are the Spark-native replacement for Snowflake's invisible
physical planning (SURVEY.md §4).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dbt_foundation_spark.codegen import (
    generate_base_model,
    generate_model_import_ctes,
    generate_model_yaml,
    generate_source_yaml,
)
from dbt_foundation_spark.evaluator import evaluate
from dbt_foundation_spark.plans.inspect import (
    broadcast_join_count,
    plan_summary,
    pushed_filters,
    python_eval_count,
    read_schemas,
    shuffle_count,
)
from dbt_foundation_spark.project import Project
# alias: pytest would otherwise collect `testdata_sources` as a test (test* match)
from dbt_foundation_spark.sources.registry import load_table
from dbt_foundation_spark.sources.registry import testdata_sources as _sources


@pytest.fixture()
def project(spark, sf_dir):
    return Project("eval_proj", spark, sources=_sources(sf_dir))


# ---------- codegen (M14) ----------


def test_generate_source_yaml(spark, sf_dir):
    reg = _sources(sf_dir)
    yml = generate_source_yaml(spark, reg, "raw")
    assert "sources:" in yml and "- name: raw" in yml
    assert "- name: lineitem" in yml and "- name: embeddings" in yml
    assert "data_type: array<float>" in yml  # embeddings vector column
    assert "data_type: double" in yml  # lineitem quantities


def test_generate_base_model(spark, sf_dir):
    reg = _sources(sf_dir)
    stub = generate_base_model(spark, reg, "raw", "orders")
    assert "def stg_orders(ctx):" in stub
    assert 'ctx.source("raw", "orders")' in stub
    assert '"o_orderkey"' in stub  # explicit column list, not SELECT *


def test_generate_model_import_ctes_roundtrip(project):
    @project.model
    def stg_nation(ctx):
        return ctx.source("raw", "nation")

    @project.model
    def stg_region(ctx):
        return ctx.source("raw", "region")

    project.model(
        "SELECT n.n_name, r.r_name "
        "FROM ref('stg_nation') n JOIN ref('stg_region') r "
        "ON n.n_regionkey = r.r_regionkey "
        "WHERE r.r_name = 'ASIA'",
        name="mart_asia",
    )
    rewritten = generate_model_import_ctes(project, "mart_asia")
    # one import CTE per distinct ref, body reads the aliases
    assert rewritten.startswith("with stg_nation as (")
    assert "select * from ref('stg_nation')" in rewritten
    assert "select * from ref('stg_region')" in rewritten
    assert "FROM stg_nation n JOIN stg_region r" in rewritten
    # the rewrite still compiles with identical results
    project.model(rewritten, name="mart_asia_ctes")
    project.run()
    a = project._node_frame("mart_asia").orderBy("n_name").collect()
    b = project._node_frame("mart_asia_ctes").orderBy("n_name").collect()
    assert a == b and len(a) > 0

    # a model with its own CTEs gets imports spliced before them
    project.model(
        "WITH only_asia AS (SELECT * FROM ref('stg_region') WHERE r_name = 'ASIA') "
        "SELECT r_name FROM only_asia",
        name="mart_spliced",
    )
    spliced = generate_model_import_ctes(project, "mart_spliced")
    assert spliced.startswith("with stg_region as (")
    assert re.search(r"stg_region as \(.*\),\s*only_asia AS", spliced, re.S)


def test_generate_model_yaml(spark, sf_dir):
    df = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yml = generate_model_yaml("dim_nation", df, description="nations")
    assert "- name: dim_nation" in yml
    assert "- name: n_nationkey" in yml and "data_type: int" in yml


# ---------- evaluator (M15) ----------


def test_evaluator_flags_dag_issues(project):
    @project.model
    def raw_island(ctx):
        return ctx.spark.range(1)

    @project.model
    def stg_orders(ctx):
        return ctx.source("raw", "orders")

    @project.model(columns={"o_orderkey": {"tests": ["unique"], "description": "pk"}})
    def mixed_join(ctx):  # direct source join: source + ref together
        return ctx.source("raw", "lineitem").join(
            ctx.ref("stg_orders"), F.col("l_orderkey") == F.col("o_orderkey")
        )

    project.run()
    by_check: dict[str, set[str]] = {}
    for f in evaluate(project):
        by_check.setdefault(f.check, set()).add(f.node)

    assert "raw_island" in by_check["root_models"]
    assert "mixed_join" in by_check["direct_source_join"]
    assert "mixed_join" in by_check["naming_convention"]  # reads sources, no stg_
    assert "stg_orders" in by_check["untested_models"]
    assert "mixed_join" not in by_check["untested_models"]  # has declared tests
    # lineitem+orders each read once, customer etc. never → unused
    assert any(n.startswith("raw.") for n in by_check["unused_sources"])


def test_evaluator_source_fanout(project):
    @project.model
    def stg_orders(ctx):
        return ctx.source("raw", "orders")

    @project.model
    def stg_orders_again(ctx):
        return ctx.source("raw", "orders")

    project.run()
    fanout = [f for f in evaluate(project) if f.check == "source_fanout"]
    assert fanout and fanout[0].node == "raw.orders"


def test_evaluator_hard_coded_reference(project, spark, sf_dir):
    # SQL model with a dotted FROM target bypassing ref()/source()
    spark.sql("CREATE DATABASE IF NOT EXISTS rawdb")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
        "rawdb.nations_raw"
    )
    try:
        project.model("SELECT * FROM rawdb.nations_raw", name="bad_sql")

        @project.model
        def bad_fn(ctx):  # function model reading the catalog directly
            return ctx.spark.table("rawdb.nations_raw")

        @project.model
        def stg_nation(ctx):  # clean: goes through source()
            return ctx.source("raw", "nation")

        project.run()
        hard = {f.node: f.detail for f in evaluate(project) if f.check == "hard_coded_reference"}
        assert "bad_sql" in hard and "rawdb.nations_raw" in hard["bad_sql"]
        assert "bad_fn" in hard and "spark.table" in hard["bad_fn"]
        assert "stg_nation" not in hard
    finally:
        spark.sql("DROP TABLE IF EXISTS rawdb.nations_raw")
        spark.sql("DROP DATABASE IF EXISTS rawdb")


def test_evaluator_staging_depends_on_downstream(project):
    @project.model
    def stg_orders(ctx):
        return ctx.source("raw", "orders")

    @project.model
    def fct_orders(ctx):
        return ctx.ref("stg_orders")

    @project.model
    def stg_orders_enriched(ctx):  # wrong direction: staging refs a mart
        return ctx.ref("fct_orders")

    project.run()
    wrong = [
        f for f in evaluate(project) if f.check == "staging_depends_on_downstream"
    ]
    assert len(wrong) == 1
    assert wrong[0].node == "stg_orders_enriched" and "fct_orders" in wrong[0].detail


def test_evaluator_duplicate_sources(spark, sf_dir):
    from dbt_foundation_spark.sources.registry import Source

    reg = _sources(sf_dir)
    # second declaration over the SAME parquet path as raw.orders
    reg.add(Source("legacy", "orders_copy", path=f"{sf_dir}/orders.parquet"))
    project = Project("dup_proj", spark, sources=reg)

    @project.model
    def stg_orders(ctx):
        return ctx.source("raw", "orders")

    project.run()
    dups = [f for f in evaluate(project) if f.check == "duplicate_sources"]
    assert len(dups) == 1
    assert "raw.orders" in dups[0].node and "legacy.orders_copy" in dups[0].node


def test_evaluator_coverage_thresholds(project):
    @project.model(columns={"id": {"tests": ["unique"], "description": "pk"}})
    def stg_covered(ctx):
        return ctx.source("raw", "orders")

    @project.model
    def stg_bare(ctx):
        return ctx.source("raw", "lineitem")

    project.run()
    # 1/2 models tested+documented: default 100% targets both fire
    checks = {f.check: f.detail for f in evaluate(project)}
    assert "1/2 models tested (50% < target 100%)" == checks["test_coverage"]
    assert "1/2 models documented (50% < target 100%)" == checks["documentation_coverage"]
    # thresholds are configurable: at 50% neither fires
    relaxed = {
        f.check
        for f in evaluate(
            project, test_coverage_target=0.5, documentation_coverage_target=0.5
        )
    }
    assert "test_coverage" not in relaxed
    assert "documentation_coverage" not in relaxed


def test_evaluator_missing_primary_key_tests(project):
    @project.model(
        columns={"o_orderkey": {"tests": ["unique", "not_null"], "description": "pk"}}
    )
    def stg_keyed(ctx):
        return ctx.source("raw", "orders")

    @project.model(columns={"l_orderkey": {"tests": ["unique"], "description": "x"}})
    def stg_halfkeyed(ctx):  # unique without not_null: grain unasserted
        return ctx.source("raw", "lineitem")

    project.run()
    pk = {f.node for f in evaluate(project) if f.check == "missing_primary_key_tests"}
    assert pk == {"stg_halfkeyed"}


def test_evaluator_sources_without_freshness(spark, sf_dir):
    from dbt_foundation_spark.sources.registry import Source

    reg = _sources(sf_dir)  # no freshness declared on any table
    reg.add(
        Source(
            "raw",
            "orders_fresh",
            path=f"{sf_dir}/orders.parquet",
            loaded_at_field="o_orderdate",
            warn_after_seconds=3600,
        )
    )
    project = Project("fresh_proj", spark, sources=reg)

    @project.model
    def stg_orders(ctx):
        return ctx.source("raw", "orders")

    @project.model
    def stg_orders_f(ctx):
        return ctx.source("raw", "orders_fresh")

    project.run()
    stale = {
        f.node for f in evaluate(project) if f.check == "sources_without_freshness"
    }
    # only CONSUMED freshness-less sources flag (unused ones already
    # flag as unused_sources); the declared-freshness source passes
    assert stale == {"raw.orders"}


def test_evaluator_chained_view_dependencies(project):
    prev = None
    for i in range(5):  # v0 → v1 → ... → v4, all views
        name = f"v{i}"
        if prev is None:
            project.model(
                lambda ctx: ctx.source("raw", "nation"),
                name=name,
                materialized="view",
            )
        else:
            project.model(
                (lambda p: lambda ctx: ctx.ref(p))(prev),
                name=name,
                materialized="view",
            )
        prev = name
    # a table at depth 3 breaks its own chain
    project.model(
        lambda ctx: ctx.ref("v2"), name="mat_break", materialized="table"
    )
    project.model(
        lambda ctx: ctx.ref("mat_break"), name="v_after", materialized="view"
    )

    project.run()
    chained = {
        f.node for f in evaluate(project) if f.check == "chained_view_dependencies"
    }
    # chain lengths: v3 is the 4th consecutive view, v4 the 5th;
    # v_after restarts at 1 behind the table
    assert chained == {"v3", "v4"}


def test_evaluator_chained_views_diamond(project):
    """Regression: the iterative chain walk must count depth through
    DIAMOND shapes — a dep that is merely scheduled on the DFS stack is
    a pending sibling, not a cycle, and still contributes depth. (The
    first iterative rewrite's `not in stack` guard under-counted these,
    silently missing findings at the threshold.)"""
    # chain q0 -> q1 -> q2 -> q3 (all views), then the diamond:
    # peak refs [q3, mid], mid refs q3 — depth(mid)=5, depth(peak)=6
    project.model(
        lambda ctx: ctx.source("raw", "nation"), name="q0", materialized="view"
    )
    for i in range(1, 4):
        project.model(
            (lambda p: lambda ctx: ctx.ref(p))(f"q{i-1}"),
            name=f"q{i}",
            materialized="view",
        )
    project.model(
        lambda ctx: ctx.ref("q3"), name="mid", materialized="view"
    )
    project.model(
        lambda ctx: ctx.ref("q3").unionByName(ctx.ref("mid")),
        name="peak",
        materialized="view",
    )
    project.run()
    chained = {
        f.node: f.detail
        for f in evaluate(project)
        if f.check == "chained_view_dependencies"
    }
    assert "mid" in chained and "5 consecutive" in chained["mid"]
    assert "peak" in chained and "6 consecutive" in chained["peak"]


def test_evaluator_rejoining_of_upstream_concepts(project):
    @project.model
    def stg_base(ctx):
        return ctx.source("raw", "orders")

    @project.model
    def int_enrich(ctx):  # feeds ONLY the rejoining mart
        return ctx.ref("stg_base")

    @project.model
    def fct_rejoin(ctx):  # triangle: refs both parent and grandparent
        return ctx.ref("int_enrich").unionByName(ctx.ref("stg_base"))

    @project.model
    def fct_clean(ctx):  # straight chain: no triangle
        return ctx.ref("int_enrich2")

    @project.model
    def int_enrich2(ctx):
        return ctx.ref("stg_base")

    project.run()
    rejoin = [
        f for f in evaluate(project) if f.check == "rejoining_of_upstream_concepts"
    ]
    assert len(rejoin) == 1
    assert rejoin[0].node == "fct_rejoin" and "int_enrich" in rejoin[0].detail


def test_evaluator_multiple_sources_joined(project):
    @project.model
    def stg_orders(ctx):  # clean: one source
        return ctx.source("raw", "orders")

    @project.model
    def bad_combined(ctx):  # joins two raw sources in one model
        return ctx.source("raw", "orders").join(
            ctx.source("raw", "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )

    project.run()
    multi = [f for f in evaluate(project) if f.check == "multiple_sources_joined"]
    assert len(multi) == 1
    assert multi[0].node == "bad_combined"
    assert "raw.customer" in multi[0].detail and "raw.orders" in multi[0].detail


def test_evaluator_too_many_joins(project):
    tables = [
        "region", "nation", "customer", "supplier",
        "part", "orders", "lineitem", "events",
    ]
    for t in tables:
        project.model(
            (lambda k: lambda ctx: ctx.source("raw", k))(t),
            name=f"stg_{t}",
        )

    @project.model
    def fct_wide(ctx):  # 8 direct parents > default max_joins=7
        frames = [ctx.ref(f"stg_{t}") for t in tables]
        out = frames[0].limit(1)
        for f_ in frames[1:]:
            out = out.crossJoin(f_.limit(1))
        return out

    project.run()
    wide = [f for f in evaluate(project) if f.check == "too_many_joins"]
    assert len(wide) == 1
    assert wide[0].node == "fct_wide" and "8 direct parents" in wide[0].detail
    # threshold is configurable
    assert not [
        f for f in evaluate(project, max_joins=8) if f.check == "too_many_joins"
    ]


def test_evaluator_staging_dependent_on_staging(project):
    @project.model
    def stg_orders(ctx):
        return ctx.source("raw", "orders")

    @project.model
    def stg_orders_clean(ctx):  # staging chained on staging
        return ctx.ref("stg_orders")

    project.run()
    got = [
        f for f in evaluate(project) if f.check == "staging_dependent_on_staging"
    ]
    assert len(got) == 1
    assert got[0].node == "stg_orders_clean" and "stg_orders" in got[0].detail


def test_evaluator_undocumented_public_models(project):
    @project.model(access="public", description="documented public mart")
    def fct_documented(ctx):
        return ctx.source("raw", "orders")

    @project.model(access="public")
    def fct_bare(ctx):
        return ctx.source("raw", "orders")

    @project.model  # protected: not held to the public-contract bar
    def fct_internal(ctx):
        return ctx.source("raw", "orders")

    project.run()
    got = {
        f.node for f in evaluate(project) if f.check == "undocumented_public_models"
    }
    assert got == {"fct_bare"}


def test_evaluator_undocumented_sources(spark, sf_dir):
    from dbt_foundation_spark.sources.registry import Source, SourceRegistry

    reg = SourceRegistry()
    reg.add(Source(
        "raw", "orders", path=f"{sf_dir}/orders.parquet",
        description="order headers", source_description="the raw layer",
    ))
    reg.add(Source("raw", "lineitem", path=f"{sf_dir}/lineitem.parquet"))
    reg.add(Source("ext", "events", path=f"{sf_dir}/events.parquet"))
    project = Project("doc_src_proj", spark, sources=reg)

    @project.model
    def stg_orders(ctx):
        return ctx.source("raw", "orders")

    project.run()
    fs = evaluate(project)
    tables = {f.node for f in fs if f.check == "undocumented_source_tables"}
    groups = {f.node for f in fs if f.check == "undocumented_sources"}
    # table-level: the two without description:, regardless of use
    assert tables == {"raw.lineitem", "ext.events"}
    # group-level: raw has a parent description on one table, ext has none
    assert groups == {"ext"}


def test_evaluator_exposure_private_parent(project):
    @project.model(access="public", group="core")
    def fct_public(ctx):
        return ctx.source("raw", "orders")

    @project.model(group="core")  # default access: protected
    def fct_protected(ctx):
        return ctx.ref("fct_public")

    project.run()
    project.exposure("board", depends_on=("fct_public", "fct_protected"))
    gov = [
        f
        for f in evaluate(project)
        if f.check == "exposures_dependent_on_private_models"
    ]
    assert len(gov) == 1
    assert gov[0].node == "board" and "fct_protected" in gov[0].detail


# ---------- dispatch (M12) ----------


def test_operation_dispatch_project_overrides_builtin(project):
    from dbt_foundation_spark.ops import default_registry

    reg = default_registry()
    assert callable(reg.resolve("list_orphaned_objects"))
    assert callable(reg.resolve("project_evaluator"))

    calls = []
    reg.register("lint", lambda p: calls.append(p.name) or [], namespace="project")
    assert reg.run("lint", project) == []
    assert calls == ["eval_proj"], "project namespace must shadow builtin"
    with pytest.raises(KeyError):
        reg.resolve("no_such_op")


# ---------- plan contracts (SURVEY §4) ----------


def test_filter_pushdown_and_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    pushed = " ".join(pushed_filters(q))
    assert "l_shipdate" in pushed, "ship-date filter must reach the parquet scan"
    (schema,) = read_schemas(q)
    assert set(schema) == {"l_shipdate", "l_returnflag", "l_quantity"}, schema


def test_disjunctive_predicate_derives_single_side_pushdowns(spark, sf_dir):
    """Q19-shape contract: an OR-of-ANDs spanning both join sides must
    still shrink BOTH scans — Catalyst derives the brand IN-list for the
    part scan and the quantity envelope for the lineitem scan even
    though the full predicate only evaluates post-join."""
    from dbt_foundation_spark.queries import all_queries

    df = all_queries()["q_brand_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed, "quantity envelope must reach the lineitem scan"
    assert "p_brand" in pushed, "brand IN-list must reach the part scan"
    s = plan_summary(df)
    assert s["python_row_udfs"] == 0


def test_aggregate_before_join_shape(spark, sf_dir):
    """Q18-shape contract: the per-order rollup runs before any join, so
    the plan has exactly one Exchange (the rollup key) and the
    orders/customer joins broadcast by size — unhinted."""
    from dbt_foundation_spark.queries import all_queries

    df = all_queries()["q_big_orders"](spark, sf_dir)
    s = plan_summary(df)
    assert s["shuffles"] <= 1, s
    assert s["broadcast_joins"] >= 2, s
    assert s["python_row_udfs"] == 0


def test_small_dim_join_broadcasts(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    q = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_name"
    )
    assert broadcast_join_count(q) == 1
    assert shuffle_count(q) == 0, "broadcast join must not shuffle either side"


def test_no_python_row_udfs_in_catalog(spark, sf_dir):
    """Every catalog query plan must stay JVM-side (Arrow ops allowed).

    Frames build on a thread pool (r14): the check is ~156 independent
    plan constructions (driver-side Catalyst work, no ordering), and
    serial construction alone cost ~45 s of the suite's budget. The
    FRAMEWORK queries (queries/framework.py) stay serial: each runs a
    real materialization in a throwaway catalog schema at build time —
    warehouse-dir mutations that race when interleaved."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as e
    from dbt_foundation_spark.queries import all_queries

    def check(item):
        name, fn = item
        df = fn(spark, sf_dir)
        assert python_eval_count(df) == 0, f"{name} uses a row-at-a-time Python UDF"

    # the entry wraps every query in a closure of its own module, so the
    # split reads the module of the query it wraps
    framework = {
        name for name, fn in all_queries().items()
        if fn.__module__ == "dbt_foundation_spark.queries.framework"
    }
    items = list(e.queries().items())
    parallel = [i for i in items if i[0] not in framework]
    serial = [i for i in items if i[0] in framework]
    assert serial and len(parallel) + len(serial) == len(all_queries())
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(check, parallel))
    for item in serial:
        check(item)


def test_pricing_summary_plan_shape(spark, sf_dir):
    import __spark_entry__ as e

    df = e.queries()["q_pricing_summary"](spark, sf_dir)
    s = plan_summary(df)
    # one keyed shuffle for the groupBy, one range shuffle for the sort
    assert s["shuffles"] <= 2, s
    assert s["python_row_udfs"] == 0
    assert any("l_shipdate" in f for f in s["pushed_filters"]), s["pushed_filters"]


def test_heavy_query_plan_shapes_pinned(spark, sf_dir):
    """Shuffle budgets for the heavy catalog queries — locks in the
    codegen-aggregate/inverted-index/id-only-join designs so a refactor
    that quietly reintroduces an extra shuffle or a Python UDF fails
    here, not at 100 TB."""
    import __spark_entry__ as e

    # budgets include the fan_out round-robin repartition (one exchange)
    # that parallelizes the single-row-group local scans — see
    # queries/_util.fan_out; at 100 TB the guard makes it a no-op.
    # r13 re-pin: the optimization round's lazy pins (localCheckpoint)
    # moved each detector's shared subtree (signature / postings /
    # hash-set builds) behind an RDD scan, so the FINAL plan's budget
    # covers the post-pin tail; the pinned subtrees' own exchange
    # counts are audited by the committed before/after plans
    # (plans/r13/). Budgets are exact current counts — a refactor that
    # reintroduces a duplicated subtree, an extra exchange, or a
    # Python row UDF fails here, not at 100 TB.
    budgets = {
        "q_dedup_minhash": 4,   # ground-truth posting self-join + pair
                                # agg + found/true scalars; the banding
                                # flank and arr/sig builds are pinned
                                # (r13: was 10 with the duplicated
                                # subtrees AQE broadcast re-planned)
        "q_dedup_simhash": 5,   # chunk join over the corpus ∪ planted
                                # union + min-hamming fold + found/
                                # planted scalars; the 64-sum signature
                                # aggregate is pinned and runs ONCE
                                # (r13: was 11)
        "q_dedup_simhash_portable": 1,  # pair fold only — signature
                                # pinned (r13: was 5)
        "q_embedding_neardup": 3,  # band join + pair dedup + re-attach
        "q_ngram_jaccard": 2,   # pair agg + strongest-version fold;
                                # the posting build (dedup + df-window)
                                # is pinned and both self-join sides
                                # read ONE materialization (r13: was 8)
        "q_asof_join": 2,       # union window + pre-agg
        "q_rollup_cascade": 3,  # hour agg + day re-agg + union alignment
        "q_doc_chunks": 0,      # chunking must not shuffle at all
        "q_stratified_sample": 0,
        "q_epoch_shuffle": 1,   # the global sort
        "q_pii_redact": 1,      # the fan_out round-robin only (r13:
                                # parallelizes the one-split local scan;
                                # identity at scale) — the scrub itself
                                # must not shuffle
        "q_embedding_quantize": 0,  # per-row quantization, no shuffle
        "q_quality_quantile": 2,    # fan_out + the per-lang window
        "q_filter_funnel": 3,       # fan_out + reason-count agg + sort
        "q_dedup_incremental": 3,   # band cross-join + pair dedup +
                                    # strongest-version fold; per-side
                                    # sig/arr builds pinned (r13: was 7)
        "q_promo_revenue": 1,       # broadcast part join + 1-group agg
        "q_nation_volume": 2,       # orderkey shuffle + agg
        "q_window_range_frame": 1,  # the user_id window shuffle only
        "q_gap_fill": 1,
        "q_salted_join": 2,         # (salted) join + agg
        "q_two_phase_distinct": 3,  # (key,value) dedup + key agg + sort
        "q_containment": 2,         # rarity window + pair fold; postings
                                    # + hash sets pinned (r13: was 4)
        "q_repeated_spans": 3,      # span window + doc aggregate, no joins
        "q_dedup_keep_best": 2,     # post-checkpoint tail: sizes agg +
                                    # keeper window (score pin barriers
                                    # the quality-score re-expansion)
    }
    qs = e.queries()
    for name, budget in budgets.items():
        df = qs[name](spark, sf_dir)
        s = plan_summary(df)
        assert s["shuffles"] <= budget, f"{name}: {s['shuffles']} > {budget}"
        assert s["python_row_udfs"] == 0, name


def test_get_relations_by_pattern_and_star_rename(spark, sf_dir):
    import uuid

    from dbt_foundation_spark.ops import get_relations_by_pattern, star_from_relations

    schema = f"pat_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {schema}")
    try:
        for shard in ("events_2024_01", "events_2024_02", "other_table"):
            load_table(spark, sf_dir, "nation").write.saveAsTable(f"{schema}.{shard}")
        rels = get_relations_by_pattern(spark, schema, r"events_2024_.*")
        assert rels == [f"{schema}.events_2024_01", f"{schema}.events_2024_02"]

        cols = star_from_relations(
            [spark.table(rels[0])], except_=["n_comment"], prefix="src_"
        )
        assert "`n_nationkey` AS `src_n_nationkey`" in cols
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")
