"""The session's codegen cache holds a build's generated classes, so a
repeated build of one project reuses them instead of recompiling."""

from __future__ import annotations

import logging
import re
import uuid
import weakref

from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_foundation_spark import session
from dbt_foundation_spark.project import Project, Target
from dbt_foundation_spark.sources import testdata_sources as _testdata_sources

# (staging model, group key, measure): one table-materialized rollup
# each, with a unique test on its key. Each rollup weights its measure
# and its result by its own literals, which Spark inlines into the
# generated code, so no two rollups share the classes of their
# aggregation stages.
ROLLUPS = [
    ("stg_orders", "o_orderstatus", "o_totalprice"),
    ("stg_orders", "o_orderpriority", "o_totalprice"),
    ("stg_orders", "o_custkey", "o_totalprice"),
    ("stg_lineitem", "l_returnflag", "l_quantity"),
    ("stg_lineitem", "l_suppkey", "l_discount"),
    ("stg_lineitem", "l_linenumber", "l_tax"),
    ("stg_lineitem", "l_partkey", "l_extendedprice"),
    ("stg_customer", "c_mktsegment", "c_acctbal"),
    ("stg_customer", "c_nationkey", "c_acctbal"),
    ("stg_part", "p_brand", "p_retailprice"),
    ("stg_part", "p_size", "p_retailprice"),
    ("stg_part", "p_type", "p_size"),
    ("stg_supplier", "s_nationkey", "s_acctbal"),
    ("stg_supplier", "s_suppkey", "s_acctbal"),
    ("stg_lineitem", "l_linestatus", "l_extendedprice"),
    ("stg_lineitem", "l_orderkey", "l_quantity"),
    ("stg_orders", "o_orderdate", "o_totalprice"),
    ("stg_customer", "c_name", "c_acctbal"),
    ("stg_part", "p_name", "p_retailprice"),
    ("stg_supplier", "s_name", "s_acctbal"),
]


def _project(spark, sf_dir) -> Project:
    p = Project(
        "codegen_proj",
        spark,
        sources=_testdata_sources(sf_dir),
        target=Target(schema=f"t_{uuid.uuid4().hex[:8]}", threads=4),
    )
    for table in ("customer", "orders", "lineitem", "part", "supplier"):
        p.model(lambda ctx, t=table: ctx.source("raw", t), name=f"stg_{table}")

    @p.model(materialized="table", columns={"n_name": {"tests": ["unique", "not_null"]}})
    def fct_revenue_by_nation(ctx):
        nation, region = ctx.source("raw", "nation"), ctx.source("raw", "region")
        orders, cust = ctx.ref("stg_orders"), ctx.ref("stg_customer")
        return (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .join(nation, cust.c_nationkey == nation.n_nationkey)
            .join(region, nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.sum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
        )

    @p.model(materialized="table", columns={"o_orderkey": {"tests": ["unique"]}})
    def fct_top_orders(ctx):
        w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
        return ctx.ref("stg_orders").withColumn("rk", F.row_number().over(w)).filter("rk <= 3")

    for i, (stg, key, measure) in enumerate(ROLLUPS):
        p.model(
            f"""SELECT {key}, COUNT(*) AS n, SUM({measure} * {i + 1}) AS weighted,
                       MIN({measure}) AS lo, MAX({measure}) + {i + 1} AS hi
                FROM ref('{stg}') WHERE {measure} >= -{i + 1} GROUP BY {key}""",
            name=f"agg_{i}",
            materialized="table",
            columns={key: {"tests": ["unique"]}},
        )
    return p


def _build(project: Project, caplog) -> tuple[int, str]:
    """Build the project; returns the classes it compiled and the
    run's codegen log line."""
    before = session.codegen_compiles(project.spark)[0]
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="dbt_foundation_spark"):
        results = project.build()
    compiled = session.codegen_compiles(project.spark)[0] - before
    assert {r.status for r in results} <= {"success", "test_pass"}, results
    line = [r.getMessage() for r in caplog.records if "codegen compiled" in r.getMessage()]
    assert len(line) == 1, line
    return compiled, line[0]


def test_repeated_build_reuses_generated_classes(spark, sf_dir, caplog):
    """One build makes more distinct generated classes than Spark's
    default 100-entry cache holds. With the session's cache sized to the
    working set, building the same project again compiles almost none
    of them; at the default each build recompiles most of them."""
    project = _project(spark, sf_dir)
    try:
        first, first_line = _build(project, caplog)
        second, second_line = _build(project, caplog)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {project.target.schema} CASCADE")
    assert first > 100, first
    assert second <= first // 10, (first, second)
    # the run's own log line reports the same count
    assert re.search(rf"codegen compiled {first} classes in \d+ ms", first_line), first_line
    assert re.search(rf"codegen compiled {second} classes in \d+ ms", second_line), second_line


def test_run_warns_once_when_codegen_cache_is_small(spark, caplog, monkeypatch):
    """A session whose codegen cache is below the engine's constant
    (one not built by get_spark) gets one warning, on its first run."""
    live = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert live == session.CODEGEN_CACHE_ENTRIES
    monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", live + 1)
    monkeypatch.setattr(session, "_checked_sessions", weakref.WeakSet())
    project = Project(
        "small_cache_proj", spark, target=Target(schema=f"t_{uuid.uuid4().hex[:8]}")
    )
    project.model(lambda ctx: spark.range(3), name="ids", materialized="table")
    try:
        with caplog.at_level(logging.INFO, logger="dbt_foundation_spark"):
            project.run()
            project.run()
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {project.target.schema} CASCADE")
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING
                and "spark.sql.codegen.cache.maxEntries" in r.getMessage()]
    assert len(warnings) == 1, [r.getMessage() for r in warnings]
    assert f"is {live}, below the {live + 1}" in warnings[0].getMessage()
