"""Framework-semantics tests: manifest/DAG, materializations, data tests,
ops — the reference's behavioral contract (SURVEY.md §2.A/§2.I/§5)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from dbt_foundation_spark import testing as T
from dbt_foundation_spark.ops import (
    get_columns_in_query,
    lint,
    list_orphaned_objects,
    star_from_relations,
    union_relations,
)
from dbt_foundation_spark.project import Project, Target, generate_schema_name
from dbt_foundation_spark.sources import testdata_sources as _testdata_sources


@pytest.fixture()
def project(spark, sf_dir):
    schema = f"t_{uuid.uuid4().hex[:8]}"
    p = Project(
        "test_project",
        spark,
        sources=_testdata_sources(sf_dir),
        target=Target(name="dev", schema=schema, threads=4),
    )
    yield p
    spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")


def test_schema_name_policy():
    tgt = Target(schema="analytics")
    assert generate_schema_name(None, tgt) == "analytics"
    assert generate_schema_name("  custom  ", tgt) == "custom"
    assert generate_schema_name("", tgt) == "analytics"


def test_example_models_end_to_end(project, spark):
    """The reference's example pair: table model with NULL row, view model
    filtering to id=1; unique/not_null tests behave per schema.yml."""

    @project.model(materialized="table", columns={"id": {"tests": ["unique", "not_null"]}})
    def my_first_dbt_model(ctx):
        return spark.sql("SELECT 1 AS id UNION ALL SELECT CAST(NULL AS INT) AS id")

    @project.model(columns={"id": {"tests": ["unique", "not_null"]}})
    def my_second_dbt_model(ctx):
        return ctx.ref("my_first_dbt_model").filter(F.col("id") == 1)

    results = {r.node: r for r in project.run()}
    assert results["my_first_dbt_model"].status == "success"
    assert results["my_second_dbt_model"].status == "success"
    assert project.manifest["my_second_dbt_model"].depends_on == {"my_first_dbt_model"}

    rel = project.relation_name(project.manifest["my_first_dbt_model"])
    assert spark.table(rel).count() == 2

    tests = {(t.model, t.test): t for t in T.run_tests(project)}
    # the NULL row makes not_null fail on the first model (FIXTURES.md)
    assert tests[("my_first_dbt_model", "not_null(id)")].status == "fail"
    assert tests[("my_first_dbt_model", "unique(id)")].status == "pass"
    assert tests[("my_second_dbt_model", "not_null(id)")].status == "pass"
    assert tests[("my_second_dbt_model", "unique(id)")].status == "pass"


def test_sql_model_and_persistent_view(project, spark):
    project.model(
        "SELECT o_orderkey, o_totalprice FROM raw_orders WHERE o_totalprice > 100",
        name="stg_orders_sql",
        materialized="table",
    )

    @project.model(materialized="table")
    def raw_orders_holder(ctx):  # stage raw into the catalog for the SQL model
        return ctx.source("raw", "orders")

    # SQL text references a view created from the staged table
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {project.target.schema}")
    project.manifest["stg_orders_sql"].depends_on.add("raw_orders_holder")
    project.manifest["stg_orders_sql"].sql = (
        "SELECT o_orderkey, o_totalprice FROM ref('raw_orders_holder') "
        "WHERE o_totalprice > 100"
    )
    results = {r.node: r for r in project.run()}
    assert results["stg_orders_sql"].status == "success", results["stg_orders_sql"].message
    out = spark.table(project.relation_name(project.manifest["stg_orders_sql"]))
    assert out.filter(F.col("o_totalprice") <= 100).count() == 0


def test_incremental_append_and_merge(project, spark):
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    src.createOrReplaceTempView("inc_src")

    @project.model(materialized="incremental", incremental_strategy="append")
    def inc_append(ctx):
        return spark.table("inc_src")

    project.run()
    rel = project.relation_name(project.manifest["inc_append"])
    assert spark.table(rel).count() == 2
    project2 = _reattach(project)
    project2.run(select={"inc_append"})
    assert spark.table(rel).count() == 4  # appended

    @project.model(
        materialized="incremental", incremental_strategy="merge", unique_key="id"
    )
    def inc_merge(ctx):
        return spark.table("inc_src")

    project.run(select={"inc_merge"})
    mrel = project.relation_name(project.manifest["inc_merge"])
    assert spark.table(mrel).count() == 2
    spark.createDataFrame([(2, "B2"), (3, "c")], "id int, v string").createOrReplaceTempView(
        "inc_src"
    )
    p3 = _reattach(project, models=("inc_merge",))
    p3.run(select={"inc_merge"})
    got = {(r.id, r.v) for r in spark.table(mrel).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c")}  # upsert semantics


def _reattach(project, models=None):
    """Fresh Project over the same schema (simulates a new invocation)."""
    p = Project(
        project.name,
        project.spark,
        sources=project.sources,
        target=project.target,
    )
    for name, node in project.manifest.nodes.items():
        if models is None or name in models:
            import copy

            n2 = copy.copy(node)
            n2.depends_on = set()
            p.manifest.nodes[name] = n2
    return p


def test_snapshot_scd2(project, spark):
    spark.createDataFrame(
        [(1, "alice", "2024-01-01 00:00:00"), (2, "bob", "2024-01-01 00:00:00")],
        "id int, name string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp")).createOrReplaceTempView(
        "snap_src"
    )

    @project.snapshot(unique_key="id", strategy="timestamp", updated_at="updated_at")
    def dim_people(ctx):
        return spark.table("snap_src")

    project.run()
    rel = project.relation_name(project.manifest["dim_people"])
    assert spark.table(rel).count() == 2
    assert spark.table(rel).filter(F.col("dbt_valid_to").isNull()).count() == 2

    # alice changes; bob unchanged
    spark.createDataFrame(
        [(1, "alicia", "2024-02-01 00:00:00"), (2, "bob", "2024-01-01 00:00:00")],
        "id int, name string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp")).createOrReplaceTempView(
        "snap_src"
    )
    p2 = _reattach(project)
    p2.run()
    snap = spark.table(rel)
    assert snap.count() == 3  # closed alice + open alicia + open bob
    open_rows = {r.name for r in snap.filter(F.col("dbt_valid_to").isNull()).collect()}
    assert open_rows == {"alicia", "bob"}
    closed = snap.filter(F.col("dbt_valid_to").isNotNull()).collect()
    assert len(closed) == 1 and closed[0].name == "alice"


def test_downstream_of_incremental_reads_merged_relation(project, spark):
    """Regression: a model downstream of an incremental upstream must read
    the merged persisted relation, not the capture-phase frame (which is
    only the run's delta batch)."""
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").createOrReplaceTempView(
        "dsrc"
    )

    @project.model(materialized="incremental", incremental_strategy="merge", unique_key="id")
    def inc_up(ctx):
        return spark.table("dsrc")

    @project.model(materialized="table")
    def dstream(ctx):
        return ctx.ref("inc_up")

    project.run()
    drel = project.relation_name(project.manifest["dstream"])
    assert spark.table(drel).count() == 2

    # second invocation delivers a 1-row delta; downstream must see 3 rows
    spark.createDataFrame([(3, "c")], "id int, v string").createOrReplaceTempView("dsrc")
    p2 = _reattach(project)
    p2.run()
    assert {r.id for r in spark.table(drel).collect()} == {1, 2, 3}


def test_downstream_of_snapshot_sees_scd2_columns(project, spark):
    """Regression: same-run consumer of a snapshot must see the persisted
    SCD2 relation (dbt_scd_id/dbt_valid_*), not the raw capture frame."""
    spark.createDataFrame(
        [(1, "x", "2024-01-01 00:00:00")], "id int, name string, updated_at string"
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp")).createOrReplaceTempView(
        "snap_src2"
    )

    @project.snapshot(unique_key="id", strategy="timestamp", updated_at="updated_at")
    def snap_up(ctx):
        return spark.table("snap_src2")

    @project.model(materialized="table")
    def snap_consumer(ctx):
        return ctx.ref("snap_up")

    project.run()
    rel = project.relation_name(project.manifest["snap_consumer"])
    assert {"dbt_scd_id", "dbt_valid_from", "dbt_valid_to"} <= set(spark.table(rel).columns)


def test_generic_test_family(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (2, "b", 30.0), (4, None, -5.0)],
        "id int, tag string, v double",
    )
    assert not T.unique("id")(df).isEmpty()
    assert T.unique("v")(df).isEmpty()
    assert not T.not_null("tag")(df).isEmpty()
    assert T.accepted_values("tag", ["a", "b"])(df.filter("tag IS NOT NULL")).isEmpty()
    assert not T.accepted_range("v", min_value=0)(df).isEmpty()
    assert T.not_empty_string("tag")(df.dropna()).isEmpty()
    assert T.at_least_one("id")(df).isEmpty()
    assert not T.not_constant("tag")(df.filter("tag = 'a'")).isEmpty()
    assert T.equal_rowcount(df)(df).isEmpty()
    assert not T.fewer_rows_than(df)(df).isEmpty()
    assert T.equality(df)(df).isEmpty()
    assert not T.equality(df.limit(2))(df).isEmpty()
    assert T.not_null_proportion("id", 1.0)(df).isEmpty()
    assert not T.not_null_proportion("tag", 0.9)(df).isEmpty()
    seq = spark.createDataFrame([(1,), (2,), (3,), (5,)], "n int")
    assert not T.sequential_values("n")(seq).isEmpty()
    assert T.sequential_values("n")(seq.filter("n <= 3")).isEmpty()
    ranges = spark.createDataFrame([(0, 10), (10, 20), (15, 30)], "lo int, hi int")
    assert not T.mutually_exclusive_ranges("lo", "hi")(ranges).isEmpty()
    assert T.mutually_exclusive_ranges("lo", "hi")(ranges.filter("lo < 15")).isEmpty()
    parent = spark.createDataFrame([(1,), (2,)], "k int")
    child = spark.createDataFrame([(1,), (3,)], "k int")
    assert not T.relationships("k", parent, "k")(child).isEmpty()


def test_star_and_union_relations(spark):
    a = spark.createDataFrame([(1, "x", 5.0)], "id int, name string, score double")
    b = spark.createDataFrame([(2, "left")], "id int, side string")
    cols = star_from_relations([a, b], except_=["score"])
    assert cols == ["`id`", "`name`", "`side`"]
    cols_aliased = star_from_relations([a], relation_alias="t")
    assert cols_aliased == ["t.`id`", "t.`name`", "t.`score`"]

    u = union_relations({"a": a, "b": b})
    assert set(u.columns) == {"id", "name", "score", "side", "_dbt_source_relation"}
    rows = {
        tuple(r)
        for r in u.select("id", "name", "score", "side", "_dbt_source_relation").collect()
    }
    assert (1, "x", 5.0, None, "a") in rows
    assert (2, None, None, "left", "b") in rows
    assert get_columns_in_query(u) == u.columns


def test_orphans_and_lint(project, spark):
    @project.model(materialized="table")
    def managed_model(ctx):
        return spark.range(3)

    project.run()
    # an unmanaged table in the project schema → orphan
    spark.sql(
        f"CREATE TABLE {project.target.schema}.rogue_table AS SELECT 1 AS x"
    )
    lines = list_orphaned_objects(project, printer=lambda s: None)
    assert f"{project.target.schema}.rogue_table" in lines
    assert all("managed_model" not in line for line in lines)
    drops = list_orphaned_objects(project, output_drop_cmd=True, printer=lambda s: None)
    assert f"DROP TABLE {project.target.schema}.rogue_table;" in drops
    renames = list_orphaned_objects(
        project, output_rename_cmd=True, printer=lambda s: None
    )
    assert any("_to_delete_rogue_table" in r for r in renames)
    # print-only contract: the rogue table must still exist
    assert spark.catalog.tableExists(f"{project.target.schema}.rogue_table")

    project.model("SELECT 1 AS x;", name="bad_semicolon")
    project.model("SELECT * FROM cat.sch.tbl", name="bad_three_part")
    problems = lint(project)
    assert any("trailing semicolon" in p for p in problems)
    assert any("3-part" in p for p in problems)


def test_information_schema_skips_schema_dropped_mid_listing(spark, monkeypatch):
    """A schema dropped between the database listing and its table
    listing (a concurrent build dropping its throwaway schema) is
    skipped; the other schemas are still listed."""
    from dbt_foundation_spark.sources.registry import information_schema_tables

    kept, dropped = (f"t_{uuid.uuid4().hex[:8]}" for _ in range(2))
    spark.sql(f"CREATE DATABASE {kept}")
    spark.sql(f"CREATE TABLE {kept}.still_here AS SELECT 1 AS x")
    spark.sql(f"CREATE DATABASE {dropped}")
    list_databases = spark.catalog.listDatabases

    def list_then_drop(*args, **kwargs):
        dbs = list_databases(*args, **kwargs)
        spark.sql(f"DROP DATABASE {dropped} CASCADE")
        return dbs

    monkeypatch.setattr(spark.catalog, "listDatabases", list_then_drop)
    try:
        rows = {tuple(r) for r in information_schema_tables(spark).collect()}
    finally:
        monkeypatch.undo()
        spark.sql(f"DROP DATABASE IF EXISTS {kept} CASCADE")
        spark.sql(f"DROP DATABASE IF EXISTS {dropped} CASCADE")
    assert ("TABLE", kept, "still_here") in rows
    assert not [r for r in rows if r[1] == dropped]


def test_state_modified_selector(project, spark):
    @project.model(materialized="table")
    def base_m(ctx):
        return spark.range(2)

    @project.model(materialized="table")
    def child_m(ctx):
        return ctx.ref("base_m").withColumn("y", F.lit(1))

    project.run()
    state = project.state_snapshot()
    assert project.modified_plus(state) == set()
    # mutate base_m's definition → base_m and its consumer are selected
    project.manifest["base_m"].sql = "SELECT 99 AS id"
    project.manifest["base_m"].fn = None
    sel = project.modified_plus(state)
    assert sel == {"base_m", "child_m"}


def test_ref_package_and_version_variants(project, spark, tmp_path):
    """ref('pkg','model'), ref('model', version=n), ref('model', v=n) —
    the reference override's full surface (macros/overrides/ref.sql)."""

    @project.model(materialized="table", package="pkg_a")
    def shared_dim(ctx):
        return spark.range(3).withColumnRenamed("id", "k")

    # same logical name from a second package -> unqualified ref ambiguous
    project.model(
        "SELECT 99 AS k",
        name="shared_dim",
        materialized="table",
        package="pkg_b",
    )

    @project.model(materialized="table", version=1)
    def fact(ctx):
        return spark.range(2).withColumnRenamed("id", "n")

    @project.model(materialized="table", version=2)
    def fact(ctx):  # noqa: F811
        return spark.range(5).withColumnRenamed("id", "n")

    @project.model(materialized="table")
    def consumer(ctx):
        a = ctx.ref("pkg_a", "shared_dim")
        latest = ctx.ref("fact")          # -> v2 (highest)
        pinned = ctx.ref("fact", version=1)
        alias_kw = ctx.ref("fact", v=2)
        return spark.createDataFrame(
            [(a.count(), latest.count(), pinned.count(), alias_kw.count())],
            "n_dim long, n_latest long, n_v1 long, n_v2 long",
        )

    results = {r.node: r.status for r in project.run()}
    assert results["consumer"] == "success"
    rel = project.relation_name(project.manifest["consumer"])
    row = spark.table(rel).first()
    assert (row.n_dim, row.n_latest, row.n_v1, row.n_v2) == (3, 5, 2, 5)
    # versioned relations get name_vN aliases
    assert project.manifest["fact.v2"].alias == "fact_v2"

    @project.model(materialized="table", name="amb_consumer")
    def amb(ctx):
        return ctx.ref("shared_dim")  # ambiguous across pkg_a/pkg_b

    res = {r.node: r for r in project.run(select={"amb_consumer"})}
    assert res["amb_consumer"].status == "error"
    assert "ambiguous" in res["amb_consumer"].message


def test_sql_model_ref_shapes(project, spark):
    """SQL-string models support the same ref() shapes as function
    models — 2-arg package refs, version=/v= kwargs, dotted node keys —
    and get DAG edges for each (round-2 advisor: a \\w+-only regex
    dropped these, scheduling consumers before their upstream)."""
    # consumer registered FIRST: resolution must not depend on order
    project.model(
        "SELECT (SELECT COUNT(*) FROM ref('pkg_a', 'dim_sql')) AS n_dim, "
        "(SELECT COUNT(*) FROM ref('fact_sql', version=1)) AS n_v1, "
        "(SELECT COUNT(*) FROM ref('fact_sql', v=2)) AS n_v2, "
        "(SELECT COUNT(*) FROM ref('fact_sql.v2')) AS n_key, "
        "(SELECT COUNT(*) FROM ref('fact_sql')) AS n_latest",
        name="sql_ref_consumer",
        materialized="table",
    )

    @project.model(materialized="table", package="pkg_a")
    def dim_sql(ctx):
        return spark.range(3)

    @project.model(materialized="table", version=1)
    def fact_sql(ctx):
        return spark.range(2)

    @project.model(materialized="table", version=2)
    def fact_sql(ctx):  # noqa: F811
        return spark.range(5)

    results = {r.node: r for r in project.run()}
    assert results["sql_ref_consumer"].status == "success", results[
        "sql_ref_consumer"
    ].message
    deps = project.manifest["sql_ref_consumer"].depends_on
    assert {"dim_sql", "fact_sql.v1", "fact_sql.v2"} <= deps
    row = spark.table(
        project.relation_name(project.manifest["sql_ref_consumer"])
    ).first()
    assert (row.n_dim, row.n_v1, row.n_v2, row.n_key, row.n_latest) == (3, 2, 5, 5, 5)

    with pytest.raises(ValueError, match="unsupported ref"):
        project.model("SELECT * FROM ref(some_var)", name="bad_ref_model")


def test_seed_column_types_override(project, spark, tmp_path):
    """dbt seed +column_types: declared types are applied at parse time —
    zip codes stay strings with leading zeros intact."""
    csv = tmp_path / "zips.csv"
    csv.write_text("city,zip,pop\na,02134,10\nb,90210,20\n")
    project.seed("zips_typed", str(csv), column_types={"zip": "string"})
    project.seed("zips_inferred", str(csv))
    project.run()
    typed = project.relation_name(project.manifest["zips_typed"])
    inferred = project.relation_name(project.manifest["zips_inferred"])
    assert dict(spark.table(typed).dtypes)["zip"] == "string"
    assert {r.zip for r in spark.table(typed).collect()} == {"02134", "90210"}
    assert dict(spark.table(inferred).dtypes)["zip"] in ("int", "bigint")
    with pytest.raises(ValueError):
        p2 = Project("bad_seed", spark)
        p2.seed("oops", str(csv), column_types={"nope": "string"})
        p2.build_frame(p2.manifest["oops"])


def test_seed_malformed_rows_fail_loudly(project, spark, tmp_path):
    """Dirty-seed contract (r11 probe): Spark's default PERMISSIVE CSV
    parse silently NULLed every malformed cell — a ragged line lost its
    amount, 'three' in an int id column became a NULL key — and the
    damage surfaced (if ever) as a mystifying downstream test failure.
    Seeds are checked-in configuration: a malformed LINE is a
    source-control error and the run must fail naming the record
    (mode=FAILFAST), in both the inferred and column_types branches.
    External SOURCES keep their own choice via Source.options."""
    ragged = tmp_path / "ragged.csv"
    ragged.write_text("id,zip,amount\n1,02134,10.5\n2,99999\n4,00042,7.0\n")
    project.seed("ragged_seed", str(ragged))
    res = {r.node: r for r in project.run(select={"ragged_seed"})}
    assert res["ragged_seed"].status == "error"
    assert "MALFORMED" in (res["ragged_seed"].message or "").upper()

    badtype = tmp_path / "badtype.csv"
    badtype.write_text("id,zip,amount\n1,02134,10.5\nthree,11111,2.0\n")
    p2 = _reattach(project)
    p2.seed("badtype_seed", str(badtype), column_types={"id": "int"})
    res2 = {r.node: r for r in p2.run(select={"badtype_seed"})}
    assert res2["badtype_seed"].status == "error"
    assert "MALFORMED" in (res2["badtype_seed"].message or "").upper()

    # clean seeds are untouched: leading zeros survive under the
    # declared type, and the load succeeds
    clean = tmp_path / "clean.csv"
    clean.write_text("id,zip,amount\n1,02134,10.5\n2,00042,7.0\n")
    p3 = _reattach(project)
    p3.seed("clean_seed", str(clean), column_types={"zip": "string"})
    res3 = {r.node: r for r in p3.run(select={"clean_seed"})}
    assert res3["clean_seed"].status == "success"
    rel = p3.relation_name(p3.manifest["clean_seed"])
    assert {r.zip for r in spark.table(rel).collect()} == {"02134", "00042"}


def test_seed_encoding_and_quoted_newlines(project, spark, tmp_path):
    """Seed encoding contract (r13 probe, two shapes):

    - a UTF-16 seed read as UTF-8 'succeeded' with NUL-riddled column
      names and garbage values — silent wrong configuration feeding
      joins and tests. Mis-decoded bytes always surface in the header,
      so the loader gates on NUL/replacement chars in column names and
      refuses naming the heal (re-encode or declare ``encoding=``);
      with ``encoding='UTF-16'`` declared, the same file loads clean;
    - a QUOTED NEWLINE is legal CSV, but the line-splitting parser
      handed FAILFAST half a record and a valid seed failed opaquely —
      multiLine parses it (and ragged lines still fail loud, pinned by
      test_seed_malformed_rows_fail_loudly).

    BOM / CRLF / trailing blank lines were probed too: Spark's parser
    already handles all three correctly, nothing to gate."""
    content = "id,amount\n1,10\n2,20\n"
    utf16 = tmp_path / "utf16.csv"
    utf16.write_bytes(content.encode("utf-16"))

    project.seed("wide_seed", str(utf16))
    res = {r.node: r for r in project.run(select={"wide_seed"})}
    assert res["wide_seed"].status == "error"
    assert "encod" in (res["wide_seed"].message or "").lower()

    p2 = _reattach(project)
    p2.seed("wide_seed_ok", str(utf16), encoding="UTF-16")
    res2 = {r.node: r for r in p2.run(select={"wide_seed_ok"})}
    assert res2["wide_seed_ok"].status == "success"
    rel = p2.relation_name(p2.manifest["wide_seed_ok"])
    got = spark.table(rel)
    assert got.columns == ["id", "amount"]
    assert {(r.id, r.amount) for r in got.collect()} == {(1, 10), (2, 20)}

    quoted = tmp_path / "quoted.csv"
    quoted.write_text('id,note\n1,"line1\nline2"\n2,plain\n')
    p3 = _reattach(project)
    p3.seed("quoted_seed", str(quoted))
    res3 = {r.node: r for r in p3.run(select={"quoted_seed"})}
    assert res3["quoted_seed"].status == "success"
    rel3 = p3.relation_name(p3.manifest["quoted_seed"])
    assert {r.note for r in spark.table(rel3).collect()} == {
        "line1\nline2", "plain",
    }

    # BOM stays handled by the parser itself — no gate false-positive
    bom = tmp_path / "bom.csv"
    bom.write_text("﻿id,amount\n1,10\n")
    p4 = _reattach(project)
    p4.seed("bom_seed", str(bom))
    res4 = {r.node: r for r in p4.run(select={"bom_seed"})}
    assert res4["bom_seed"].status == "success"
    rel4 = p4.relation_name(p4.manifest["bom_seed"])
    assert spark.table(rel4).columns == ["id", "amount"]

    # single-byte mis-encoding (r13 review): cp1252 'Müller' read as
    # UTF-8 leaves the ASCII header clean and mangles only VALUES —
    # the value probe must catch it; declaring the encoding loads clean
    cp = tmp_path / "latin1.csv"
    cp.write_bytes("id,name\n1,Müller\n".encode("latin-1"))
    p5 = _reattach(project)
    p5.seed("cp_seed", str(cp))
    res5 = {r.node: r for r in p5.run(select={"cp_seed"})}
    assert res5["cp_seed"].status == "error"
    assert "encoding" in (res5["cp_seed"].message or "")
    # ISO-8859-1: Spark's CSV reader supports a FIXED charset list
    # (iso-8859-1 / us-ascii / utf-8 / utf-16* / utf-32*) — cp1252
    # itself is not on it, latin-1 is the supported superset-for-print
    p6 = _reattach(project)
    p6.seed("cp_seed_ok", str(cp), encoding="ISO-8859-1")
    res6 = {r.node: r for r in p6.run(select={"cp_seed_ok"})}
    assert res6["cp_seed_ok"].status == "success"
    rel6 = p6.relation_name(p6.manifest["cp_seed_ok"])
    assert {r.name for r in spark.table(rel6).collect()} == {"Müller"}


def test_table_create_over_stale_warehouse_dir(project, spark):
    """A managed-table CTAS must succeed even when a previous process
    left an orphan directory at the table's warehouse location (fresh
    in-memory catalog + persistent filesystem — the restart shape that
    used to fail with LOCATION_ALREADY_EXISTS)."""
    from pathlib import Path
    from urllib.parse import urlparse

    schema = project.target.schema
    wh = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    stale = wh / f"{schema}.db" / "fct_stale"
    stale.mkdir(parents=True, exist_ok=True)
    (stale / "orphan.parquet").write_bytes(b"junk")

    @project.model(materialized="table")
    def fct_stale(ctx):
        return spark.range(3).select(F.col("id").alias("n"))

    results = {r.node: r for r in project.run()}
    assert results["fct_stale"].status == "success", results["fct_stale"]
    rel = project.relation_name(project.manifest["fct_stale"])
    assert spark.table(rel).count() == 3


def test_on_schema_change_policies(project, spark):
    """dbt's on_schema_change for incrementals: ignore (default) keeps
    the target schema, fail aborts, append_new_columns evolves the
    table in place (old rows NULL), sync_all_columns follows the batch
    including removals."""
    import pytest as _pytest

    spark.createDataFrame([(1, "a")], "id int, v string").createOrReplaceTempView(
        "sc_src"
    )

    for policy in ("ignore", "fail", "append_new_columns", "sync_all_columns"):
        @project.model(
            name=f"sc_{policy}",
            materialized="incremental",
            incremental_strategy="append",
            on_schema_change=policy,
        )
        def sc_model(ctx):
            return spark.table("sc_src")

    project.run()

    # second run: column v gone, column w added
    spark.createDataFrame([(2, 9.5)], "id int, w double").createOrReplaceTempView(
        "sc_src"
    )

    rels = {
        p: project.relation_name(project.manifest[f"sc_{p}"])
        for p in ("ignore", "fail", "append_new_columns", "sync_all_columns")
    }

    p2 = _reattach(project, models=("sc_ignore",))
    p2.run(select={"sc_ignore"})
    got = {(r.id, r.v) for r in spark.table(rels["ignore"]).collect()}
    assert got == {(1, "a"), (2, None)}  # w dropped, v NULL-filled

    p3 = _reattach(project, models=("sc_fail",))
    res = {r.node: r for r in p3.run(select={"sc_fail"})}
    assert res["sc_fail"].status == "error"
    assert "on_schema_change" in (res["sc_fail"].message or "")

    p4 = _reattach(project, models=("sc_append_new_columns",))
    p4.run(select={"sc_append_new_columns"})
    rows = {
        (r.id, r.v, r.w)
        for r in spark.table(rels["append_new_columns"]).collect()
    }
    assert rows == {(1, "a", None), (2, None, 9.5)}  # evolved in place

    p5 = _reattach(project, models=("sc_sync_all_columns",))
    p5.run(select={"sc_sync_all_columns"})
    sync = spark.table(rels["sync_all_columns"])
    assert set(sync.columns) == {"id", "w"}  # v removed, w added
    assert {(r.id, r.w) for r in sync.collect()} == {(1, None), (2, 9.5)}


def test_incremental_predicates_bound_merge_scan(project, spark):
    """incremental_predicates: only existing rows inside the predicate
    window are candidates for key-replacement; rows outside are kept
    verbatim even when their key re-arrives (dbt's documented
    trade-off — the predicate is what keeps a 100 TB merge from
    scanning the whole table)."""
    spark.createDataFrame(
        [(1, 10, "2020"), (2, 20, "2024")], "id int, v int, yr string"
    ).createOrReplaceTempView("ip_src")

    @project.model(
        materialized="incremental",
        incremental_strategy="merge",
        unique_key="id",
        incremental_predicates=("yr >= '2023'",),
    )
    def ip_merge(ctx):
        return spark.table("ip_src")

    project.run()
    rel = project.relation_name(project.manifest["ip_merge"])
    # re-arrivals: id=1 lives OUTSIDE the window (yr 2020) -> duplicate
    # kept; id=2 lives inside -> replaced
    spark.createDataFrame(
        [(1, 11, "2024"), (2, 22, "2024")], "id int, v int, yr string"
    ).createOrReplaceTempView("ip_src")
    p2 = _reattach(project, models=("ip_merge",))
    p2.run(select={"ip_merge"})
    got = sorted((r.id, r.v) for r in spark.table(rel).collect())
    assert got == [(1, 10), (1, 11), (2, 22)]


def test_source_freshness_grades(spark, sf_dir):
    import datetime as dt

    from dbt_foundation_spark.sources.registry import (
        Source,
        SourceRegistry,
        check_freshness,
    )

    reg = SourceRegistry()
    reg.add(
        Source(
            "raw", "orders", path=f"{sf_dir}/orders.parquet",
            loaded_at_field="o_orderdate",
            warn_after_seconds=3600, error_after_seconds=86400,
        )
    )
    ords = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mx = ords.agg(F.max(F.col("o_orderdate").cast("timestamp"))).first()[0]

    fresh = check_freshness(spark, reg, now=mx + dt.timedelta(seconds=60))[0]
    assert fresh["status"] == "pass" and fresh["age_seconds"] == 60
    warn = check_freshness(spark, reg, now=mx + dt.timedelta(seconds=7200))[0]
    assert warn["status"] == "warn"
    err = check_freshness(spark, reg, now=mx + dt.timedelta(days=2))[0]
    assert err["status"] == "error"
    # sources without loaded_at_field are skipped, not graded
    reg.add(Source("raw", "nation", path=f"{sf_dir}/nation.parquet"))
    assert len(check_freshness(spark, reg, now=mx)) == 1


def test_unit_tests_function_and_sql_models(project, spark):
    """dbt-1.8-style unit tests: model logic runs against mocked
    ref/source fixture rows (partial columns NULL-fill with the real
    input's types), output compared on exactly the expect columns."""
    from dbt_foundation_spark.unit_tests import run_unit_test

    @project.model
    def stg_ut_orders(ctx):
        return ctx.source("raw", "orders")

    @project.model
    def fct_big_spenders(ctx):
        return (
            ctx.ref("stg_ut_orders")
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("spend"))
            .filter(F.col("spend") > 100.0)
        )

    r = run_unit_test(
        project,
        "fct_big_spenders",
        given={"stg_ut_orders": [
            {"o_custkey": 1, "o_totalprice": 60.0},
            {"o_custkey": 1, "o_totalprice": 50.0},
            {"o_custkey": 2, "o_totalprice": 99.0},
        ]},
        expect=[{"o_custkey": 1, "spend": 110.0}],
    )
    assert r.status == "pass", r.message

    # failure is reported, not raised
    bad = run_unit_test(
        project,
        "fct_big_spenders",
        given={"stg_ut_orders": [{"o_custkey": 2, "o_totalprice": 99.0}]},
        expect=[{"o_custkey": 2, "spend": 99.0}],
    )
    assert bad.status == "fail" and "rows differ" in bad.message

    # source mocking + partial fixture (other orders columns NULL-fill)
    r2 = run_unit_test(
        project,
        "stg_ut_orders",
        given={"raw.orders": [{"o_orderkey": 7, "o_totalprice": 1.5}]},
        expect=[{"o_orderkey": 7, "o_orderstatus": None}],
    )
    assert r2.status == "pass", r2.message

    # SQL-string model
    project.model(
        "SELECT o_custkey, COUNT(*) AS n FROM ref('stg_ut_orders') GROUP BY o_custkey",
        name="sql_ut_counts",
    )
    r3 = run_unit_test(
        project,
        "sql_ut_counts",
        given={"stg_ut_orders": [{"o_custkey": 3}, {"o_custkey": 3}]},
        expect=[{"o_custkey": 3, "n": 2}],
    )
    assert r3.status == "pass", r3.message

    # unmocked read and never-read mock both fail loudly
    gap = run_unit_test(project, "fct_big_spenders", given={}, expect=[])
    assert gap.status == "error" and "not mocked" in gap.message
    stale = run_unit_test(
        project,
        "stg_ut_orders",
        given={"raw.orders": [], "raw.lineitem": [{"l_orderkey": 1}]},
        expect=[],
    )
    assert stale.status == "error" and "never read" in stale.message


def test_configured_tests_severity_thresholds_store_failures(project, spark):
    from dbt_foundation_spark.testing import (
        TestSpec,
        not_null,
        run_configured_tests,
        unique,
    )

    spark.createDataFrame(
        [(1,), (1,), (2,), (None,)], "id int"
    ).createOrReplaceTempView("tc_src")

    @project.model(materialized="table")
    def tc_model(ctx):
        return spark.table("tc_src")

    project.run()
    res = {
        (r.test): r
        for r in run_configured_tests(
            project,
            [
                TestSpec("tc_model", "uniq_default", unique("id")),
                TestSpec("tc_model", "uniq_warnonly", unique("id"), severity="warn"),
                TestSpec(
                    "tc_model", "nn_tolerant", not_null("id"), error_if=">5",
                    warn_if=">0",
                ),
                TestSpec(
                    "tc_model", "uniq_stored", unique("id"), store_failures=True
                ),
            ],
        )
    }
    # one violation row per DUPLICATED KEY (dbt's unique-test shape)
    assert res["uniq_default"].status == "fail" and res["uniq_default"].failures == 1
    assert res["uniq_warnonly"].status == "warn"
    # 1 null: error_if '>5' not met, warn_if '>0' met -> warn
    assert res["nn_tolerant"].status == "warn" and res["nn_tolerant"].failures == 1
    stored = spark.table(
        f"{project.target.schema}.test_failures__tc_model__uniq_stored"
    )
    assert stored.count() == 1  # the duplicated key row is queryable


def test_pre_post_hooks_run_with_this(project, spark):
    """pre_hook runs before the build, post_hook after with {this}
    resolved — the dbt hook contract (grants, audit rows, ANALYZE)."""
    import uuid

    audit = f"default.hook_audit_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE TABLE {audit} (evt STRING, at TIMESTAMP) USING parquet")

    @project.model(
        materialized="table",
        pre_hook=(f"INSERT INTO {audit} VALUES ('pre', current_timestamp())",),
        post_hook=(
            f"INSERT INTO {audit} SELECT 'post_' || COUNT(*), current_timestamp() FROM {{this}}",
        ),
    )
    def hooked_model(ctx):
        return spark.range(3)

    results = {r.node: r for r in project.run(select={"hooked_model"})}
    assert results["hooked_model"].status == "success"
    evts = [r.evt for r in spark.table(audit).orderBy("at").collect()]
    assert evts == ["pre", "post_3"]  # post hook saw the materialized rows
    spark.sql(f"DROP TABLE {audit}")


def test_selector_grammar(project, spark):
    """dbt --select grammar: graph walks (+model, model+, @model),
    tag: and config.-field matches, union + exclude, typo'd names raise."""
    import pytest as _pytest

    from dbt_foundation_spark.selectors import select_nodes

    @project.model(materialized="table", tags=("nightly",))
    def sel_base(ctx):
        return spark.range(2)

    @project.model(materialized="table")
    def sel_mid(ctx):
        return ctx.ref("sel_base")

    @project.model(tags=("nightly",))
    def sel_leaf(ctx):
        return ctx.ref("sel_mid")

    @project.model(materialized="table")
    def sel_other(ctx):
        return spark.range(1)

    project.run()
    S = lambda *a, **k: select_nodes(project, *a, **k) & {
        "sel_base", "sel_mid", "sel_leaf", "sel_other"
    }
    assert S("sel_mid") == {"sel_mid"}
    assert S("+sel_mid") == {"sel_base", "sel_mid"}
    assert S("sel_mid+") == {"sel_mid", "sel_leaf"}
    assert S("+sel_mid+") == {"sel_base", "sel_mid", "sel_leaf"}
    assert S("@sel_mid") == {"sel_base", "sel_mid", "sel_leaf"}
    assert S("tag:nightly") == {"sel_base", "sel_leaf"}
    assert S("config.materialized:table") >= {"sel_base", "sel_mid", "sel_other"}
    assert S("sel_mid+ sel_other") == {"sel_mid", "sel_leaf", "sel_other"}
    assert S("+sel_leaf", exclude="tag:nightly") == {"sel_mid"}
    with _pytest.raises(KeyError, match="sel_typo"):
        select_nodes(project, "sel_typo+")
    # state:modified routes through the checksum snapshot
    state = project.state_snapshot()
    project.manifest["sel_base"].sql = "SELECT 1 AS id"
    project.manifest["sel_base"].fn = None
    assert S("state:modified", state=state) == {"sel_base"}
    assert S("state:modified+", state=state) == {"sel_base", "sel_mid", "sel_leaf"}


def test_exposures_and_docs_artifacts(project, spark, tmp_path):
    """Exposures are never-run graph nodes whose weak (view/ephemeral)
    parents the evaluator flags; generate_docs emits manifest+catalog
    artifacts covering nodes, exposures and materialized relations."""
    import json

    from dbt_foundation_spark.docs import generate_docs
    from dbt_foundation_spark.evaluator import evaluate

    @project.model(materialized="table")
    def exp_fct(ctx):
        return spark.range(2)

    @project.model  # view: a weak exposure parent
    def exp_view(ctx):
        return ctx.ref("exp_fct")

    project.exposure(
        "weekly_dashboard",
        depends_on=("exp_fct", "exp_view"),
        owner="data-team",
        url="https://bi.example/d/42",
    )
    results = {r.node for r in project.run()}
    assert "weekly_dashboard" not in results  # exposures never execute

    flagged = [
        f for f in evaluate(project) if f.check == "exposure_parent_materialization"
    ]
    assert [f.node for f in flagged] == ["weekly_dashboard"]
    assert "exp_view" in flagged[0].detail

    arts = generate_docs(project, path=str(tmp_path))
    m = json.loads((tmp_path / "manifest.json").read_text())
    assert m["exposures"]["weekly_dashboard"]["depends_on"] == [
        "exp_fct", "exp_view",
    ]
    assert m["nodes"]["exp_fct"]["materialized"] == "table"
    assert m["nodes"]["exp_fct"]["checksum"]
    cat = json.loads((tmp_path / "catalog.json").read_text())
    rel = project.relation_name(project.manifest["exp_fct"])
    assert any(c["name"] == "id" for c in cat[rel]["columns"])
    assert arts["manifest"]["sources"]  # testdata sources are declared


def test_run_with_selector_expression(project, spark):
    @project.model(materialized="table", tags=("gold",))
    def rs_a(ctx):
        return spark.range(1)

    @project.model(materialized="table")
    def rs_b(ctx):
        return ctx.ref("rs_a")

    done = {r.node for r in project.run(selector="+rs_b")}
    assert done >= {"rs_a", "rs_b"}
    only = {r.node for r in project.run(selector="tag:gold")} & {"rs_a", "rs_b"}
    assert only == {"rs_a"}  # exact selection, no implied downstream


def test_model_contract_enforced(project, spark):
    """dbt 1.5 contracts: exact schema match at plan time, row
    constraints validated before the write (contracts.py)."""
    from dbt_foundation_spark.contracts import ContractError

    cols = {
        "id": {"data_type": "bigint", "constraints": ["not_null", "unique"]},
        "amount": {
            "data_type": "double",
            "constraints": [{"type": "check", "expression": "amount >= 0"}],
        },
    }

    @project.model(
        materialized="table", contract={"enforced": True}, columns=cols
    )
    def contracted_ok(ctx):
        # the NULL amount row pins SQL CHECK semantics: an unknown
        # predicate result passes the constraint (r4 ADVICE fix)
        return spark.sql(
            "SELECT CAST(1 AS BIGINT) id, CAST(2.5 AS DOUBLE) amount "
            "UNION ALL SELECT 2, 0.0 "
            "UNION ALL SELECT 3, CAST(NULL AS DOUBLE)"
        )

    res = {r.node: r for r in project.run()}
    assert res["contracted_ok"].status == "success"
    rel = project.relation_name(project.manifest["contracted_ok"])
    assert spark.table(rel).count() == 3

    # wrong type → plan-time schema violation, nothing written
    @project.model(
        materialized="table", contract={"enforced": True}, columns=cols
    )
    def contracted_badtype(ctx):
        return spark.sql("SELECT CAST(1 AS INT) id, CAST(2.5 AS DOUBLE) amount")

    # undeclared extra column → violation
    @project.model(
        materialized="table", contract={"enforced": True}, columns=cols
    )
    def contracted_extra(ctx):
        return spark.sql(
            "SELECT CAST(1 AS BIGINT) id, CAST(2.5 AS DOUBLE) amount, 'x' AS extra"
        )

    # constraint violation: null id + negative amount, caught pre-write
    @project.model(
        materialized="table", contract={"enforced": True}, columns=cols
    )
    def contracted_badrows(ctx):
        return spark.sql(
            "SELECT CAST(NULL AS BIGINT) id, CAST(-1.0 AS DOUBLE) amount"
        )

    res = {
        r.node: r
        for r in project.run(
            select={"contracted_badtype", "contracted_extra", "contracted_badrows"}
        )
    }
    for name in ("contracted_badtype", "contracted_extra", "contracted_badrows"):
        assert res[name].status == "error", name
    assert "declared bigint, built int" in res["contracted_badtype"].message
    assert "undeclared" in res["contracted_extra"].message
    assert "not_null" in res["contracted_badrows"].message
    assert "check(amount >= 0)" in res["contracted_badrows"].message
    for name in ("contracted_badtype", "contracted_badrows"):
        assert not spark.catalog.tableExists(
            project.relation_name(project.manifest[name])
        ), "a violating build must never land"

    # direct unit check: ContractError type + missing data_type guard
    with pytest.raises(ContractError):
        from dbt_foundation_spark import contracts as C

        C.check_schema(
            project.manifest["contracted_ok"].__class__(
                name="x",
                resource_type="model",
                config=project.manifest["contracted_ok"].config,
                columns={"id": {}},
            ),
            spark.range(1).withColumnRenamed("id", "id"),
        )


def test_incremental_microbatch(project, spark):
    """dbt 1.9 microbatch: per-period partitions, lookback reprocessing,
    explicit backfill window, empty-period clearing."""
    src = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 10.0),
            (2, "2024-01-02 11:00:00", 20.0),
            (3, "2024-01-03 12:00:00", 30.0),
        ],
        "id bigint, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    state = {"batch": src}

    def register(p):
        @p.model(
            materialized="incremental",
            incremental_strategy="microbatch",
            event_time="ts",
            batch_size="day",
            lookback=1,
            begin="2024-01-01",
            name="mb_events",
        )
        def mb_events(ctx):
            return state["batch"]

        return p

    register(project)
    assert all(r.status == "success" for r in project.run())
    rel = project.relation_name(project.manifest["mb_events"])
    out = spark.table(rel)
    assert out.count() == 3
    assert "dbt_event_batch" in out.columns
    assert {r[0] for r in out.select("dbt_event_batch").collect()} == {
        "2024-01-01", "2024-01-02", "2024-01-03",
    }

    # run 2: restated source — day 3 vanished, day 2 revalued (inside
    # lookback window relative to max batch day-3: start = day 2),
    # day 4 arrives. Day 1 is OUTSIDE the window and must keep v=10.
    state["batch"] = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 99.0),   # outside window — ignored
            (2, "2024-01-02 11:00:00", 25.0),   # restated
            (4, "2024-01-04 09:00:00", 40.0),   # new batch
        ],
        "id bigint, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert all(r.status == "success" for r in project.run(select={"mb_events"}))
    rows = {
        r["dbt_event_batch"]: (r["id"], r["v"])
        for r in spark.table(rel).collect()
    }
    assert rows == {
        "2024-01-01": (1, 10.0),   # untouched
        "2024-01-02": (2, 25.0),   # reprocessed via lookback
        "2024-01-04": (4, 40.0),   # appended
    }  # 2024-01-03 cleared: restated source has no rows for it

    # run 3: explicit backfill window pins exactly one period
    state["batch"] = spark.createDataFrame(
        [(9, "2024-01-01 08:00:00", 11.0), (8, "2024-01-02 08:00:00", 77.0)],
        "id bigint, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert all(
        r.status == "success"
        for r in project.run(
            select={"mb_events"},
            event_time_start="2024-01-01",
            event_time_end="2024-01-01 23:00:00",
        )
    )
    rows = {
        r["dbt_event_batch"]: (r["id"], r["v"])
        for r in spark.table(rel).collect()
    }
    assert rows["2024-01-01"] == (9, 11.0)  # backfilled
    assert rows["2024-01-02"] == (2, 25.0)  # outside explicit window — kept
    assert rows["2024-01-04"] == (4, 40.0)


def test_microbatch_null_event_times_belong_to_no_batch(project, spark):
    """NULL event-times through microbatch (r11 probe): the fate used
    to be begin-dependent — with `begin` the NULL-batch rows silently
    vanished through the window filter, without it they landed once in
    __HIVE_DEFAULT_PARTITION__ at the initial build and no later
    window could rebuild or clear them. Contract now (mirrors the
    sessionizers' r10 rule): a row at an unknown time belongs to NO
    batch, on the initial build and every incremental run, with or
    without begin — and never duplicates or resurrects."""
    state = {}

    def mk(rows):
        return spark.createDataFrame(
            rows, "id bigint, ts string, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    for tag, begin in (("anchored", "2024-01-01"), ("unanchored", None)):
        state["batch"] = mk(
            [(1, "2024-01-01 10:00:00", 10.0), (2, None, 20.0)]
        )
        kwargs = dict(
            materialized="incremental",
            incremental_strategy="microbatch",
            event_time="ts", batch_size="day", lookback=1,
            name=f"mb_null_{tag}",
        )
        if begin:
            kwargs["begin"] = begin
        p = _reattach(project)

        @p.model(**kwargs)
        def mb_null(ctx):
            return state["batch"]

        assert all(r.status == "success" for r in p.run())
        rel = p.relation_name(p.manifest[f"mb_null_{tag}"])
        assert {r.id for r in spark.table(rel).collect()} == {1}, tag

        # incremental run restating day 1 plus another NULL-ts row:
        # clean restatement applies, NULL rows still land nowhere
        state["batch"] = mk(
            [(1, "2024-01-01 10:00:00", 11.0), (3, None, 30.0)]
        )
        p2 = _reattach(p, models=(f"mb_null_{tag}",))
        assert all(
            r.status == "success" for r in p2.run(select={f"mb_null_{tag}"})
        )
        got = {(r.id, r.v) for r in spark.table(rel).collect()}
        assert got == {(1, 11.0)}, tag


def test_incremental_microbatch_with_partition_by(project, spark):
    """Regression (r4 ADVICE high): combining partition_by with the
    microbatch strategy made the period DROP a partial partition spec —
    a silent no-op on the in-memory catalog — so every incremental run
    duplicated the rebuilt periods. The fix enumerates full
    (partition_by..., dbt_event_batch) specs before dropping."""
    # grp=None and grp="it's" pin the spec-literal rendering: a NULL
    # partition drops via an unquoted null (quoting it matches nothing
    # and resurrects the duplication bug), a quoted value must escape
    src = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 10:00:00", 10.0),
            (2, "b", "2024-01-02 11:00:00", 20.0),
            (3, None, "2024-01-02 12:00:00", 30.0),
            (4, "it's", "2024-01-03 08:00:00", 40.0),
        ],
        "id bigint, grp string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    state = {"batch": src}

    @project.model(
        materialized="incremental",
        incremental_strategy="microbatch",
        event_time="ts",
        batch_size="day",
        lookback=1,
        begin="2024-01-01",
        partition_by=["grp"],
        name="mb_part",
    )
    def mb_part(ctx):
        return state["batch"]

    assert all(r.status == "success" for r in project.run())
    rel = project.relation_name(project.manifest["mb_part"])
    assert spark.table(rel).count() == 4

    # run 2 (window = max batch day-3 − lookback 1 → start day-2):
    # day 2 restated (grp b revalued, the NULL-grp row vanishes), day 3
    # restated from the quoted partition into a fresh one; day 1 outside.
    state["batch"] = spark.createDataFrame(
        [
            (2, "b", "2024-01-02 11:00:00", 25.0),
            (5, "c", "2024-01-03 09:00:00", 50.0),
        ],
        "id bigint, grp string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert all(r.status == "success" for r in project.run(select={"mb_part"}))
    rows = sorted(
        (r["dbt_event_batch"], r["grp"], r["id"], r["v"])
        for r in spark.table(rel).collect()
    )
    assert rows == [
        ("2024-01-01", "a", 1, 10.0),   # untouched
        ("2024-01-02", "b", 2, 25.0),   # restated; NULL-grp day-2 row cleared
        ("2024-01-03", "c", 5, 50.0),   # quoted "it's" partition cleared
    ], "partial-spec/unescaped DROP would leave duplicated/stale rows here"


def test_clone_from_state(project, spark):
    """dbt clone: pointer clones (views) by default, CTAS on full_copy;
    downstream run() refs the clone."""
    import uuid as _uuid

    prod_schema = f"t_{_uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {prod_schema}")
    try:
        spark.range(5).write.saveAsTable(f"{prod_schema}.cl_base")

        @project.model(materialized="table")
        def cl_base(ctx):  # never run — cloned instead
            raise AssertionError("clone must not execute the model")

        @project.model(materialized="table")
        def cl_down(ctx):
            return ctx.ref("cl_base").agg(F.count("*").alias("n"))

        res = {r.node: r for r in project.clone_from(prod_schema, select={"cl_base"})}
        assert res["cl_base"].status == "success"
        rel = project.relation_name(project.manifest["cl_base"])
        assert spark.table(rel).count() == 5
        # pointer semantics: state mutation is visible through the view
        spark.range(2).write.mode("overwrite").saveAsTable(f"{prod_schema}.cl_base")
        assert spark.table(rel).count() == 2

        run_res = {r.node: r for r in project.run(select={"cl_down"})}
        assert run_res["cl_down"].status == "success"
        down_rel = project.relation_name(project.manifest["cl_down"])
        assert spark.table(down_rel).collect()[0]["n"] == 2

        # full_copy: independent of later state mutations
        res = {
            r.node: r
            for r in project.clone_from(
                prod_schema, select={"cl_base"}, full_copy=True
            )
        }
        assert res["cl_base"].status == "success"
        spark.range(9).write.mode("overwrite").saveAsTable(f"{prod_schema}.cl_base")
        assert spark.table(rel).count() == 2  # CTAS copy frozen

        # missing state relation → skipped, not error
        res = {r.node: r for r in project.clone_from(prod_schema, select={"cl_down"})}
        assert res["cl_down"].status == "skipped"
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {prod_schema} CASCADE")


def test_groups_access_retry_show(project, spark):
    """dbt 1.5 groups/access + dbt 1.6 retry + dbt show."""

    @project.model(materialized="table", group="finance", access="private")
    def fin_private(ctx):
        return spark.range(3).withColumnRenamed("id", "v")

    @project.model(materialized="table", group="finance")
    def fin_consumer(ctx):
        return ctx.ref("fin_private")

    @project.model(materialized="table", group="marketing")
    def mkt_intruder(ctx):
        return ctx.ref("fin_private")

    @project.model(materialized="table")
    def downstream_of_intruder(ctx):
        return ctx.ref("mkt_intruder")

    res = {r.node: r for r in project.run()}
    assert res["fin_private"].status == "success"
    assert res["fin_consumer"].status == "success"  # same group: allowed
    assert res["mkt_intruder"].status == "error"
    assert "private" in res["mkt_intruder"].message
    assert res["downstream_of_intruder"].status == "skipped"

    # retry re-runs exactly the error+skipped suffix; intruder still fails
    retried = {r.node: r for r in project.retry(list(res.values()))}
    assert set(retried) == {"mkt_intruder", "downstream_of_intruder"}
    assert retried["mkt_intruder"].status == "error"
    # a no-failure result set retries nothing
    assert project.retry([r for r in res.values() if r.status == "success"]) == []

    # show: built relation preview honors limit; unbuilt model compiles
    assert project.show("fin_private", limit=2).count() == 2

    @project.model(materialized="table")
    def never_built(ctx):
        return spark.range(10)

    assert project.show("never_built", limit=4).count() == 4
    # SQL-string models enforce access too
    project.model("SELECT * FROM {{ ref('fin_private') }}", name="sql_intruder")
    res2 = {r.node: r for r in project.run(select={"sql_intruder"})}
    assert res2["sql_intruder"].status == "error"
    assert "private" in res2["sql_intruder"].message


def test_vars_function_and_sql_models(project, spark):
    """dbt vars: ctx.var() in function models, var('...') substitution
    in SQL-string models, defaults, and the missing-var error."""
    project.vars.update(cutoff=3, label="gold")

    @project.model(materialized="table")
    def var_fn_model(ctx):
        return spark.range(10).filter(F.col("id") < ctx.var("cutoff")).select(
            F.col("id"), F.lit(ctx.var("label")).alias("tier"),
            F.lit(ctx.var("absent", "fallback")).alias("fb"),
        )

    project.model(
        "SELECT COUNT(*) AS n FROM ref('var_fn_model') "
        "WHERE id < var('cutoff') AND 'x' = var('nope', 'x')",
        name="var_sql_model",
        materialized="table",
    )
    res = {r.node: r for r in project.run()}
    assert res["var_fn_model"].status == "success", res["var_fn_model"].message
    assert res["var_sql_model"].status == "success", res["var_sql_model"].message
    rows = spark.table(
        project.relation_name(project.manifest["var_fn_model"])
    ).collect()
    assert len(rows) == 3 and rows[0]["tier"] == "gold" and rows[0]["fb"] == "fallback"
    n = spark.table(
        project.relation_name(project.manifest["var_sql_model"])
    ).first()["n"]
    assert n == 3

    @project.model(materialized="table")
    def var_missing(ctx):
        ctx.var("does_not_exist")

    res = {r.node: r for r in project.run(select={"var_missing"})}
    assert res["var_missing"].status == "error"
    assert "does_not_exist" in res["var_missing"].message


def test_on_run_start_end_hooks(project, spark):
    """dbt_project.yml on-run-start/on-run-end: once per invocation,
    {schema} resolved — the audit-log pattern."""
    project.on_run_start = (
        "CREATE TABLE IF NOT EXISTS {schema}.audit (event STRING)",
        "INSERT INTO {schema}.audit VALUES ('start')",
    )
    project.on_run_end = ("INSERT INTO {schema}.audit VALUES ('end')",)

    @project.model(materialized="table")
    def hooked_model(ctx):
        return spark.range(1)

    assert all(r.status == "success" for r in project.run())
    events = sorted(
        r["event"] for r in spark.table(f"{project.target.schema}.audit").collect()
    )
    assert events == ["end", "start"]


def test_snapshot_invalidate_hard_deletes(project, spark):
    """A key absent from the new snapshot source closes its open row at
    the run timestamp; present keys keep normal SCD2 behavior."""
    wave = {
        "df": spark.createDataFrame(
            [(1, "a", "2024-01-01 00:00:00"), (2, "b", "2024-01-01 00:00:00")],
            "id bigint, val string, updated_at string",
        ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    }

    @project.snapshot(
        unique_key="id", updated_at="updated_at", invalidate_hard_deletes=True
    )
    def snap_hd(ctx):
        return wave["df"]

    assert all(r.status == "success" for r in project.run())
    # wave 2: id=1 updated, id=2 hard-deleted upstream
    wave["df"] = spark.createDataFrame(
        [(1, "a2", "2024-02-01 00:00:00")],
        "id bigint, val string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    assert all(r.status == "success" for r in project.run())

    rel = project.relation_name(project.manifest["snap_hd"])
    rows = spark.table(rel).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["id"], []).append(r)
    # id=1: closed v1 + open v2
    opens_1 = [r for r in by_key[1] if r["dbt_valid_to"] is None]
    assert len(by_key[1]) == 2 and len(opens_1) == 1 and opens_1[0]["val"] == "a2"
    # id=2: single row, closed at the (wall-clock) run time, not open
    assert len(by_key[2]) == 1
    assert by_key[2][0]["dbt_valid_to"] is not None


def test_delete_insert_strategy_and_check_cols_all(project, spark):
    """dbt spelling parity: incremental_strategy='delete+insert' (same
    semantics as the merge rewrite) and snapshot check_cols='all'."""
    state = {
        "batch": spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "id bigint, v double"
        )
    }

    @project.model(
        materialized="incremental",
        incremental_strategy="delete+insert",
        unique_key="id",
    )
    def di_model(ctx):
        return state["batch"]

    assert all(r.status == "success" for r in project.run())
    state["batch"] = spark.createDataFrame(
        [(2, 25.0), (3, 30.0)], "id bigint, v double"
    )
    assert all(r.status == "success" for r in project.run(select={"di_model"}))
    rel = project.relation_name(project.manifest["di_model"])
    got = {r["id"]: r["v"] for r in spark.table(rel).collect()}
    assert got == {1: 10.0, 2: 25.0, 3: 30.0}

    # check_cols="all": any non-key change versionizes
    snap = {
        "df": spark.createDataFrame([(1, "x", "y")], "id bigint, a string, b string")
    }

    @project.snapshot(unique_key="id", strategy="check", check_cols="all")
    def snap_all(ctx):
        return snap["df"]

    assert all(r.status == "success" for r in project.run(select={"snap_all"}))
    snap["df"] = spark.createDataFrame(
        [(1, "x", "CHANGED")], "id bigint, a string, b string"
    )
    assert all(r.status == "success" for r in project.run(select={"snap_all"}))
    rows = spark.table(
        project.relation_name(project.manifest["snap_all"])
    ).collect()
    assert len(rows) == 2  # closed v1 + open v2, because b changed
    assert sum(1 for r in rows if r["dbt_valid_to"] is None) == 1


def test_build_gates_downstream_on_test_failure(project, spark):
    """dbt build: a failing declared test on a model skips its
    dependents; plain run() would have built them."""

    @project.model(
        materialized="table",
        columns={"id": {"tests": ["unique", "not_null"]}},
    )
    def bld_dirty(ctx):
        return spark.sql(
            "SELECT 1 AS id UNION ALL SELECT 1 UNION ALL SELECT 2"
        )

    @project.model(materialized="table")
    def bld_consumer(ctx):
        return ctx.ref("bld_dirty")

    @project.model(
        materialized="table", columns={"id": {"tests": ["unique"]}}
    )
    def bld_clean(ctx):
        return spark.range(3).select(F.col("id"))

    res = {r.node: r for r in project.build()}
    assert res["bld_dirty"].status == "success"  # the model itself built
    assert res["bld_dirty.unique(id)"].status == "test_fail"
    assert res["bld_dirty.unique(id)"].rows == 1  # one duplicated value
    assert res["bld_dirty.not_null(id)"].status == "test_pass"
    assert res["bld_consumer"].status == "skipped"
    assert res["bld_clean.unique(id)"].status == "test_pass"

    # plain run(): no gating, consumer builds
    p2_results = {r.node: r for r in project.run(select={"bld_consumer"})}
    assert p2_results["bld_consumer"].status == "success"


@pytest.mark.parametrize("unit,t1,t2,b1,b2", [
    ("hour", "2024-01-01 10:20:00", "2024-01-01 11:40:00",
     "2024-01-01 10", "2024-01-01 11"),
    ("month", "2024-01-15 00:00:00", "2024-02-10 00:00:00",
     "2024-01", "2024-02"),
])
def test_microbatch_grains(project, spark, unit, t1, t2, b1, b2):
    """hour and month batch grids partition and restate correctly (the
    day grid is covered by test_incremental_microbatch)."""
    src = spark.createDataFrame(
        [(1, t1, 1.0), (2, t2, 2.0)], "id bigint, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    state = {"batch": src}

    @project.model(
        materialized="incremental",
        incremental_strategy="microbatch",
        event_time="ts",
        batch_size=unit,
        lookback=1,
        begin="2024-01-01",
        name=f"mb_{unit}",
    )
    def mb_grain(ctx):
        return state["batch"]

    assert all(r.status == "success" for r in project.run(select={f"mb_{unit}"}))
    rel = project.relation_name(project.manifest[f"mb_{unit}"])
    assert {r[0] for r in spark.table(rel).select("dbt_event_batch").collect()} == {b1, b2}

    # idempotent restatement: same source again → identical table
    before = sorted(map(tuple, spark.table(rel).collect()))
    assert all(r.status == "success" for r in project.run(select={f"mb_{unit}"}))
    assert sorted(map(tuple, spark.table(rel).collect())) == before


def test_ls_selector(project, spark):
    """dbt ls: selector-filtered resource listing, no execution."""

    @project.model(materialized="table", tags=("gold",))
    def ls_a(ctx):
        return spark.range(1)

    @project.model(materialized="table")
    def ls_b(ctx):
        return ctx.ref("ls_a")

    assert {"ls_a", "ls_b"} <= set(project.ls())
    assert project.ls(selector="tag:gold") == ["ls_a"]
    assert project.ls(selector="+ls_b") == ["ls_a", "ls_b"]
    assert project.ls(selector="+ls_b", exclude="tag:gold") == ["ls_b"]
    # nothing was built by listing
    assert not spark.catalog.tableExists(
        project.relation_name(project.manifest["ls_a"])
    )


def test_retry_after_build_regates_tests(project, spark):
    """retry of a build() result must re-run the test-failed node WITH
    gating — never silently rebuild its skipped consumers."""
    state = {"fix": False}

    @project.model(
        materialized="table", columns={"id": {"tests": ["unique"]}}
    )
    def rb_src(ctx):
        if state["fix"]:
            return spark.sql("SELECT 1 AS id UNION ALL SELECT 2")
        return spark.sql("SELECT 1 AS id UNION ALL SELECT 1")

    @project.model(materialized="table")
    def rb_down(ctx):
        return ctx.ref("rb_src")

    res = list(project.build())
    by = {r.node: r for r in res}
    assert by["rb_src.unique(id)"].status == "test_fail"
    assert by["rb_down"].status == "skipped"

    # retry WITHOUT fixing: source rebuilds, test fails again, consumer
    # stays skipped — bad data never promotes
    retried = {r.node: r for r in project.retry(res)}
    assert retried["rb_src.unique(id)"].status == "test_fail"
    assert retried["rb_down"].status == "skipped"

    # fix upstream, retry again: everything completes
    state["fix"] = True
    retried2 = {r.node: r for r in project.retry(list(retried.values()))}
    assert retried2["rb_src.unique(id)"].status == "test_pass"
    assert retried2["rb_down"].status == "success"
    assert spark.table(
        project.relation_name(project.manifest["rb_down"])
    ).count() == 2


def test_source_level_tests(project, spark):
    """dbt tests on sources: 'source:<name>.<table>' keys resolve
    through the registry, no model required."""
    from dbt_foundation_spark.testing import not_null, relationships, run_tests, unique

    res = run_tests(
        project,
        tests={
            "source:raw.nation": {
                "pk": [unique("n_nationkey"), not_null("n_nationkey")],
                "fk_region": [
                    relationships(
                        "n_regionkey",
                        project.sources.load(spark, "raw", "region"),
                        "r_regionkey",
                    )
                ],
            },
        },
    )
    assert {(r.test, r.status) for r in res} == {
        ("pk", "pass"),
        ("fk_region", "pass"),
    }
    # a failing source test reports, not raises
    bad = run_tests(
        project,
        tests={"source:raw.orders": {"bad_unique": [unique("o_orderstatus")]}},
    )
    assert bad[0].status == "fail" and bad[0].failures > 0


def test_export_shards_files_per_shard(spark, tmp_path):
    from pathlib import Path

    from dbt_foundation_spark.operators.packing import export_shards

    df = spark.createDataFrame(
        [(i, i % 2) for i in range(100)], "id bigint, shard int"
    )
    out = str(tmp_path / "multi")
    export_shards(df, out, shard_col="shard", fmt="parquet", files_per_shard=3)
    for d in ("shard=0", "shard=1"):
        files = list((Path(out) / d).glob("part-*"))
        # the knob must actually split shards into multiple files
        # (r4 ADVICE: a shard-constant salt silently produced 1 file)
        assert 2 <= len(files) <= 3
    assert spark.read.parquet(out).count() == 100


def test_lint_scale_gate(project, spark):
    """lint(scale=True) runs the physical-plan scale guard over every
    model at planning time: a row-at-a-time Python UDF is reported
    against its model name, clean models stay silent, and nothing
    executes (the guard only explains)."""
    @project.model()
    def fine_model(ctx):
        return (
            spark.range(10)
            .groupBy((F.col("id") % 2).alias("k"))
            .count()
        )

    plus_one = F.udf(lambda x: x + 1, "bigint")

    @project.model()
    def udf_model(ctx):
        return spark.range(5).select(plus_one("id").alias("y"))

    @project.model()
    def bounded_window_model(ctx):
        # 8-row bounded input by construction — the shape scale_allow
        # exists for (the plan text cannot carry the cardinality)
        from pyspark.sql import Window

        return (
            spark.range(8)
            .withColumn("r", F.row_number().over(Window.orderBy("id")))
        )

    problems = lint(project, scale=True)
    assert any("udf_model" in p and "BatchEvalPython" in p for p in problems)
    assert any(
        "bounded_window_model" in p and "SinglePartition" in p for p in problems
    )
    assert not any("fine_model" in p for p in problems)
    # per-model suppression for the justified bounded shape
    allowed = lint(
        project,
        scale=True,
        scale_allow={"bounded_window_model": ("Exchange SinglePartition",)},
    )
    assert not any("bounded_window_model" in p for p in allowed)
    assert any("udf_model" in p for p in allowed)  # others still flagged
    # default lint stays plan-compile-only — no scale findings
    assert not any("BatchEvalPython" in p for p in lint(project))


def test_snapshot_timestamp_ignores_out_of_order_arrivals(project, spark):
    """dbt's timestamp strategy considers a row changed ONLY when its
    updated_at STRICTLY advances past the open version's.  A late
    replay carrying an OLDER updated_at (and an equal-timestamp row
    with drifted payload) must be a no-op — the scd_id-difference test
    used before r9 closed the open row at the older timestamp, creating
    a NEGATIVE validity interval and rolling the key backwards."""
    spark.createDataFrame(
        [(1, "alice", "2024-02-01 00:00:00")],
        "id int, name string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp")).createOrReplaceTempView(
        "snap_ooo_src"
    )

    @project.snapshot(unique_key="id", strategy="timestamp", updated_at="updated_at")
    def dim_ooo(ctx):
        return spark.table("snap_ooo_src")

    project.run()
    rel = project.relation_name(project.manifest["dim_ooo"])

    # late replay: OLDER updated_at + different payload -> no-op
    spark.createDataFrame(
        [(1, "alice_v0", "2024-01-01 00:00:00")],
        "id int, name string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp")).createOrReplaceTempView(
        "snap_ooo_src"
    )
    _reattach(project).run()
    snap = spark.table(rel).collect()
    assert len(snap) == 1 and snap[0].name == "alice" and snap[0].dbt_valid_to is None

    # equal updated_at, drifted payload -> ALSO a no-op (dbt trusts
    # updated_at under this strategy)
    spark.createDataFrame(
        [(1, "alice_drift", "2024-02-01 00:00:00")],
        "id int, name string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp")).createOrReplaceTempView(
        "snap_ooo_src"
    )
    _reattach(project).run()
    snap = spark.table(rel).collect()
    assert len(snap) == 1 and snap[0].name == "alice" and snap[0].dbt_valid_to is None

    # a genuinely advanced updated_at still versions normally
    spark.createDataFrame(
        [(1, "alicia", "2024-03-01 00:00:00")],
        "id int, name string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp")).createOrReplaceTempView(
        "snap_ooo_src"
    )
    _reattach(project).run()
    snap = spark.table(rel)
    assert snap.count() == 2
    open_row = snap.filter(F.col("dbt_valid_to").isNull()).first()
    assert open_row.name == "alicia"
    closed = snap.filter(F.col("dbt_valid_to").isNotNull()).first()
    assert closed.name == "alice" and closed.dbt_valid_to >= closed.dbt_valid_from


def test_snapshot_duplicate_keys_in_one_batch(project, spark):
    """Duplicate-key contract (r10): two DISTINCT rows for one key in a
    SINGLE snapshot batch keep exactly ONE open version, chosen
    deterministically — greatest updated_at first, then greatest
    full-row md5(to_json(...)) for equal-ts payload drift (dbt_scd_id
    hashes only key+updated_at under the timestamp strategy, so it
    cannot split that case). Warehouse MERGE raises here; this engine
    picks a stable keeper instead and documents the divergence."""
    rows = [
        # key 1: same key twice, different updated_at -> later wins
        (1, "v_old", "2024-01-01 00:00:00"),
        (1, "v_new", "2024-02-01 00:00:00"),
        # key 2: same key, SAME updated_at, drifted payload -> md5-max wins
        (2, "drift_a", "2024-01-15 00:00:00"),
        (2, "drift_b", "2024-01-15 00:00:00"),
    ]
    src = spark.createDataFrame(
        rows, "id int, name string, updated_at string"
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    src.createOrReplaceTempView("snap_dup_src")

    @project.snapshot(unique_key="id", strategy="timestamp", updated_at="updated_at")
    def dim_dup(ctx):
        return spark.table("snap_dup_src")

    project.run()
    rel = project.relation_name(project.manifest["dim_dup"])
    snap = spark.table(rel)
    # the invariant the contract protects: one open row per key
    per_key = {
        r["id"]: r["n"]
        for r in snap.filter(F.col("dbt_valid_to").isNull())
        .groupBy("id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_key == {1: 1, 2: 1}
    assert snap.count() == 2  # no closed rows fabricated on first run

    kept = {r["id"]: r["name"] for r in snap.collect()}
    assert kept[1] == "v_new"  # greatest updated_at

    # key 2's keeper must equal the md5-max row, computed independently
    expected = (
        src.filter(F.col("id") == 2)
        .withColumn("_h", F.md5(F.to_json(F.struct("id", "name", "updated_at"))))
        .orderBy(F.col("_h").desc())
        .first()["name"]
    )
    assert kept[2] == expected

    # replaying the identical duplicate batch is a no-op (stable keeper:
    # the kept row's updated_at has not advanced)
    _reattach(project).run()
    snap2 = {r["id"]: r["name"] for r in spark.table(rel).collect()}
    assert snap2 == kept and spark.table(rel).count() == 2


def test_snapshot_empty_source_delta(project, spark):
    """0-row snapshot delta (r10 degenerate probe): without
    invalidate_hard_deletes an empty source is a NO-OP (nothing
    changed, nothing closed); with it, every open key is absent from
    the source and therefore closed at the run timestamp — dbt's
    hard-delete semantics, empty source = everything deleted."""
    spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (2, "b", "2024-01-01 00:00:00")],
        "id int, name string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp")).createOrReplaceTempView(
        "snap_empty_src"
    )
    empty = spark.createDataFrame(
        [], "id int, name string, updated_at timestamp"
    )

    @project.snapshot(unique_key="id", strategy="timestamp", updated_at="updated_at")
    def dim_noop(ctx):
        return spark.table("snap_empty_src")

    @project.snapshot(
        unique_key="id", strategy="timestamp", updated_at="updated_at",
        invalidate_hard_deletes=True,
    )
    def dim_harddel(ctx):
        return spark.table("snap_empty_src")

    project.run()
    rel_noop = project.relation_name(project.manifest["dim_noop"])
    rel_hd = project.relation_name(project.manifest["dim_harddel"])

    empty.createOrReplaceTempView("snap_empty_src")
    _reattach(project).run()

    noop = spark.table(rel_noop)
    assert noop.count() == 2
    assert noop.filter(F.col("dbt_valid_to").isNull()).count() == 2

    hd = spark.table(rel_hd)
    assert hd.count() == 2
    assert hd.filter(F.col("dbt_valid_to").isNull()).count() == 0
    assert hd.filter(F.col("dbt_valid_to").isNotNull()).count() == 2


def test_incremental_empty_delta_is_noop(project, spark):
    """0-row incremental delta (r10 degenerate probe): merge and append
    both leave the table byte-identical — no rows lost, none added, no
    crash in the anti-join/union rewrite."""
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, v string"
    ).createOrReplaceTempView("inc_empty_src")

    @project.model(
        materialized="incremental", incremental_strategy="merge", unique_key="id"
    )
    def inc_m(ctx):
        return spark.table("inc_empty_src")

    @project.model(materialized="incremental", incremental_strategy="append")
    def inc_a(ctx):
        return spark.table("inc_empty_src")

    project.run()
    rel_m = project.relation_name(project.manifest["inc_m"])
    rel_a = project.relation_name(project.manifest["inc_a"])

    spark.createDataFrame([], "id int, v string").createOrReplaceTempView(
        "inc_empty_src"
    )
    _reattach(project).run()
    assert {(r.id, r.v) for r in spark.table(rel_m).collect()} == {(1, "a"), (2, "b")}
    assert {(r.id, r.v) for r in spark.table(rel_a).collect()} == {(1, "a"), (2, "b")}


def test_null_unique_key_rows_excluded_from_merge_and_snapshot(project, spark):
    """NULL unique_key through merge and SCD2 (r11 probe): NULL never
    equals NULL, so SQL MERGE semantics re-INSERTED a corrupt NULL-key
    row on EVERY run (unbounded growth that looked 'successful'), and
    each snapshot run opened ANOTHER version for the same unknown
    entity — three runs, three concurrent open rows. Family rule: no
    stable identity, no key-tracked fate — NULL-key rows are excluded
    from both, reruns are idempotent, clean keys unaffected."""
    state = {}

    def mk(rows):
        return spark.createDataFrame(
            rows, "id int, v string, updated_at string"
        ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))

    def build(p):
        @p.model(
            name="nk_merge", materialized="incremental",
            incremental_strategy="merge", unique_key="id",
        )
        def nk_merge(ctx):
            return state["b"]

        @p.snapshot(
            name="nk_snap", unique_key="id", strategy="timestamp",
            updated_at="updated_at",
        )
        def nk_snap(ctx):
            return state["b"]

        return p

    state["b"] = mk([(1, "a", "2024-01-01 00:00:00"),
                     (None, "x", "2024-01-01 00:00:00")])
    p = build(_reattach(project))
    assert all(r.status == "success" for r in p.run())
    mrel = p.relation_name(p.manifest["nk_merge"])
    srel = p.relation_name(p.manifest["nk_snap"])

    # two more runs with the same corrupt row: no accumulation, clean
    # key updates apply
    for v, ts in (("a2", "2024-01-02 00:00:00"), ("a3", "2024-01-03 00:00:00")):
        state["b"] = mk([(1, v, ts), (None, "x", "2024-01-01 00:00:00")])
        p2 = build(_reattach(project))
        assert all(r.status == "success" for r in p2.run())

    assert {(r.id, r.v) for r in spark.table(mrel).collect()} == {(1, "a3")}
    snap = spark.table(srel).collect()
    assert all(r.id is not None for r in snap)
    open_rows = [r for r in snap if r.dbt_valid_to is None]
    assert [(r.id, r.v) for r in open_rows] == [(1, "a3")]  # one open row
    assert len(snap) == 3  # a -> a2 -> a3 history, nothing else


def test_null_key_and_event_time_exclusions_are_accounted(
    project, spark, caplog
):
    """The NULL-key / NULL-event-time exclusions are LOUD (r12, from
    the r11 advice): each run that drops contract-violating rows logs a
    warning with the excluded count — a model shrinking after an
    upstream bug must leave a signal (the no-silent-caps rule the dedup
    operators honor with quarantine metrics). Clean runs log nothing."""
    import logging as _logging

    state = {}

    def build(p, rows):
        state["b"] = spark.createDataFrame(
            rows, "id int, v string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

        @p.model(
            name="loud_merge", materialized="incremental",
            incremental_strategy="merge", unique_key="id",
        )
        def loud_merge(ctx):
            return state["b"]

        @p.model(
            name="loud_micro", materialized="incremental",
            incremental_strategy="microbatch", event_time="ts",
            batch_size="day",
        )
        def loud_micro(ctx):
            return state["b"]

        return p

    dirty = [(1, "a", "2024-01-01 00:00:00"), (None, "x", None),
             (None, "y", None)]
    p = build(_reattach(project), dirty)
    with caplog.at_level(_logging.WARNING, logger="dbt_foundation_spark"):
        assert all(r.status == "success" for r in p.run())
    merge_warns = [r for r in caplog.records
                   if "loud_merge" in r.getMessage()
                   and "NULL unique-key" in r.getMessage()]
    micro_warns = [r for r in caplog.records
                   if "loud_micro" in r.getMessage()
                   and "event-time" in r.getMessage()]
    assert len(merge_warns) == 1 and "2" in merge_warns[0].getMessage()
    assert len(micro_warns) == 1 and "2" in micro_warns[0].getMessage()

    # clean rerun: rows all keyed/timed — no exclusion warning at all
    caplog.clear()
    p2 = build(_reattach(project, models=("loud_merge", "loud_micro")),
               [(2, "b", "2024-01-02 00:00:00")])
    with caplog.at_level(_logging.WARNING, logger="dbt_foundation_spark"):
        assert all(r.status == "success" for r in p2.run())
    assert not [r for r in caplog.records
                if "excluded" in r.getMessage()]


def test_count_excluded_rows_opt_out_skips_count_not_filter(
    project, spark, caplog
):
    """``count_excluded_rows=False`` (r12 advice, the accounting knob):
    a hot incremental model whose upstream plan is an expensive
    join/agg can opt out of the exclusion COUNT — the extra pass
    _drop_rows_loudly pays to re-execute the model plan — without
    losing the contract FILTER itself. Contract: NULL-key rows are
    still excluded from the output; no "excluded N rows" warning is
    emitted (counting is off, not zero); an INFO line records that the
    node runs unaccounted so the log never reads as clean-by-evidence."""
    import logging as _logging

    state = {}

    def build(p, rows):
        state["b"] = spark.createDataFrame(rows, "id int, v string")

        @p.model(
            name="quiet_merge", materialized="incremental",
            incremental_strategy="merge", unique_key="id",
            count_excluded_rows=False,
        )
        def quiet_merge(ctx):
            return state["b"]

        return p

    p = build(_reattach(project), [(1, "a"), (None, "x"), (None, "y")])
    with caplog.at_level(_logging.INFO, logger="dbt_foundation_spark"):
        assert all(r.status == "success" for r in p.run())
    # the filter still applies — no NULL-key row reached the table
    out = spark.table(
        p.relation_name(p.manifest["quiet_merge"])
    ).collect()
    assert [r["id"] for r in out] == [1]
    # no count warning, but the opt-out itself is on the record
    assert not [r for r in caplog.records
                if "excluded" in r.getMessage()
                and r.levelno >= _logging.WARNING]
    assert [r for r in caplog.records
            if "count_excluded_rows=false" in r.getMessage()]
