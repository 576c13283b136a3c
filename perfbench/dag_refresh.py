"""``dag_refresh``: land one source delta, then ``dbt build`` the project.

The reference's own surface: a 10-model project (17 nodes with its
declared tests) over TPC-H-shaped and events sources — staging views,
SQL-string marts in TPC-H query shapes, an incremental-merge dimension,
a microbatch events fact with lookback, an SCD2 snapshot, a
contract-enforced mart and declared tests. Each op
parses a fresh ``Project`` (a scheduled ``dbt build`` is a new process)
and builds it; incremental models write while views and tables re-read.
Every mart is checked against DuckDB over the same source files.
"""

from __future__ import annotations

import os
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_foundation_spark.project import Project, Target
from dbt_foundation_spark.sources.registry import Source, SourceRegistry

from inputs import dag_inputs
from spans import median_or_zero

# share of sf0.1 the sources are generated at. On 4 cores a full-sf0.1
# run takes ~80 s (op 8.2 s, initial build 17 s) against ~50 s here; op
# time is mostly per-Spark-job overhead, so the smaller sources keep the
# op's shape and cut the run to fit a minute
SCALE = 0.25

# mart -> (oracle SQL over the DuckDB source views, sort keys)
ORACLE = {
    "fct_pricing_summary": ("""
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base_price,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-06-01'
        GROUP BY l_returnflag, l_linestatus""", ["l_returnflag", "l_linestatus"]),
    "dim_customer": ("SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM cust_latest",
                     ["c_custkey"]),
    "fct_revenue_by_nation": ("""
        SELECT r_name, n_name, SUM(revenue) AS revenue, COUNT(*) AS n_orders
        FROM orders JOIN (SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue
                          FROM lineitem GROUP BY 1) ON l_orderkey = o_orderkey
        JOIN cust_latest ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n_regionkey
        GROUP BY r_name, n_name""", ["r_name", "n_name"]),
    "fct_events": ("""
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM events""",
                   ["event_id"]),
    "snap_customer": ("""
        SELECT c_custkey, c_acctbal, epoch_us(updated_at) AS valid_from_us,
               epoch_us(LEAD(updated_at) OVER (PARTITION BY c_custkey ORDER BY updated_at))
                   AS valid_to_us
        FROM customer""", ["c_custkey", "valid_from_us"]),
}

# what the warehouse copy of a mart needs before it compares to ORACLE
WAREHOUSE_SQL = {
    "fct_events": "SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM t",
    "snap_customer": """SELECT c_custkey, c_acctbal, epoch_us(dbt_valid_from) AS valid_from_us,
                               epoch_us(dbt_valid_to) AS valid_to_us FROM t""",
    "dim_customer": "SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM t",
}


def define(project: Project) -> dict[str, str]:
    """Register the models (the project's model files); returns each
    node's materialization kind, the key of its materialize.* metric."""
    strategy: dict[str, str] = {}

    def model(kind, **kw):
        def reg(fn):
            strategy[fn.__name__] = kind
            return project.model(fn, **kw)
        return reg

    # ---- staging: 1:1 views over the landed sources
    @model("view", columns={"c_custkey": {"tests": ["unique"]}})
    def stg_customer(ctx):
        w = Window.partitionBy("c_custkey").orderBy(F.col("updated_at").desc())
        return (ctx.source("raw", "customer").withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1").drop("_rn"))

    @model("view", columns={"o_orderkey": {"tests": ["unique", "not_null"]}})
    def stg_orders(ctx):
        return ctx.source("raw", "orders")

    @model("view")
    def stg_lineitem(ctx):
        return ctx.source("raw", "lineitem")

    @model("view")
    def stg_nation(ctx):
        nation, region = ctx.source("raw", "nation"), ctx.source("raw", "region")
        return nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name", "r_name")

    @model("view")
    def stg_events(ctx):
        return ctx.source("raw", "events")

    # ---- incremental-merge dimension, SCD2 snapshot, microbatch fact
    @model("incremental", materialized="incremental", incremental_strategy="merge",
           unique_key="c_custkey",
           columns={"c_custkey": {"tests": ["unique", "not_null"]}})
    def dim_customer(ctx):
        cust = ctx.ref("stg_customer").select(
            "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment", "updated_at")
        if ctx.is_incremental():
            hwm = ctx.this().agg(F.max("updated_at")).first()[0]
            cust = cust.filter(F.col("updated_at") > F.lit(hwm))
        return cust

    strategy["snap_customer"] = "snapshot"

    @project.snapshot(unique_key="c_custkey", strategy="timestamp", updated_at="updated_at")
    def snap_customer(ctx):
        return ctx.ref("stg_customer")

    @model("microbatch", materialized="incremental", incremental_strategy="microbatch",
           event_time="ts", batch_size="day", lookback=1, begin="2024-01-01")
    def fct_events(ctx):
        return ctx.ref("stg_events")

    # ---- SQL-string marts in TPC-H query shapes
    def sql(name, text, mat="table", **kw):
        strategy[name] = mat
        project.model(text, name=name, materialized=mat, **kw)

    sql("fct_pricing_summary", """
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base_price,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
        FROM ref('stg_lineitem') WHERE l_shipdate <= TIMESTAMP_NTZ '2024-06-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
        contract={"enforced": True},
        columns={
            "l_returnflag": {"data_type": "string", "constraints": ["not_null"]},
            "l_linestatus": {"data_type": "string", "constraints": ["not_null"]},
            "sum_qty": {"data_type": "double"},
            "sum_base_price": {"data_type": "double"},
            "sum_disc_price": {"data_type": "double"},
            "avg_disc": {"data_type": "double", "constraints": [
                {"type": "check", "expression": "avg_disc BETWEEN 0 AND 1"}]},
            "count_order": {"data_type": "bigint"},
        })
    sql("fct_revenue_by_nation", """
        SELECT r_name, n_name, SUM(revenue) AS revenue, COUNT(*) AS n_orders
        FROM ref('stg_orders')
        JOIN (SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue
              FROM ref('stg_lineitem') GROUP BY l_orderkey) ON l_orderkey = o_orderkey
        JOIN ref('dim_customer') ON c_custkey = o_custkey
        JOIN ref('stg_nation') ON n_nationkey = c_nationkey
        GROUP BY r_name, n_name""",
        columns={"n_name": {"tests": ["unique", "not_null"]}})
    return strategy


def _frame_equal(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """None when equal: same rows by key, numbers to 1e-9 relative."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    got = got[list(want.columns)].sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(b) or pd.api.types.is_float_dtype(a):
            ok = np.isclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-6, equal_nan=True)
        else:
            ok = (a.astype(str) == b.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return f"column {c} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


class DagRefresh:
    name = "dag_refresh"
    cycle = 1

    def __init__(self, seed: int, work: Path, n_ops: int, cpus: int, tracer):
        self.seed, self.work, self.n_ops, self.cpus, self.tr = seed, work, n_ops, cpus, tracer
        self.layer: dict[str, list[float]] = {}

    def upkeep(self, i: int) -> bool:
        return False

    def job_groups(self):
        """Job group the project's DAG threads tag their jobs with."""
        return [self.project.invocation_id]

    def input_job(self):
        return dag_inputs, (self.seed, self.work / "inputs", self.n_ops, SCALE)

    def load(self, inp) -> dict:
        self.inp = inp
        return inp.props

    def _project(self) -> Project:
        reg = SourceRegistry()
        for t, d in self.inp.sources.items():
            reg.add(Source("raw", t, path=str(d)))
        project = Project("perfbench_dag", self.spark, sources=reg,
                          target=Target(name="bench", schema=self.schema, threads=self.cpus))
        self.strategy = define(project)
        return project

    def _build(self) -> None:
        self.project = self._project()
        with self.tr.span("project.build"):
            self.results = self.project.build()
        bad = [r for r in self.results if r.status not in ("success", "test_pass")]
        if bad:
            raise RuntimeError("; ".join(f"{r.node}: {r.status} {r.message[:200]}" for r in bad))

    def setup(self, spark) -> None:
        self.spark = spark
        self.schema = "perfbench"
        self._build()

    def op(self, i: int) -> int:
        for t, f in self.inp.deltas[i].items():
            os.rename(f, self.inp.sources[t] / f.name)
        self._build()
        return self.inp.delta_rows[i]

    def _tables(self) -> Path:
        """The warehouse directory of the current schema's tables."""
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return Path(wh) / f"{self.schema}.db"

    # ---------------------------------------------------------- checks

    def check(self, i: int) -> list[str]:
        """Every mart equals DuckDB's answer over the same sources."""
        con = duckdb.connect()
        try:
            for t, d in self.inp.sources.items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/*.parquet')")
            con.execute("""CREATE VIEW cust_latest AS SELECT * FROM customer
                           QUALIFY row_number() OVER (PARTITION BY c_custkey
                                                      ORDER BY updated_at DESC) = 1""")
            errors = []
            for mart, (sql, keys) in ORACLE.items():
                files = self._tables() / mart
                con.execute(
                    f"CREATE OR REPLACE VIEW t AS SELECT * FROM read_parquet("
                    f"'{files}/**/*.parquet', hive_partitioning = true)")
                got = con.execute(WAREHOUSE_SQL.get(mart, "SELECT * FROM t")).df()
                want = con.execute(sql).df()
                err = _frame_equal(got, want, keys)
                if err:
                    errors.append(f"{mart}: {err}")
            return errors
        finally:
            con.close()

    # ---------------------------------------------------------- layers

    def record_layers(self, i: int) -> None:
        """Roll the last build's RunResults into per-layer samples."""
        res = [r for r in self.results if r.status == "success"]
        tests = [r for r in self.results if r.status.startswith("test_")]
        secs = {r.node: r.seconds for r in res}
        gens = self.project.manifest.topo_generations(set(secs))
        gen_max = sum(max(secs[n.name] for n in g) for g in gens)
        path: dict[str, float] = {}
        for g in gens:  # longest dependency path, weighted by node seconds
            for n in g:
                deps = [path[d] for d in n.depends_on if d in path]
                path[n.name] = secs[n.name] + max(deps, default=0.0)
        build = self.tr.duration("project.build", i)
        node_sum = sum(secs.values())
        test_s = sum(r.seconds for r in tests)
        sample = {
            "project.build_wall_s": build,
            "project.node_s_sum": node_sum,
            "project.concurrency": node_sum / build,
            "project.barrier_wait_s": gen_max - max(path.values()),
            "project.overhead_s": build - gen_max - test_s,
            "testing.tests_run": float(len(tests)),
            "testing.test_s": test_s,
        }
        for kind in ("view", "table", "incremental", "microbatch", "snapshot"):
            sample[f"materialize.{kind}_s"] = sum(
                s for n, s in secs.items() if self.strategy.get(n) == kind)
        files = nbytes = tables = 0
        for tdir in self._tables().iterdir():
            tables += 1
            for f in tdir.rglob("*.parquet"):
                files += 1
                nbytes += f.stat().st_size
        user = sum(f.stat().st_size for d in self.inp.sources.values() for f in d.iterdir())
        sample["materialize.files_per_table"] = files / max(tables, 1)
        sample["materialize.bytes_per_user_byte"] = nbytes / user
        for k, v in sample.items():
            self.layer.setdefault(k, []).append(v)

    def layer_metrics(self) -> dict[str, float]:
        return {k: median_or_zero(v) for k, v in self.layer.items()}
