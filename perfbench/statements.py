"""The benchmark's two workloads: what one statement is, and how its
output is checked.

``sqlgen`` compiles without executing: the rendered Spark SQL of an IR
plan goes through ``parse_sql`` -> ``Plan.to_sql`` -> ``Plan.to_df`` ->
``queryExecution().executedPlan()``. ``execute`` builds and runs a fixed
mix of catalog entries through a ``noop`` write: IR plans (scan, join,
shuffle), operator rows whose build does eager Spark work, and a bounded
streaming replay.

Each statement reports its layers through a tracer (``tracing.py``); the
untraced run passes ``tracing.NO_TRACE``, whose hooks do nothing.
"""

from __future__ import annotations

from datafusion_sqlgen_spark import TABLES, parse_sql
from datafusion_sqlgen_spark import workloads as catalog

# Fails after re-parse with UNRESOLVED_COLUMN on the lambda field `_el.v`.
# Every statement of a workload must succeed, so it stays out of the draw
# until the parser keeps the lambda's struct field.
SQLGEN_EXCLUDED = ("parsed_array_agg_ordered",)

# The `execute` mix. The entry set is fixed so that every seed does the
# same work; the seed only orders it. Costs are single statements at
# sf0.1 on local[4] after warm-up. Eight plans take 0.23-0.29 s, so the
# median statement falls inside that band whatever the order and the
# JIT's progress; the heavier entries carry most of the pass time.
EXECUTE_IR = (
    "ref_scan_filter",       # 0.07 s
    "setop_union_all",       # 0.09 s
    "subq_exists",           # 0.23 s
    "join_semi",             # 0.25 s
    "expr_higher_order",     # 0.26 s
    "lat_explode_words",     # 0.26 s
    "unpivot_measures",      # 0.26 s
    "setop_intersect",       # 0.27 s
    "tpch_q6",               # 0.28 s
    "join_left",             # 0.29 s
    "win_running_sum",       # 0.53 s
    "tpch_q3",               # 0.84 s
)
EXECUTE_OPERATORS = (
    "sink_partitioned_roundtrip",  # 0.83 s, writes files beside the reads
    "sample_mixture_waterfill",    # 0.92 s, eager localCheckpoint
)
EXECUTE_STREAMING = (
    "streaming_sliding_result",    # 2.80 s, stateful windows over 4 triggers
)

class SqlgenWorkload:
    """Compile-only statements over every plannable IR plan."""

    name = "sqlgen"
    # compiling reads file statistics only; nothing is cached
    cached_tables: tuple[str, ...] = ()

    def __init__(self, spark, sf_dir: str):
        self.spark = spark
        plans = catalog._ir_workloads()
        self.sql = {
            name: plan.to_sql("spark")
            for name, plan in plans.items()
            if name not in SQLGEN_EXCLUDED
        }
        self.rendered: dict[str, str] = {}

    def entries(self) -> list[str]:
        return sorted(self.sql)

    def run(self, name: str, trace) -> None:
        with trace.span("parser.parse_s"):
            plan = parse_sql(self.sql[name])
        with trace.span("plans.render_s"):
            rendered = plan.to_sql("spark")
        with trace.span("plans.to_df_s"):
            df = plan.to_df(self.spark)
        with trace.span("catalyst.plan_s"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        trace.phases(qe)
        self.rendered[name] = rendered

    def check(self) -> list[str]:
        """Names whose render -> parse -> render is not a fixpoint, or
        that never reached a physical plan."""
        bad = []
        for name in self.entries():
            rendered = self.rendered.get(name)
            if rendered is None or parse_sql(rendered).to_sql("spark") != rendered:
                bad.append(name)
        return bad


class ExecuteWorkload:
    """Built and executed statements over the fixed mix above."""

    name = "execute"
    # the star schema, cached as bench.py caches it
    cached_tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

    def __init__(self, spark, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir
        self.queries = catalog.build_queries()
        self.oracles = catalog.build_oracles()
        self.outputs: dict = {}
        names = self.entries()
        missing = [n for n in names if n not in self.queries or n not in self.oracles]
        if missing:
            raise SystemExit(f"execute entries without a query or oracle: {missing}")

    def entries(self) -> list[str]:
        return sorted(EXECUTE_IR + EXECUTE_OPERATORS + EXECUTE_STREAMING)

    def run(self, name: str, trace) -> None:
        if name in EXECUTE_STREAMING:
            build = "streaming.replay_s"
        elif name in EXECUTE_IR:
            build = "plans.to_df_s"
        else:
            build = "operators.build_s"
        with trace.span(build, group="build"):
            df = self.queries[name](self.spark, self.sf_dir)
        trace.plan(df)
        with trace.span("exec.action_s", group="action"):
            if name in self.outputs:
                df.write.format("noop").mode("overwrite").save()
            else:
                # An entry's first run, in the first warm-up pass, collects
                # its output for the check instead of writing it to noop:
                # a separate collect pass would add a tenth to a run.
                self.outputs[name] = df.toPandas()

    def check(self) -> list[str]:
        """Names whose output, collected on their first run, differs from
        the DuckDB oracle."""
        import duckdb

        from perfbench.oracle import compare

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            bad = []
            for name in self.entries():
                want = con.execute(self.oracles[name]).df()
                if name not in self.outputs or compare(self.outputs[name], want) is not None:
                    bad.append(name)
            return bad
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (SqlgenWorkload, ExecuteWorkload)}
