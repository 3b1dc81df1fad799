"""The benchmark's workloads: which operations a pass runs, in which
order, and how their outputs are checked.

Query names are listed here, not imported from ``bench.py``, whose
lists change from round to round.  See README.md for why each
workload exists.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Optional

from core import Op, pass_order

#: The star-schema input tables: the project's seed-42 fixtures at
#: scale factor 0.01 (60,000 ``lineitem`` rows), kept beside the
#: benchmark so a run reads nothing outside its checkout.
STAR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "star_sf0.01")

#: The nine paper pipelines over the 2,000-session e-commerce fixture,
#: its SQL-API twin, and fifteen light star-schema queries.
DASHBOARD = [
    "ecom_revenue_by_state", "ecom_top_products", "ecom_clv",
    "ecom_product_daily_metrics", "ecom_monthly_sales",
    "ecom_products_enriched", "ecom_dwell_times", "ecom_page_transitions",
    "ecom_inventory_levels", "sql1_revenue_by_state_sqlapi",
    "a1_pricing_summary", "j1_revenue_by_nation", "o1_top_orders_by_revenue",
    "j2_customer_order_stats", "a12_event_daily_metrics",
    "w5_customer_running_spend", "w7_sessionize_events",
    "j7_regional_supplier_volume", "d1_exact_dedup", "t5_corpus_stats",
    "aj1_asof_purchase_view", "o2g_topk_per_group", "ij1_view_purchase_pairs",
    "t9_sequence_packing", "fn1_session_funnel",
]

#: The seven ``pipelines.ecommerce`` functions; on ``dashboard`` each is
#: also the body of the ``ecom_<name>`` registry query.
PIPELINES = ["revenue_by_state", "top_products", "clv", "product_daily_metrics",
             "monthly_sales", "inventory_levels", "products_enriched"]

STREAMS = {"sm1": "sm1_stream_daily_metrics"}

#: ``datagen.gen_all`` dimensions for one ``ingest`` pass.
INGEST_SIZES = dict(n_users=10_000, n_products=5_000, n_categories=25,
                    n_sessions=10_000)
ECOM_TABLES = ("categories", "products", "users", "sessions", "transactions")


@dataclass
class Context:
    """What an operation needs: the session, the inputs, the tracer."""
    spark: object
    sf_dir: str
    work_dir: str
    seed: int
    registry: dict
    tracer: Optional[object] = None


def execute(ctx: Context, name: str, build):
    """Build a DataFrame and run it into the ``noop`` sink.

    Traced, the build, planning and execution are separate spans with
    separate job groups; untraced, this is one call chain with no
    extra planning.
    """
    tr = ctx.tracer
    if tr:
        tr.phase(name, "build")
    df = build()
    if tr:
        tr.phase(name, "plan")
        df._jdf.queryExecution().executedPlan()
        tr.phase(name, "exec")
    df.write.format("noop").mode("overwrite").save()
    if tr:
        tr.end_op()
    return df


def registry_op(ctx: Context, op_name: str, query_name: str,
                keep: Optional[dict] = None) -> Op:
    """Run a registry query; ``keep``, if given, maps ``op_name`` to
    the DataFrame of its latest run."""
    fn = ctx.registry[query_name].spark_fn

    def run():
        df = execute(ctx, op_name, lambda: fn(ctx.spark, ctx.sf_dir))
        if keep is not None:
            keep[op_name] = df
    return Op(op_name, run)


class Dashboard:
    """25 sub-second registry queries; the driver dominates."""

    def __init__(self) -> None:
        self.last: dict = {}  # query name -> DataFrame of its latest run

    def ops(self, ctx: Context, pass_no: int) -> list[Op]:
        return [registry_op(ctx, q, q, self.last)
                for q in pass_order(DASHBOARD, ctx.seed, pass_no)]

    def end_pass(self, ctx: Context, pass_no: int) -> dict:
        return {}

    def final_checks(self, ctx: Context) -> list[Op]:
        """Collect each query's DataFrame from the last pass once and
        compare its canonical hash with that of the registry's DuckDB
        oracle, which runs on a worker thread meanwhile."""
        from concurrent.futures import ThreadPoolExecutor

        from tests.oracle_compare import canonicalize, run_oracle

        pool = ThreadPoolExecutor(max_workers=1)
        want = {q: pool.submit(lambda q=q: canonicalize(
                    run_oracle(ctx.registry[q].oracle, ctx.sf_dir)))
                for q in DASHBOARD}
        pool.shutdown(wait=False)  # the queued oracles still run

        def check(q):
            def run():
                expected = want[q].result()
                got = canonicalize(self.last[q].toPandas())
                assert got == expected, f"{q}: spark {got[:2]} vs oracle {expected[:2]}"
            return Op(f"check.{q}", run)
        return [check(q) for q in DASHBOARD]

    def pipeline_op(self, fn_name: str) -> str:
        return f"ecom_{fn_name}"


class Ingest:
    """Generate and write the e-commerce tables, read them back through
    the seven paper pipelines, then run a streaming query."""

    def __init__(self) -> None:
        self.written: dict = {}

    def pass_dir(self, ctx: Context, pass_no: int) -> str:
        return os.path.join(ctx.work_dir, "ingest", f"pass{pass_no}")

    def ops(self, ctx: Context, pass_no: int) -> list[Op]:
        from big_data_analytics_spark import pipelines as P
        from big_data_analytics_spark.datagen import gen_all
        from big_data_analytics_spark.sources.writers import write_parquet

        out = self.pass_dir(ctx, pass_no)
        spark = ctx.spark

        def write():
            tr = ctx.tracer
            if tr:
                tr.phase("write", "build")
            tables = gen_all(spark, **INGEST_SIZES)
            if tr:
                tr.phase("write", "exec")
            for t, df in tables.items():
                write_parquet(df, os.path.join(out, t))
            if tr:
                tr.end_op()

        def read(t):
            return spark.read.parquet(os.path.join(out, t))

        builds = {
            "revenue_by_state": lambda: P.revenue_by_state(read("users"), read("transactions"), n=10),
            "top_products": lambda: P.top_products(read("transactions"), read("products"), n=5),
            "clv": lambda: P.clv(read("users"), read("transactions"), read("sessions")),
            "product_daily_metrics": lambda: P.product_daily_metrics(read("sessions")),
            "monthly_sales": lambda: P.monthly_sales(read("transactions")),
            "inventory_levels": lambda: P.inventory_levels(
                read("transactions"), read("products").select("product_id", "current_stock")),
            "products_enriched": lambda: P.products_enriched(read("products"), read("categories")),
        }
        checks = {"revenue_by_state": lambda df: check_revenue(df, read("transactions")),
                  "clv": lambda df: check_clv(df, read("users"))}
        ops = [Op("write", write, lambda _: self.check_written(out, read))]
        for p in pass_order(PIPELINES, ctx.seed, pass_no):
            ops.append(Op(p, (lambda p=p: execute(ctx, p, builds[p])), checks.get(p)))
        for op_name, q in STREAMS.items():
            ops.append(registry_op(ctx, op_name, q))
        return ops

    def check_written(self, out: str, read) -> None:
        self.written = written_stats(out)
        rows = self.written["rows"]
        expect = {"categories": INGEST_SIZES["n_categories"],
                  "products": INGEST_SIZES["n_products"],
                  "users": INGEST_SIZES["n_users"],
                  "sessions": INGEST_SIZES["n_sessions"]}
        for t, n in expect.items():
            assert rows[t] == n, f"{t}: wrote {rows[t]} rows, expected {n}"
        converted = read("sessions").filter("conversion_status = 'converted'").count()
        assert rows["transactions"] == converted, (
            f"transactions: wrote {rows['transactions']}, expected one per "
            f"converted session ({converted})")

    def end_pass(self, ctx: Context, pass_no: int) -> dict:
        stats = self.written
        self.written = {}
        shutil.rmtree(self.pass_dir(ctx, pass_no), ignore_errors=True)
        return stats

    def final_checks(self, ctx: Context) -> list[Op]:
        return []

    def pipeline_op(self, fn_name: str) -> str:
        return fn_name


def written_stats(out: str) -> dict:
    """Rows (from the Parquet footers), bytes and data files per table."""
    import pyarrow.parquet as pq

    rows, nbytes, files = {}, 0, 0
    for t in ECOM_TABLES:
        d = os.path.join(out, t)
        parts = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
        rows[t] = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        nbytes += sum(os.path.getsize(p) for p in parts)
        files += len(parts)
    return {"rows": rows, "bytes": nbytes, "files": files}


def check_revenue(df, transactions) -> None:
    """All 10 states fit the top 10, so its revenue sums to the total
    of ``transactions.total``, compared in integer cents."""
    got = df.collect()
    assert len(got) == 10, f"revenue_by_state returned {len(got)} states"
    got_cents = sum(round(r["total_revenue"] * 100) for r in got)
    want_cents = transactions.selectExpr(
        "CAST(SUM(CAST(FLOOR(total * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS c"
    ).collect()[0]["c"]
    assert got_cents == want_cents, f"revenue {got_cents} cents vs {want_cents}"


def check_clv(df, users) -> None:
    """Exactly one ``clv`` row per user."""
    got = df.selectExpr("COUNT(*) AS n", "COUNT(DISTINCT user_id) AS d").collect()[0]
    n_users = users.count()
    assert got["n"] == got["d"] == n_users, (
        f"clv: {got['n']} rows, {got['d']} users, expected {n_users}")


WORKLOADS = {"dashboard": Dashboard, "ingest": Ingest}
