"""The three workloads and their output checks.

Every workload makes its inputs from the seed, runs passes over its
operations through the program's public functions, and checks the outputs
against an independent DuckDB computation over the same inputs, outside
the timed region. Why each workload exists, and which layers it exercises,
is in ``layers.json``.
"""

from __future__ import annotations

import csv
import datetime as dt
import math
import os
import time
from collections.abc import Callable

import duckdb

from perfbench import datagen
from perfbench.harness import OpResult, run_op
from perfbench.spark_trace import Tracer, cache_state, plan_phases_s

# Star reports + fact build, and TPC-H queries covering the join, exchange
# and subquery shapes: scan-aggregate (q01), 3- and 6-way joins (q03, q05,
# q09), outer join (q13), IN-subquery (q18), EXISTS/NOT EXISTS (q21) and
# scalar-subquery anti-join (q22).
WAREHOUSE_QUERIES = [
    "star_report_customer",
    "star_report_product",
    "star_report_year",
    "star_fct_invoice_line_value",
    "tpch_q01",
    "tpch_q03",
    "tpch_q05",
    "tpch_q09",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "tpch_q22",
]
# Dedup, similarity, text and multimodal extension queries. The md5-signature
# dedup_minhash_lsh stands in for dedup_minhash_lsh_fast: the latter's DuckDB
# oracle re-derives xxhash64 in SQL and takes ~18 s on 4 cores per run.
LLM_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "sim_ann_lsh",
    "text_word_freq",
    "text_bm25",
    "text_quality_filters",
    "mm_phash_dedup",
]
QUERY_SF = 0.01
RETAIL_ROWS = 10_000


def _release(spark, tracer: Tracer | None, cache: dict) -> None:
    """Drop every cached Dataset between operations; a traced run first
    records what the operation left cached."""
    if tracer is not None:
        held, held_bytes = cache_state(spark)
        cache["held_after_query"] = max(cache.get("held_after_query", 0), held)
        cache["held_bytes_max"] = max(cache.get("held_bytes_max", 0), held_bytes)
    spark.catalog.clearCache()


class QueryWorkload:
    """Registered queries over a generated parquet tier, each executed with
    ``collect()``, as a client that reads the result would. Untimed passes
    first warm the JVM and the Python workers. Every pass keeps its
    outputs; the first and the last pass are checked, so a fault that shows
    only when a query re-runs in the same session fails the run too."""

    def __init__(self, name: str, queries: list[str]):
        self.name = name
        self.queries = queries
        # "first" / "last" pass -> query -> (columns, rows)
        self.outputs: dict[str, dict[str, tuple[list[str], list]]] = {}
        self.cache: dict[str, int] = {}

    def generate(self, work: str, seed: int) -> dict:
        self.data_dir = os.path.join(work, "inputs", self.name)
        self.input_bytes = datagen.warehouse_tables(self.data_dir, QUERY_SF, seed)
        return {"input_dir": self.data_dir, "input_bytes": self.input_bytes, "sf": QUERY_SF}

    def start(self, spark, builders: dict[str, Callable], oracles: dict[str, str]) -> None:
        self.spark, self.builders, self.oracles = spark, builders, oracles

    def warm_pass(self) -> list[OpResult]:
        """Two untimed passes: the first timed pass (``pass_s``) then varied
        0.08-0.13 IQR/median over three ten-seed sets, against 0.147 over
        one set after a single warm-up pass."""
        out = self.run_pass()
        self.outputs["first"] = self.outputs.pop("last")
        return out + self.run_pass()

    def run_pass(self, tracer: Tracer | None = None) -> list[OpResult]:
        outputs = self.outputs["last"] = {}
        out = []
        for q in self.queries:
            fn = self._execute if tracer is None else self._traced
            out.append(run_op(q, lambda q=q: fn(q, outputs, tracer)))
            _release(self.spark, tracer, self.cache)
        return out

    def _execute(self, q: str, outputs: dict, _tracer=None) -> None:
        df = self.builders[q](self.spark, self.data_dir)
        outputs[q] = (df.columns, df.collect())

    def _traced(self, q: str, outputs: dict, tracer: Tracer) -> None:
        with tracer.span(q, layer="query", group=False):
            with tracer.span("build", layer="operators.build"):
                df = self.builders[q](self.spark, self.data_dir)
            with tracer.span("plan", layer="catalyst.plan", group=False) as plan:
                plan["phases"] = plan_phases_s(df)
            with tracer.span("execute", layer="exec"):
                outputs[q] = (df.columns, df.collect())

    def check(self, threads: int) -> dict[str, str]:
        """Compare each output of the first and the last pass with the
        registry's DuckDB oracle: row count, column names, then values
        (order-insensitive)."""
        con = _duck(threads)
        for f in sorted(os.listdir(self.data_dir)):
            con.execute(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                f"SELECT * FROM read_parquet('{os.path.join(self.data_dir, f)}')"
            )
        problems = {}
        for q in self.queries:
            if q not in self.oracles:
                continue
            res = con.execute(self.oracles[q])
            want = ([d[0] for d in res.description], res.fetchall())
            for label in ("first", "last"):
                got = self.outputs.get(label, {}).get(q)
                problem = "no output (the query failed)" if got is None else compare(got, want)
                if problem:
                    problems[q] = f"{label} pass: {problem}"
                    break
        return problems


class RetailWorkload:
    """The reference DAG end to end, as the CLI runs it: load the CSV with
    the ISO seed, run the three ``build_retail_pipeline`` stages with their
    gates, then write all 8 models as parquet. The operations are the DAG's
    tasks: load, transform and report (each with its gate) and write. No
    warm-up pass: a batch run pays its JVM warm-up every time."""

    name = "retail_etl"

    def __init__(self):
        self.cache: dict[str, int] = {}

    def generate(self, work: str, seed: int) -> dict:
        inputs = os.path.join(work, "inputs", self.name)
        os.makedirs(inputs, exist_ok=True)
        self.csv_path = os.path.join(inputs, "online_retail.csv")
        self.out_dir = os.path.join(work, "retail_output")
        self.input_bytes = datagen.retail_csv(self.csv_path, RETAIL_ROWS, seed)
        return {"input_dir": inputs, "input_bytes": self.input_bytes, "rows": RETAIL_ROWS}

    def start(self, spark, builders=None, oracles=None) -> None:
        self.spark = spark

    def warm_pass(self) -> list[OpResult]:
        return []

    def run_pass(self, tracer: Tracer | None = None) -> list[OpResult]:
        from data_pipeline_4_online_retail_spark.pipeline import build_retail_pipeline
        from data_pipeline_4_online_retail_spark.session import pin_session_semantics
        from data_pipeline_4_online_retail_spark.sources.catalog import Catalog
        from data_pipeline_4_online_retail_spark.sources.country_seed import build_country_seed
        from data_pipeline_4_online_retail_spark.sources.io import read_csv
        from data_pipeline_4_online_retail_spark.sources.schemas import RAW_INVOICES

        pin_session_semantics(self.spark)
        cat = Catalog(self.spark)
        pipe = build_retail_pipeline(
            lambda s: read_csv(s, self.csv_path, RAW_INVOICES), build_country_seed
        )
        task_s: dict[str, float] = {}
        for stage in pipe.stages:
            stage.run = _task(stage.run, stage.name, "pipeline." + stage.name, task_s, tracer)
            if stage.gate is not None:
                stage.gate = _task(
                    stage.gate, stage.name, "quality.gate_" + stage.name, task_s, tracer
                )
        run = run_op("pipeline", lambda: pipe.execute(cat))
        # execute() stops at the first failing stage: it and every later one fail
        n_ok = len(pipe.stages) if run.ok else len(task_s) - 1
        out = [
            OpResult(stage.name, task_s.get(stage.name, 0.0), i < n_ok, run.error)
            for i, stage in enumerate(pipe.stages)
        ]
        out.append(run_op("write", lambda: self._write(cat, tracer)) if run.ok
                   else OpResult("write", 0.0, False, "pipeline failed"))
        _release(self.spark, tracer, self.cache)
        return out

    def _write(self, cat, tracer: Tracer | None) -> None:
        from data_pipeline_4_online_retail_spark.plans.retail import MODELS

        for name, _ in MODELS:
            df, path = cat.table(name), os.path.join(self.out_dir, name)
            if tracer is None:
                df.write.mode("overwrite").parquet(path)
                continue
            with tracer.span(f"plan {name}", layer="catalyst.plan", group=False) as plan:
                plan["phases"] = plan_phases_s(df)
            with tracer.span(f"write {name}", layer="pipeline.write"):
                df.write.mode("overwrite").parquet(path)

    def check(self, threads: int) -> dict[str, str]:
        """Recompute all 8 tables in DuckDB from the CSV and compare them
        with the parquet the last pass wrote. The top-10 reports may break
        ties either way, so they are checked as top-k: the same ranking
        values, and every reported row present in the full aggregate.
        Problems are keyed by the DAG task that builds the table."""
        con = _duck(threads)
        con.register("raw_csv", _read_csv_rows(self.csv_path))
        con.register("country", _country_lookup())
        for name, sql in _retail_sql().items():
            con.execute(f"CREATE TABLE {name} AS {sql}")
        problems: dict[str, str] = {}
        for name, (rank_col, task) in RETAIL_TABLES.items():
            path = os.path.join(self.out_dir, name, "*.parquet")
            try:
                got = con.execute(f"SELECT * FROM read_parquet('{path}')")
            except duckdb.Error as exc:
                problems[task] = f"{name}: output unreadable: {exc}"
                continue
            spark_side = ([d[0] for d in got.description], got.fetchall())
            res = con.execute(f"SELECT * FROM {name}")
            duck_side = ([d[0] for d in res.description], res.fetchall())
            problem = (compare_top_k(spark_side, duck_side, rank_col, 10) if rank_col
                       else compare(spark_side, duck_side))
            if problem:
                problems.setdefault(task, f"{name}: {problem}")
        return problems


def _task(fn, task: str, layer: str, task_s: dict, tracer: Tracer | None):
    """Wrap a pipeline stage callable: add its time to its DAG task and,
    when tracing, run it under a span of its own."""

    def run(cat):
        t = time.perf_counter()
        try:
            if tracer is None:
                return fn(cat)
            with tracer.span(layer.split(".", 1)[1], layer=layer):
                return fn(cat)
        finally:
            task_s[task] = task_s.get(task, 0.0) + time.perf_counter() - t

    return run


WORKLOADS = {
    "retail_etl": RetailWorkload,
    "warehouse_queries": lambda: QueryWorkload("warehouse_queries", WAREHOUSE_QUERIES),
    "llm_curation": lambda: QueryWorkload("llm_curation", LLM_QUERIES),
}


# --------------------------------------------------------------------------
# Output comparison (the tools/oracle_check.py method: row count, sorted
# column names, order-insensitive values), with floats compared to 1e-9
# relative so engine summation order cannot fail a correct result.

def _duck(threads: int):
    con = duckdb.connect()
    con.execute(f"SET threads={max(1, threads)}")
    con.execute("SET memory_limit='1GB'")
    return con


def _norm(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        ("f", round(v, 2)) if isinstance(v, float) and not math.isnan(v) else ("v", repr(v))
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _rows_by_name(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_norm(r[i]) for i in order) for r in rows]


def compare(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str:
    """'' when both (columns, rows) pairs hold the same multiset of rows."""
    (gc, gr), (wc, wr) = got, want
    if sorted(gc) != sorted(wc):
        return f"columns {sorted(gc)} != {sorted(wc)}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    a = sorted(_rows_by_name(gc, gr), key=_sort_key)
    b = sorted(_rows_by_name(wc, wr), key=_sort_key)
    for x, y in zip(a, b):
        if not _same(x, y):
            return f"value mismatch: {x!r} != {y!r}"[:300]
    return ""


def compare_top_k(got, want_all, rank_col: str, k: int) -> str:
    """'' when ``got`` is a valid top-k of ``want_all`` by ``rank_col``."""
    (gc, gr), (wc, wr) = got, want_all
    if sorted(gc) != sorted(wc):
        return f"columns {sorted(gc)} != {sorted(wc)}"
    if len(gr) != min(k, len(wr)):
        return f"rows {len(gr)} != {min(k, len(wr))}"
    gi, wi = gc.index(rank_col), wc.index(rank_col)
    ranks_got = sorted((r[gi] for r in gr), reverse=True)
    ranks_want = sorted((r[wi] for r in wr), reverse=True)[: len(gr)]
    if not all(_same(float(a), float(b)) for a, b in zip(ranks_got, ranks_want)):
        return f"top-{k} {rank_col} values differ"
    pool = _rows_by_name(wc, wr)
    for row in _rows_by_name(gc, gr):
        if not any(_same(row, cand) for cand in pool):
            return f"reported row not in the full aggregate: {row!r}"[:300]
    return ""


# --------------------------------------------------------------------------
# Independent DuckDB recomputation of the retail models from the raw CSV.

# table -> (ranking column of a top-10 report or "", DAG task that builds it)
RETAIL_TABLES = {
    "dim_customer": ("", "transform"),
    "dim_datetime": ("", "transform"),
    "dim_product": ("", "transform"),
    "dim_invoice": ("", "transform"),
    "fct_invoice_line_value": ("", "transform"),
    "report_customer_invoices": ("total_revenue", "report"),
    "report_product_invoices": ("total_quantity_sold", "report"),
    "report_year_invoices": ("", "report"),
}
_NULL_KEY = "_dbt_utils_surrogate_key_null_"


def _key(*cols: str) -> str:
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '{_NULL_KEY}')" for c in cols)
    return f"md5(concat_ws('-', {parts}))"


def _read_csv_rows(path: str):
    """The raw CSV as an Arrow table typed like the program's schema; empty
    fields are NULL, as Spark's CSV reader makes them."""
    import pyarrow as pa

    cols: dict[str, list] = {c: [] for c in (
        "InvoiceNo", "StockCode", "Description", "Quantity",
        "InvoiceDate", "UnitPrice", "CustomerID", "Country")}
    with open(path, encoding="iso-8859-1", newline="") as f:
        reader = csv.reader(f)
        next(reader)
        for inv, stock, desc, qty, date, price, cust, country in reader:
            cols["InvoiceNo"].append(inv)
            cols["StockCode"].append(stock or None)
            cols["Description"].append(desc or None)
            cols["Quantity"].append(int(qty))
            cols["InvoiceDate"].append(date or None)
            cols["UnitPrice"].append(float(price))
            cols["CustomerID"].append(float(cust) if cust else None)
            cols["Country"].append(country)
    types = {"Quantity": pa.int32(), "UnitPrice": pa.float64(), "CustomerID": pa.float64()}
    return pa.table({c: pa.array(v, types.get(c, pa.string())) for c, v in cols.items()})


def _country_lookup():
    """The reference's ISO table after its ALTERs: (iso, name = nicename)."""
    import pyarrow as pa

    from data_pipeline_4_online_retail_spark.sources.country_seed import COUNTRY_ROWS

    return pa.table({"iso": [r[1] for r in COUNTRY_ROWS], "name": [r[3] for r in COUNTRY_ROWS]})


def _retail_sql() -> dict[str, str]:
    fmt = "'%m/%d/%Y %I:%M %p'"
    return {
        # dags/online_retail.py: every line of an invoice gets the invoice's
        # latest timestamp, re-rendered as 'MM/DD/YYYY HH:MM AM'
        "raw": f"""
            SELECT InvoiceNo, StockCode, Description, Quantity,
                   strftime(max(coalesce(try_strptime(InvoiceDate, {fmt}),
                                         try_strptime(InvoiceDate, '%m/%d/%Y %H:%M')))
                            OVER (PARTITION BY InvoiceNo), {fmt}) AS InvoiceDate,
                   UnitPrice, CustomerID, Country
            FROM raw_csv""",
        "dim_customer": f"""
            SELECT c.customer_key, c.customer_id, c.country, k.iso
            FROM (SELECT DISTINCT {_key('CustomerID', 'Country')} AS customer_key,
                         CustomerID AS customer_id, Country AS country
                  FROM raw WHERE CustomerID IS NOT NULL) c
            LEFT JOIN country k ON c.country = k.name""",
        "dim_datetime": f"""
            SELECT date_key, datetime_id, datetime, year(datetime) AS year,
                   month(datetime) AS month, day(datetime) AS day,
                   hour(datetime) AS hour, minute(datetime) AS minute,
                   dayofweek(datetime) + 1 AS weekday
            FROM (SELECT DISTINCT {_key('InvoiceDate')} AS date_key,
                         InvoiceDate AS datetime_id,
                         strptime(InvoiceDate, {fmt}) AS datetime
                  FROM raw WHERE InvoiceDate IS NOT NULL)""",
        "dim_product": f"""
            SELECT DISTINCT {_key('StockCode', 'Description', 'UnitPrice')} AS product_key,
                   StockCode AS stock_code, Description AS description, UnitPrice AS price
            FROM raw WHERE StockCode IS NOT NULL AND UnitPrice > 0""",
        "dim_invoice": f"""
            SELECT i.invoice_key, i.invoiceno, i.invoicedate, i.customer_key
            FROM (SELECT DISTINCT {_key('InvoiceNo')} AS invoice_key, InvoiceNo AS invoiceno,
                         InvoiceDate AS invoicedate,
                         {_key('CustomerID', 'Country')} AS customer_key
                  FROM raw) i
            JOIN dim_customer c ON i.customer_key = c.customer_key""",
        "fct_invoice_line_value": f"""
            SELECT f.invoice_key, f.date_key, f.product_key, f.quantity, f.total_price
            FROM (SELECT {_key('InvoiceNo')} AS invoice_key, {_key('InvoiceDate')} AS date_key,
                         {_key('StockCode', 'Description', 'UnitPrice')} AS product_key,
                         Quantity AS quantity, Quantity * UnitPrice AS total_price
                  FROM raw WHERE Quantity > 0) f
            JOIN dim_datetime d ON f.date_key = d.date_key
            JOIN dim_product p ON f.product_key = p.product_key
            JOIN dim_invoice i ON f.invoice_key = i.invoice_key""",
        "report_customer_invoices": """
            SELECT c.country, c.iso, count(f.invoice_key) AS total_invoices,
                   sum(f.total_price) AS total_revenue
            FROM fct_invoice_line_value f
            JOIN dim_invoice i ON f.invoice_key = i.invoice_key
            JOIN dim_customer c ON i.customer_key = c.customer_key
            GROUP BY c.country, c.iso""",
        "report_product_invoices": """
            SELECT p.product_key, p.stock_code, p.description,
                   sum(f.quantity) AS total_quantity_sold
            FROM fct_invoice_line_value f JOIN dim_product p ON f.product_key = p.product_key
            GROUP BY p.product_key, p.stock_code, p.description""",
        "report_year_invoices": """
            SELECT d.year, d.month, count(DISTINCT f.invoice_key) AS num_invoices,
                   sum(f.total_price) AS total_revenue
            FROM fct_invoice_line_value f JOIN dim_datetime d ON f.date_key = d.date_key
            GROUP BY d.year, d.month""",
    }
