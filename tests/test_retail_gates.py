"""Retail quality gates and the pipeline run record.

The gates compile each table's checks into one aggregate; these tests pin
the exact ``CheckResult`` list each gate returns on crafted tables (the
per-check semantics: NULL handling, empty input, detail text, order), a
gate failing mid-pipeline, the persisted stage tables, and the
session-keyed caches across a SparkSession restart.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import types
from pathlib import Path

import pytest
from conftest import SF_DIR

from data_pipeline_4_online_retail_spark import quality, session
from data_pipeline_4_online_retail_spark.pipeline import build_retail_pipeline
from data_pipeline_4_online_retail_spark.plans.retail import MODELS
from data_pipeline_4_online_retail_spark.quality import (
    CheckResult,
    QualityGateError,
    check_report,
    check_transform,
)
from data_pipeline_4_online_retail_spark.sources import fixtures
from data_pipeline_4_online_retail_spark.sources.catalog import Catalog


class _Tables(dict):
    """The gates only call ``cat.table(name)``; a dict of DataFrames is
    enough and registers no temp views in the shared session."""

    table = dict.__getitem__


def _tables(spark, **specs) -> _Tables:
    return _Tables({n: spark.createDataFrame(rows, schema) for n, (rows, schema) in specs.items()})


def test_check_transform_exact_results(spark):
    cat = _tables(
        spark,
        # all-NULL key, repeated: one NULL group of 3 rows
        dim_customer=([(None,), (None,), (None,)], "customer_key string"),
        # duplicated non-NULL key; NULL and out-of-range weekday
        dim_datetime=(
            [("d1", 1), ("d1", 7), ("d2", None), ("d3", 8), ("d4", 0)],
            "date_key string, weekday int",
        ),
        # negative price
        dim_product=([("p1", -0.5), ("p2", 3.0)], "product_key string, price double"),
        # empty table
        dim_invoice=([], "invoice_key string"),
        # total_price < 0 once; the NULL row does not match the predicate
        fct_invoice_line_value=([(1.0,), (-2.0,), (None,)], "total_price double"),
    )
    rep = check_transform(cat)
    assert rep.results == [
        CheckResult("dim_customer", "unique(customer_key)", False, "1 duplicated values"),
        CheckResult("dim_customer", "not_null(customer_key)", False, "3 nulls"),
        CheckResult("dim_datetime", "unique(date_key)", False, "1 duplicated values"),
        CheckResult("dim_datetime", "not_null(date_key)", True, "0 nulls"),
        CheckResult("dim_product", "unique(product_key)", True, "0 duplicated values"),
        CheckResult("dim_product", "not_null(product_key)", True, "0 nulls"),
        CheckResult("dim_invoice", "unique(invoice_key)", True, "0 duplicated values"),
        CheckResult("dim_invoice", "not_null(invoice_key)", True, "0 nulls"),
        CheckResult("dim_datetime", "accepted_range(weekday,[1,7])", False, "3 out of range"),
        CheckResult("dim_product", "min(price)>=0", False, "min=-0.5"),
        CheckResult("fct_invoice_line_value", "failed_rows(total_price < 0)", False, "1 rows"),
    ]
    assert rep.rows == {
        "dim_customer": 3,
        "dim_datetime": 5,
        "dim_product": 2,
        "dim_invoice": 0,
        "fct_invoice_line_value": 3,
    }


def test_check_transform_single_null_key_and_empty_tables(spark):
    cat = _tables(
        spark,
        # one NULL key row: a NULL group of one is no duplicate
        dim_customer=([(None,)], "customer_key string"),
        # empty table with a unique key and a range check
        dim_datetime=([], "date_key string, weekday int"),
        # empty table: min over no rows is NULL and fails
        dim_product=([], "product_key string, price double"),
        # a duplicated NULL key next to a duplicated non-NULL key
        dim_invoice=(
            [(None,), (None,), ("i1",), ("i1",), ("i1",), ("i2",)],
            "invoice_key string",
        ),
        fct_invoice_line_value=([], "total_price double"),
    )
    rep = check_transform(cat)
    assert rep.results == [
        CheckResult("dim_customer", "unique(customer_key)", True, "0 duplicated values"),
        CheckResult("dim_customer", "not_null(customer_key)", False, "1 nulls"),
        CheckResult("dim_datetime", "unique(date_key)", True, "0 duplicated values"),
        CheckResult("dim_datetime", "not_null(date_key)", True, "0 nulls"),
        CheckResult("dim_product", "unique(product_key)", True, "0 duplicated values"),
        CheckResult("dim_product", "not_null(product_key)", True, "0 nulls"),
        CheckResult("dim_invoice", "unique(invoice_key)", False, "2 duplicated values"),
        CheckResult("dim_invoice", "not_null(invoice_key)", False, "2 nulls"),
        CheckResult("dim_datetime", "accepted_range(weekday,[1,7])", True, "0 out of range"),
        CheckResult("dim_product", "min(price)>=0", False, "min=None"),
        CheckResult("fct_invoice_line_value", "failed_rows(total_price < 0)", True, "0 rows"),
    ]
    assert rep.rows == {
        "dim_customer": 1,
        "dim_datetime": 0,
        "dim_product": 0,
        "dim_invoice": 6,
        "fct_invoice_line_value": 0,
    }


def test_check_report_exact_results(spark):
    cat = _tables(
        spark,
        # NULL report columns; min() skips the NULL total_invoices
        report_customer_invoices=(
            [(None, None, None), ("United Kingdom", 2, None)],
            "country string, total_invoices long, total_revenue double",
        ),
        report_product_invoices=([(0,), (5,)], "total_quantity_sold long"),
        report_year_invoices=([], "num_invoices long"),
    )
    rep = check_report(cat)
    rc = "report_customer_invoices"
    assert rep.results == [
        CheckResult(rc, "not_null(country)", False, "1 nulls"),
        CheckResult(rc, "not_null(total_invoices)", False, "1 nulls"),
        CheckResult(rc, "not_null(total_revenue)", False, "2 nulls"),
        CheckResult(rc, "min(total_invoices)>=1", True, "min=2"),
        CheckResult("report_product_invoices", "min(total_quantity_sold)>=1", False, "min=0"),
        CheckResult("report_year_invoices", "min(num_invoices)>=0", False, "min=None"),
    ]
    assert rep.rows == {rc: 2, "report_product_invoices": 2, "report_year_invoices": 0}


def test_single_checks_share_the_gate_semantics(spark):
    """The standalone checks run the same compiled aggregates."""
    df = spark.createDataFrame([(None, 2), (None, -1), ("a", 9)], "k string, v int")
    assert quality.unique(df, "k", table="t") == CheckResult(
        "t", "unique(k)", False, "1 duplicated values"
    )
    assert quality.not_null(df, "k", table="t") == CheckResult("t", "not_null(k)", False, "2 nulls")
    assert quality.accepted_range(df, "v", 0, 5, table="t") == CheckResult(
        "t", "accepted_range(v,[0,5])", False, "2 out of range"
    )
    assert quality.min_threshold(df, "v", -1, table="t") == CheckResult(
        "t", "min(v)>=-1", True, "min=-1"
    )
    assert quality.failed_rows(df, "v > 5", table="t") == CheckResult(
        "t", "failed_rows(v > 5)", False, "1 rows"
    )


def test_gate_failing_mid_pipeline_keeps_partial_run_record(spark):
    """A country lookup that repeats the United Kingdom row fans out the
    dim_customer LEFT JOIN: the transform gate must stop the DAG before
    any report is built, and the error carries the stages' records."""

    def doubled_uk_country(s):
        country = fixtures.country_fixture(s)
        return country.unionByName(country.filter("name = 'United Kingdom'"))

    cat = Catalog(spark)
    pipe = build_retail_pipeline(fixtures.raw_invoices_fixture, doubled_uk_country)
    try:
        with pytest.raises(QualityGateError) as exc:
            pipe.execute(cat)
    finally:
        session.release_scoped()
    assert "dim_customer.unique(customer_key)" in str(exc.value)
    assert not [n for n in cat.names() if n.startswith("report_")]
    load, transform = exc.value.reports
    assert (load.stage, transform.stage) == ("load", "transform")
    assert not load.failures and load.seconds > 0
    assert transform.seconds > 0
    failed = [(r.table, r.check) for r in transform.failures]
    assert ("dim_customer", "unique(customer_key)") in failed
    # 6 customer keys in the fixture; the two UK customers appear twice
    assert transform.rows["dim_customer"] == 8


def test_pipeline_persists_stages_and_records_each_one(spark):
    cat = Catalog(spark)
    try:
        records = build_retail_pipeline(
            fixtures.raw_invoices_fixture, fixtures.country_fixture
        ).execute(cat)
        for name in ["raw_invoices"] + [n for n, _ in MODELS]:
            assert cat.table(name).storageLevel.useMemory, name
        assert [r.stage for r in records] == ["load", "transform", "report"]
        assert all(r.seconds > 0 and not r.failures for r in records)
        transform, report = records[1].rows, records[2].rows
        assert transform == {
            "dim_customer": 6,
            "dim_datetime": 10,
            "dim_product": 11,
            "dim_invoice": 10,
            "fct_invoice_line_value": 10,
        }
        assert sorted(report) == [n for n, _ in MODELS[5:]]
        for name, rows in {**transform, **report}.items():
            assert cat.table(name).count() == rows, name
    finally:
        session.release_scoped()
    # released tables recompute through their lineage
    assert not cat.table("dim_customer").storageLevel.useMemory
    assert cat.table("report_year_invoices").count() == records[2].rows["report_year_invoices"]


def test_session_caches_key_on_application_id(tmp_path, monkeypatch):
    """A rebuilt session may reuse a dead session's ``id()``; the catalog
    and pipeline caches must miss when the application changes."""
    from data_pipeline_4_online_retail_spark.plans import retail_oracle
    from data_pipeline_4_online_retail_spark.sources import catalog

    monkeypatch.setattr(catalog, "_CATALOG_CACHE", {})
    monkeypatch.setattr(retail_oracle, "_PIPELINE_CACHE", {})
    monkeypatch.setattr(retail_oracle, "run_retail_pipeline", lambda s: object())
    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId="app-1"))
    cat1 = catalog.load_tables(fake, str(tmp_path))
    built1 = retail_oracle._built_catalog(fake)
    assert catalog.load_tables(fake, str(tmp_path)) is cat1
    assert retail_oracle._built_catalog(fake) is built1
    fake.sparkContext.applicationId = "app-2"  # same object, new context
    assert catalog.load_tables(fake, str(tmp_path)) is not cat1
    assert retail_oracle._built_catalog(fake) is not built1


def test_session_caches_survive_session_restart():
    """Stop the SparkSession and build a new one in-process: the memoized
    catalog and the retail_* pipeline catalog must be rebuilt on the new
    context, not handed back bound to the stopped one. Subprocess-isolated:
    the scenario kills a SparkContext, which must never touch the suite's
    shared session."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, %r)
        import data_pipeline_4_online_retail_spark.plans.retail_oracle
        from data_pipeline_4_online_retail_spark.plans.registry import queries
        from data_pipeline_4_online_retail_spark.session import get_spark
        from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

        sf = %r
        q = queries()
        s1 = get_spark("restart-cache-test", shuffle_partitions=2)
        c1 = load_tables(s1, sf)
        n_orders = c1.table("orders").count()
        assert q["retail_dim_customer"](s1, sf).count() == 6
        s1.stop()

        s2 = get_spark("restart-cache-test-2", shuffle_partitions=2)
        c2 = load_tables(s2, sf)
        assert c2 is not c1 and c2.spark is s2
        assert c2.table("orders").count() == n_orders
        assert q["retail_dim_customer"](s2, sf).count() == 6
        assert q["retail_report_year_invoices"](s2, sf).count() == 1
        print("RESTART_OK")
        """
    ) % (str(Path(__file__).resolve().parent.parent), SF_DIR)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        env={
            "PATH": "/usr/bin:/bin",
            "HOME": os.environ.get("HOME", ""),
            "JAVA_HOME": os.environ.get("JAVA_HOME", ""),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
        },
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RESTART_OK" in proc.stdout
