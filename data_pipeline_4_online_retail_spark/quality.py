"""Data-quality checks + fail-stop gate runner — the Soda surface
(include/soda/check_function.py, include/soda/checks/**).

A stage gate evaluates its checks on the just-built tables and raises
``QualityGateError`` before downstream stages run (the reference's
``raise ValueError('Soda Scan failed')`` semantics,
check_function.py:19-23).

Check vocabulary (SURVEY.md §2.6 A7, §2.9 F10/F11):
- ``schema_check``     required columns + types (schema contracts, e.g.
                       checks/sources/raw_invoices.yml:2-12)
- ``not_null``         missing_count(col) = 0
- ``unique``           duplicate_count(col) = 0
- ``accepted_range``   invalid_count outside [lo, hi] = 0
- ``min_threshold``    min(col) ≥ bound
- ``failed_rows``      arbitrary predicate must match 0 rows
                       (fct_invoice_line_value.yml:13-18)

One pass per table: every check compiles to an aggregate column, and all
checks on one table (plus its ``count(*)``) run as ONE aggregate action —
a table with a ``unique(key)`` check gets a two-level aggregate grouped
by the key. Each check still yields its own ``CheckResult``, so a failure
names its check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class QualityGateError(RuntimeError):
    """A quality gate failed; downstream stages must not run. ``reports``
    holds the run records of the stages that ran, the failing one last."""

    def __init__(self, message: str, reports: list["QualityReport"] | None = None):
        super().__init__(message)
        self.reports = reports or []


@dataclass
class CheckResult:
    table: str
    check: str
    passed: bool
    detail: str = ""


@dataclass
class QualityReport:
    """A gate's check results; as a pipeline run record it also carries
    the stage name, the stage's wall seconds (run + gate) and the row
    count of every table the gate aggregated."""

    results: list[CheckResult] = field(default_factory=list)
    rows: dict[str, int] = field(default_factory=dict)
    stage: str = ""
    seconds: float = 0.0

    def add(self, r: CheckResult) -> None:
        self.results.append(r)

    @property
    def failures(self) -> list[CheckResult]:
        return [r for r in self.results if not r.passed]

    def raise_on_failure(self, reports: list["QualityReport"] | None = None) -> None:
        """Raise ``QualityGateError`` carrying ``reports`` (default: this
        report alone) if any check failed."""
        if self.failures:
            lines = "; ".join(f"{r.table}.{r.check}: {r.detail}" for r in self.failures)
            raise QualityGateError(f"quality gate failed: {lines}", reports or [self])


# ---------------------------------------------------------------------------
# Checks compiled to aggregates
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _Check:
    """One check as an aggregate: ``agg`` folds a table's rows (or one key
    group's rows), ``merge`` folds the per-group values of a grouped pass,
    ``verdict`` maps the final value to (passed, detail). ``unique(key)``
    has no ``agg``: it is the grouping itself."""

    name: str
    agg: Column | None
    merge: Callable[[str], Column] | None
    verdict: Callable[[Any], tuple[bool, str]]
    key: str | None = None


def _counting(name: str, cond: Column, noun: str) -> _Check:
    # count(when(cond)) counts exactly the rows filter(cond) keeps: a NULL
    # predicate drops the row. A grouped pass sums per-group counts, and
    # sum() over zero groups is NULL: read as 0.
    return _Check(
        name, F.count(F.when(cond, 1)), F.sum, lambda n: (not n, f"{n or 0} {noun}")
    )


def _not_null(col: str) -> _Check:
    return _counting(f"not_null({col})", F.col(col).isNull(), "nulls")


def _unique(col: str) -> _Check:
    return _Check(
        f"unique({col})", None, None, lambda n: (n == 0, f"{n} duplicated values"), key=col
    )


def _accepted_range(col: str, lo, hi) -> _Check:
    return _counting(
        f"accepted_range({col},[{lo},{hi}])",
        ~F.col(col).between(lo, hi) | F.col(col).isNull(),
        "out of range",
    )


def _min_threshold(col: str, bound) -> _Check:
    return _Check(
        f"min({col})>={bound}",
        F.min(col),
        F.min,
        lambda v: (v is not None and v >= bound, f"min={v}"),
    )


def _failed_rows(predicate: str) -> _Check:
    return _counting(f"failed_rows({predicate})", F.expr(predicate), "rows")


def _evaluate(df: DataFrame, table: str, checks: list[_Check]) -> tuple[list[CheckResult], int]:
    """Run ``checks`` on ``df`` as ONE aggregate action; return their
    results in order plus the table's row count.

    With a ``unique(key)`` check the aggregate has two levels: the inner
    ``groupBy(key)`` computes ``count(*)`` and every row check's ``agg``
    per key, the outer level merges those and counts groups with more
    than one row. ``groupBy`` keeps NULL as one group, so a repeated NULL
    key counts as one duplicated value."""
    keys = {c.key for c in checks if c.key is not None}
    if len(keys) > 1:
        raise ValueError(f"{table}: one unique() key per pass, got {sorted(keys)}")
    row_checks = [c for c in checks if c.key is None]
    aggs = [F.count(F.lit(1))] + [c.agg for c in row_checks]
    dup = None
    if keys:
        cols = [f"_c{i}" for i in range(len(aggs))]
        per_key = df.groupBy(*keys).agg(*(a.alias(c) for a, c in zip(aggs, cols)))
        out = per_key.agg(
            F.sum(cols[0]),
            *(c.merge(col) for c, col in zip(row_checks, cols[1:])),
            F.count(F.when(F.col(cols[0]) > 1, 1)),
        ).first()
        dup = out[-1]
    else:
        out = df.agg(*aggs).first()
    values = iter(out[1:])
    results = []
    for c in checks:
        passed, detail = c.verdict(dup if c.key is not None else next(values))
        results.append(CheckResult(table, c.name, passed, detail))
    return results, out[0] or 0


def _gate(cat, checks: list[tuple[str, _Check]]) -> QualityReport:
    """Evaluate ``(table, check)`` pairs with one aggregate per table;
    results keep the declaration order and ``rows`` gets each table's row
    count."""
    by_table: dict[str, list[_Check]] = {}
    for table, c in checks:
        by_table.setdefault(table, []).append(c)
    rep = QualityReport()
    done: dict[tuple[str, str], CheckResult] = {}
    for table, cs in by_table.items():
        results, rep.rows[table] = _evaluate(cat.table(table), table, cs)
        done.update(((table, r.check), r) for r in results)
    for table, c in checks:
        rep.add(done[(table, c.name)])
    return rep


# ---------------------------------------------------------------------------
# Individual checks (one aggregate action each)
# ---------------------------------------------------------------------------


def schema_check(
    df: DataFrame, required: dict[str, T.DataType], *, table: str
) -> CheckResult:
    """Required columns present with the declared types (extra columns are
    allowed — the reference contract omits Description on purpose)."""
    actual = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in required if c not in actual]
    wrong = [
        f"{c}: {actual[c].simpleString()}≠{t.simpleString()}"
        for c, t in required.items()
        if c in actual and actual[c] != t
    ]
    ok = not missing and not wrong
    detail = "; ".join(
        (["missing: " + ", ".join(missing)] if missing else [])
        + (["wrong type: " + ", ".join(wrong)] if wrong else [])
    )
    return CheckResult(table, "schema", ok, detail)


def not_null(df: DataFrame, col: str, *, table: str) -> CheckResult:
    return _evaluate(df, table, [_not_null(col)])[0][0]


def unique(df: DataFrame, col: str, *, table: str) -> CheckResult:
    return _evaluate(df, table, [_unique(col)])[0][0]


def accepted_range(
    df: DataFrame, col: str, lo, hi, *, table: str
) -> CheckResult:
    return _evaluate(df, table, [_accepted_range(col, lo, hi)])[0][0]


def min_threshold(df: DataFrame, col: str, bound, *, table: str) -> CheckResult:
    return _evaluate(df, table, [_min_threshold(col, bound)])[0][0]


def failed_rows(df: DataFrame, predicate: str, *, table: str) -> CheckResult:
    return _evaluate(df, table, [_failed_rows(predicate)])[0][0]


# ---------------------------------------------------------------------------
# The reference's three gates, ported check-for-check
# ---------------------------------------------------------------------------

_D = T.DoubleType()
_S = T.StringType()
_I = T.IntegerType()


def check_sources(cat) -> QualityReport:
    """check_load: schema contracts on raw_invoices + country
    (checks/sources/*.yml). The raw_invoices required-column list omits
    Description — replicated as-is."""
    rep = QualityReport()
    raw = cat.table("raw_invoices")
    rep.add(
        schema_check(
            raw,
            {
                "InvoiceNo": _S,
                "StockCode": _S,
                "Quantity": _I,
                "InvoiceDate": _S,
                "UnitPrice": _D,
                "CustomerID": _D,
                "Country": _S,
            },
            table="raw_invoices",
        )
    )
    country = cat.table("country")
    rep.add(
        schema_check(
            country,
            {"iso": _S, "name": _S, "iso3": _S, "numcode": _I, "phonecode": _I},
            table="country",
        )
    )
    return rep


def check_transform(cat) -> QualityReport:
    """check_transform (checks/transform/*.yml): key uniqueness +
    non-nullness per dim, weekday range, price min, fact failed-rows —
    one aggregate per table, five in all.

    Documented deviation: the reference asserts weekday ∈ [0, 6]
    (dim_datetime.yml:9-12) while its own data is BigQuery DAYOFWEEK
    1..7 — every Saturday fails in the reference. We keep the 1..7 data
    semantics and check the range that matches them (SURVEY.md §2.9 F5).
    """
    checks: list[tuple[str, _Check]] = []
    for t, key in (
        ("dim_customer", "customer_key"),
        ("dim_datetime", "date_key"),
        ("dim_product", "product_key"),
        ("dim_invoice", "invoice_key"),
    ):
        checks += [(t, _unique(key)), (t, _not_null(key))]
    checks += [
        ("dim_datetime", _accepted_range("weekday", 1, 7)),
        ("dim_product", _min_threshold("price", 0)),
        ("fct_invoice_line_value", _failed_rows("total_price < 0")),
    ]
    return _gate(cat, checks)


def check_report(cat) -> QualityReport:
    """check_report (checks/report/*.yml): non-null aggregates + positive
    activity minima — one aggregate per report."""
    rc = "report_customer_invoices"
    return _gate(
        cat,
        [(rc, _not_null(c)) for c in ("country", "total_invoices", "total_revenue")]
        + [
            (rc, _min_threshold("total_invoices", 1)),
            ("report_product_invoices", _min_threshold("total_quantity_sold", 1)),
            ("report_year_invoices", _min_threshold("num_invoices", 0)),
        ],
    )


# ---------------------------------------------------------------------------
# Curation-tier gate (extension): the same fail-stop pattern applied to
# the training-data pipeline outputs — run after curation, before export.
# ---------------------------------------------------------------------------


def ratio_between(
    df: DataFrame, predicate: str, lo: float, hi: float, *, table: str
) -> CheckResult:
    """Fraction of rows matching ``predicate`` must lie in [lo, hi] —
    the alarm shape for rates (contamination %, sampling keep-rate) where
    both 0% and 100% usually mean an upstream bug, not a clean corpus."""
    total = df.count()
    n = df.filter(predicate).count()
    # An EMPTY table always fails: with lo=0.0 bands (e.g. contamination's
    # [0.0, 0.9]) a vacuous 0/0 "rate" would pass the gate even though an
    # upstream bug dropped every row — the opposite of fail-stop.
    if total == 0:
        return CheckResult(
            table,
            f"ratio({predicate}) in [{lo},{hi}]",
            False,
            "0/0 rows — empty input, rate undefined (fail-stop)",
        )
    frac = n / total
    ok = lo <= frac <= hi
    return CheckResult(
        table,
        f"ratio({predicate}) in [{lo},{hi}]",
        ok,
        f"{n}/{total} = {frac:.4f}",
    )


def check_curation(spark, sf_dir: str) -> QualityReport:
    """Fail-stop gate over the curation operators' outputs:

    - quality filters keep a sane fraction (not everything, not nothing),
    - contamination stays under an alarm ceiling and n_hits is consistent
      with the flag,
    - every document gets exactly one split assignment and one packing
      slot (conservation),
    - acceptance sampling's keep-rate stays inside its expected band.
    """
    from data_pipeline_4_online_retail_spark.operators import curation as C

    rep = QualityReport()

    qf = C.text_quality_filters(spark, sf_dir)
    rep.add(ratio_between(qf, "keep = 1", 0.05, 0.95, table="text_quality_filters"))
    rep.add(
        failed_rows(
            qf,
            "n_tokens <= 0 OR top_unigram_frac < 0 OR top_unigram_frac > 1",
            table="text_quality_filters",
        )
    )

    cont = C.text_contamination(spark, sf_dir)
    rep.add(ratio_between(cont, "contaminated = 1", 0.0, 0.9, table="text_contamination"))
    rep.add(
        failed_rows(
            cont,
            "(contaminated = 1 AND n_hits = 0) OR (contaminated = 0 AND n_hits > 0)",
            table="text_contamination",
        )
    )

    docs = C._docs(spark, sf_dir)
    n_docs = docs.count()

    split = C.text_split_assign(spark, sf_dir)
    rep.add(
        CheckResult(
            "text_split_assign",
            "one row per document",
            split.count() == n_docs and split.select("doc_id").distinct().count() == n_docs,
            f"{split.count()} rows / {n_docs} docs",
        )
    )

    packed = C.text_pack_sequences(spark, sf_dir)
    rep.add(
        CheckResult(
            "text_pack_sequences",
            "conservation: every doc packed exactly once",
            packed.count() == n_docs
            and packed.select("doc_id").distinct().count() == n_docs,
            f"{packed.count()} rows / {n_docs} docs",
        )
    )

    samp = C.text_quality_sample(spark, sf_dir)
    rep.add(ratio_between(samp, "sampled = 1", 0.05, 0.95, table="text_quality_sample"))

    # r4 gates ------------------------------------------------------------
    from pyspark.sql import functions as F

    temp = C.text_temperature_sample(spark, sf_dir)
    prob_sum = temp.agg(F.sum("sample_prob")).head()[0]
    rep.add(
        CheckResult(
            "text_temperature_sample",
            "sampling distribution normalizes",
            abs(prob_sum - 1.0) < 1e-9,
            f"sum(sample_prob) = {prob_sum}",
        )
    )
    rep.add(
        failed_rows(
            temp,
            "boost <= 0 OR sample_prob <= 0 OR sample_prob >= 1",
            table="text_temperature_sample",
        )
    )

    spans = C.text_dup_span_removal(spark, sf_dir)
    # conservation: kept + dropped spans == ceil(tokens/SPAN_WORDS) per doc
    expected = C._docs(spark, sf_dir).select(
        "doc_id",
        F.ceil(
            F.size(F.split("text", " ")) / F.lit(float(C.SPAN_WORDS))
        ).alias("n_spans"),
    )
    bad = (
        spans.join(expected, "doc_id")
        .filter(
            F.col("n_spans_kept") + F.col("n_spans_dropped") != F.col("n_spans")
        )
        .count()
    )
    rep.add(
        CheckResult(
            "text_dup_span_removal",
            "span conservation (kept + dropped = total)",
            bad == 0 and spans.count() == n_docs,
            f"{bad} violations / {spans.count()} docs",
        )
    )

    cap = C.text_source_cap(spark, sf_dir)
    over = (
        cap.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > C.SOURCE_CAP)
        .count()
    )
    rep.add(
        CheckResult(
            "text_source_cap",
            f"no source exceeds the cap ({C.SOURCE_CAP})",
            over == 0,
            f"{over} sources over cap",
        )
    )

    # r4c gates -----------------------------------------------------------
    from data_pipeline_4_online_retail_spark.operators import dedup as D
    from data_pipeline_4_online_retail_spark.operators import (
        events_windows as E,
    )
    from data_pipeline_4_online_retail_spark.operators import relational as R

    gs = R.op_group_sample_exact_k(spark, sf_dir)
    off_k = (
        gs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") != R.GROUP_SAMPLE_K)
        .count()
    )
    rep.add(
        CheckResult(
            "op_group_sample_exact_k",
            f"every group yields exactly k={R.GROUP_SAMPLE_K} rows",
            off_k == 0,
            f"{off_k} groups off-size",
        )
    )

    urls = D.dedup_url_canonicalize(spark, sf_dir)
    bad_keeper = urls.join(
        docs.select("doc_id"),
        urls.keeper_doc_id == F.col("doc_id"),
        "left_anti",
    ).count()
    rep.add(
        CheckResult(
            "dedup_url_canonicalize",
            "every keeper id exists in documents; groups are real dups",
            bad_keeper == 0 and urls.filter("n_dups < 2").count() == 0,
            f"{bad_keeper} dangling keepers",
        )
    )

    sess = E.ev_sessionize(spark, sf_dir)
    n_events = E._events(spark, sf_dir).count()
    got_events = sess.agg(F.sum("n_events")).head()[0]
    rep.add(
        CheckResult(
            "ev_sessionize",
            "session conservation: every event in exactly one session",
            got_events == n_events,
            f"{got_events} / {n_events} events",
        )
    )

    # r4d gates: the quality-evaluation reports become ENFORCEMENT — a
    # band-geometry or cell-count change that silently tanks index
    # quality now fails the pipeline instead of shipping a bad corpus.
    from data_pipeline_4_online_retail_spark.operators import similarity as S

    lsh = D.dedup_lsh_recall_report(spark, sf_dir).head()
    rep.add(
        CheckResult(
            "dedup_lsh_recall_report",
            "LSH recall >= 0.9 against exact Jaccard truth",
            lsh.lsh_recall >= 0.9,
            f"recall {lsh.lsh_recall:.3f} ({lsh.n_hits}/{lsh.n_true})",
        )
    )
    ann = S.sim_ann_recall_report(spark, sf_dir)
    worst = ann.agg(F.min("recall_at_k"), F.max("scan_fraction")).head()
    rep.add(
        CheckResult(
            "sim_ann_recall_report",
            "IVF pruning actually prunes (scan fraction < 0.5 per query)",
            worst[1] < 0.5,
            f"min recall {worst[0]:.2f}, max scan fraction {worst[1]:.3f}",
        )
    )
    return rep
