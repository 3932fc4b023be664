"""Run the complete reference dashboard workload (32 queries) against
the corpus-ingested DMARC tables, then VALUE-oracle every panel against
DuckDB: the five ingested tables are written to parquet, the panel's
Spark SQL (with exact distinct) runs against the views, the mechanical
DuckDB re-dialect of the same string runs against the parquet, and the
two frames must match cell-for-cell. A wrong CASE bucket, window
predicate, or dialect mapping in any panel string fails here."""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from parsedmarc_go_spark.plans.dashboards import (
    DASHBOARD_QUERIES,
    VIEW_NAMES,
    dashboard_oracle_sql,
    dashboard_sql,
    register_views,
    run_dashboard_query,
)
from tests.conftest import codegen_compiles

SAMPLES = "/root/reference/samples"

# anchor inside the corpus' date spread: newest aggregate sample dates
# are 2024-06; forensic arrival dates cluster in 2019; the newest TLS
# report is 2024-09-03. TLS failures filter on created_at (ingest
# time), which since r7 is PINNED via the injected ingest clock — so
# every anchor in the suite is a constant.
INGEST_AS_OF = "2024-09-01 00:00:00"
AS_OF_AGG = "2024-06-14 00:00:00"
AS_OF_FORENSIC = "2019-05-01 00:00:00"
AS_OF_TLS = "2024-09-04 00:00:00"


def _as_of(name: str) -> str:
    if name.startswith("forensic"):
        return AS_OF_FORENSIC
    if name in ("tls_success_rate_by_org", "tls_failure_types"):
        return AS_OF_TLS
    return AS_OF_AGG


@pytest.fixture(scope="module")
def views(spark):
    from parsedmarc_go_spark.sources.ingest import ingest

    if not os.path.isdir(SAMPLES):
        pytest.skip("reference sample corpus not available")
    res = ingest(spark, SAMPLES, as_of=INGEST_AS_OF)
    register_views(
        spark,
        {
            "dmarc_aggregate_reports": res.aggregate_reports,
            "dmarc_aggregate_records": res.aggregate_records,
            "dmarc_forensic_reports": res.forensic_reports,
            "dmarc_smtp_tls_reports": res.smtp_tls_reports,
            "dmarc_smtp_tls_failures": res.smtp_tls_failures,
        },
    )
    return spark


@pytest.mark.parametrize("name", sorted(DASHBOARD_QUERIES))
def test_dashboard_query_runs(views, name):
    df = run_dashboard_query(views, name, as_of=_as_of(name))
    rows = df.collect()  # must execute without error
    assert df.columns, name
    # rate panels must stay in [0, 100]
    for col in df.columns:
        if "rate" in col:
            for r in rows:
                v = r[col]
                assert v is None or 0 <= v <= 100, f"{name}.{col} = {v}"


def test_compliance_panel_value(views):
    df = run_dashboard_query(views, "overview_compliance_rate_7d", as_of=AS_OF_AGG)
    [row] = df.collect()
    assert row.compliance_rate is not None and 0 <= row.compliance_rate <= 100


def test_domain_analysis_joins(views):
    rows = run_dashboard_query(views, "docs_domain_analysis", as_of=AS_OF_AGG).collect()
    assert rows, "domain analysis returned no rows in the 30-day window"
    domains = {r.domain for r in rows}
    assert "example.com" in domains


def test_forensic_panels_have_data(views):
    rows = run_dashboard_query(views, "forensic_feedback_types", as_of=AS_OF_FORENSIC).collect()
    assert rows and rows[0].feedback_type == "auth-failure"


def test_tls_panels_have_data(views):
    rows = run_dashboard_query(views, "tls_success_rate_by_org", as_of=AS_OF_TLS).collect()
    assert rows and all(r.success_rate is None or 0 <= r.success_rate <= 100 for r in rows)
    rows = run_dashboard_query(
        views, "tls_failure_types", as_of=_as_of("tls_failure_types")
    ).collect()
    assert rows and {r.result_type for r in rows} >= {"certificate-expired"}


# ---------------------------------------------------------------- oracle pass


@pytest.fixture(scope="module")
def duck_parquet(views, tmp_path_factory):
    """The five registered DMARC views written to parquet so DuckDB
    reads the EXACT rows Spark queries — one shared landing per module."""
    base = tmp_path_factory.mktemp("dmarc_oracle")
    paths = {}
    for name in VIEW_NAMES:
        out = str(base / name)
        views.table(name).write.mode("overwrite").parquet(out)
        paths[name] = out
    return paths


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _norm_cell(v):
    """One comparison domain for both engines: ndarray/list → tuple,
    date/Timestamp → naive datetime, numpy scalar → Python scalar."""
    if isinstance(v, np.ndarray):
        return tuple(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v
    if isinstance(v, datetime.date):
        # Spark date_trunc returns TIMESTAMP, DuckDB returns DATE —
        # same instant either way
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, np.generic):
        return v.item()
    return v


def _canon_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in out.columns:
        out[c] = [_norm_cell(v) for v in out[c]]
    if len(out):
        out = out.sort_values(
            by=list(out.columns),
            key=lambda s: s.map(lambda v: (_is_null(v), str(v))),
            ignore_index=True,
        )
    return out


@pytest.mark.parametrize("name", sorted(DASHBOARD_QUERIES))
def test_dashboard_panel_matches_duckdb(views, duck_parquet, name):
    as_of = _as_of(name)
    sdf = views.sql(dashboard_sql(name, as_of, exact_distinct=True))
    con = duckdb.connect()
    for t, p in duck_parquet.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
    odf = con.execute(dashboard_oracle_sql(name, as_of)).fetchdf()
    s, o = _canon_frame(sdf.toPandas()), _canon_frame(odf)
    assert list(s.columns) == list(o.columns), (list(s.columns), list(o.columns))
    assert len(s) == len(o), f"{name}: spark {len(s)} rows, duckdb {len(o)}"
    for c in s.columns:
        for i, (a, b) in enumerate(zip(s[c], o[c])):
            if _is_null(a) and _is_null(b):
                continue
            assert a == b, f"{name}.{c} row {i}: spark={a!r} duckdb={b!r}"


def test_collect_set_all_null_group_matches_duckdb_redialect(spark):
    """ADVICE r6: for an all-NULL group Spark's sort_array(collect_set(x))
    yields [], while DuckDB's filtered list aggregate yields NULL — the
    re-dialect wraps the DuckDB side in COALESCE(..., []) so both engines
    agree on the empty list. Pinned directly on a literal all-NULL group."""
    s_val = spark.sql(
        "SELECT sort_array(collect_set(x)) AS v FROM VALUES (CAST(NULL AS STRING)), (NULL) t(x)"
    ).first()["v"]
    d_val = duckdb.connect().execute(
        "SELECT COALESCE(list_sort(list(DISTINCT x) FILTER (WHERE x IS NOT NULL)), []) "
        "FROM (VALUES (CAST(NULL AS VARCHAR)), (NULL)) t(x)"
    ).fetchone()[0]
    assert s_val == [] and list(d_val) == []


def test_oracle_redialect_asserts_when_rewrite_misses():
    """The re-dialect regexes tolerate one nesting level; a deeper call
    must trip the rewrite-fired assertion loudly instead of shipping
    un-rewritten Spark SQL to DuckDB (ADVICE r6)."""
    from parsedmarc_go_spark.plans import dashboards

    deep = "SELECT to_date(coalesce(a, b(c))) FROM t"
    dashboards.DASHBOARD_QUERIES["__deep_nesting_probe"] = deep
    try:
        with pytest.raises(AssertionError, match="survived the DuckDB re-dialect"):
            dashboards.dashboard_oracle_sql("__deep_nesting_probe", "2024-01-01 00:00:00")
    finally:
        del dashboards.DASHBOARD_QUERIES["__deep_nesting_probe"]


# ------------------------------------------------------- compile-once guard
# Last in the module: it registers the payload tables under the view
# names the corpus tests above query.

# six days after the payload report's date range, inside every window
PAYLOAD_AS_OF = "2023-11-20 00:00:00"


@pytest.fixture(scope="module")
def payload_views(spark, payload_dir, tmp_path_factory):
    """The five tables ingested from the in-repo payloads, stored as
    parquet and registered as the panels' views."""
    from parsedmarc_go_spark.sources.ingest import ingest

    res = ingest(spark, payload_dir, as_of=INGEST_AS_OF)
    base = tmp_path_factory.mktemp("payload_views")
    tables = {}
    for name in VIEW_NAMES:
        path = str(base / name)
        getattr(res, name.removeprefix("dmarc_")).write.parquet(path)
        tables[name] = spark.read.parquet(path)
    register_views(spark, tables)
    return spark


def test_warm_refresh_compiles_nothing(payload_views):
    """A second refresh of every panel compiles no class: the session's
    codegen cache holds a whole refresh. With Spark's default of 100
    entries, each refresh evicted its classes before they came round
    again and compiled them all anew (about 150 a pass on these tables)."""

    def refresh():
        for name in DASHBOARD_QUERIES:
            run_dashboard_query(payload_views, name, as_of=PAYLOAD_AS_OF).collect()

    refresh()
    before = codegen_compiles(payload_views)
    refresh()
    assert codegen_compiles(payload_views) - before == 0
