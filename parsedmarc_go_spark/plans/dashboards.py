"""The reference's complete dashboard workload as Spark SQL over the
ingested DMARC tables — a user of the reference can point their panels
here and run every query they run today.

Sources (semantics, not text): the Grafana dashboard JSON
(`grafana/clickhouse/dashboard-dmarc-overview.json` panels 1-8,
`dashboard-dmarc-forensic.json` panels 1-10) and the documented query
library (`docs/grafana.md:170-420`, `docs/clickhouse.md:560-596`).
Dialect mapping ClickHouse → Spark SQL:

    toDate(x)            → to_date(x)
    toStartOfWeek(x)     → date_trunc('week', x)
    sumIf(v, cond)       → sum(CASE WHEN cond THEN v ELSE 0 END)
    countIf(cond)        → sum(CASE WHEN cond THEN 1 ELSE 0 END)
    uniq(x)              → approx_count_distinct(x)   (both are estimates)
    groupArray(DISTINCT) → sort_array(collect_set(x))
    multiIf(...)         → CASE WHEN ... END
    now() / today()      → an injected {as_of} anchor (testable; defaults
                           to current_timestamp at call time)
    dmarc_aligned = 1    → dmarc_aligned (BooleanType here)

Every query takes the relative-time anchor via ``{as_of}`` so results
are reproducible (SURVEY §7 hard part 5). Panels that rank with a
LIMIT carry a deterministic tiebreak key (the group-by identity) after
the ranking column, so two engines — or two runs — agree on which rows
cross the cutoff; ClickHouse panels without one are non-deterministic
under ties, which is a bug the dashboards inherit silently.

Round-6: every panel string is value-oracled against DuckDB.
``dashboard_oracle_sql`` mechanically re-dialects the SAME string
(to_date → CAST AS DATE, collect_set → list() FILTER, approx → exact
distinct on BOTH engines), so a wrong CASE bucket or window predicate
in any panel fails tests/test_dashboards.py instead of running green.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

VIEW_NAMES = (
    "dmarc_aggregate_reports",
    "dmarc_aggregate_records",
    "dmarc_forensic_reports",
    "dmarc_smtp_tls_reports",
    "dmarc_smtp_tls_failures",
)


def register_views(spark: SparkSession, tables: dict[str, DataFrame]) -> None:
    """Register the five flat tables as SQL views (the ClickHouse table
    names, so the reference's queries port verbatim-modulo-dialect)."""
    for name in VIEW_NAMES:
        if name in tables:
            tables[name].createOrReplaceTempView(name)


DASHBOARD_QUERIES: dict[str, str] = {
    # ---- overview dashboard (dashboard-dmarc-overview.json) ----
    "overview_daily_volume": """
        SELECT to_date(begin_date) AS date, sum(count) AS total_messages
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 30 DAY
        GROUP BY date ORDER BY date""",
    "overview_total_messages_7d": """
        SELECT sum(count) AS total FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY""",
    "overview_compliance_rate_7d": """
        SELECT round(sum(CASE WHEN dmarc_aligned THEN count ELSE 0 END) * 100.0
                     / sum(count), 2) AS compliance_rate
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY""",
    "overview_alignment_status": """
        SELECT CASE WHEN dmarc_aligned THEN 'Pass' ELSE 'Fail' END AS status,
               sum(count) AS messages
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY status ORDER BY messages DESC""",
    "overview_policy_actions": """
        SELECT disposition, sum(count) AS messages
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY disposition ORDER BY messages DESC""",
    "overview_top_countries": """
        SELECT source_country, sum(count) AS messages
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY
          AND source_country != 'Unknown'
        GROUP BY source_country ORDER BY messages DESC, source_country LIMIT 10""",
    "overview_top_orgs": """
        SELECT org_name AS organization, sum(count) AS messages,
               round(sum(CASE WHEN dmarc_aligned THEN count ELSE 0 END) * 100.0
                     / sum(count), 2) AS compliance_rate
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY org_name ORDER BY messages DESC, organization LIMIT 20""",
    "overview_top_ips_over_100": """
        SELECT source_ip_address AS source_ip, source_reverse_dns, source_country,
               sum(count) AS messages,
               round(sum(CASE WHEN dmarc_aligned THEN count ELSE 0 END) * 100.0
                     / sum(count), 2) AS dmarc_pass_rate
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY source_ip_address, source_reverse_dns, source_country
        HAVING messages > 100
        ORDER BY messages DESC, source_ip LIMIT 50""",
    # ---- forensic dashboard (dashboard-dmarc-forensic.json) ----
    "forensic_total_7d": """
        SELECT count(*) AS total FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY""",
    "forensic_today": """
        SELECT count(*) AS total FROM dmarc_forensic_reports
        WHERE to_date(arrival_date) >= to_date(timestamp'{as_of}')""",
    "forensic_unique_domains": """
        SELECT approx_count_distinct(reported_domain) AS unique_domains
        FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY""",
    "forensic_unique_ips": """
        SELECT approx_count_distinct(source_ip_address) AS unique_ips
        FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY""",
    "forensic_daily": """
        SELECT to_date(arrival_date) AS date, count(*) AS reports
        FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 30 DAY
        GROUP BY date ORDER BY date""",
    "forensic_feedback_types": """
        SELECT feedback_type, count(*) AS reports FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY feedback_type ORDER BY reports DESC""",
    "forensic_delivery_results": """
        SELECT delivery_result, count(*) AS reports FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY delivery_result ORDER BY reports DESC""",
    "forensic_top_countries": """
        SELECT source_country, count(*) AS reports FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY
          AND source_country != 'Unknown'
        GROUP BY source_country ORDER BY reports DESC, source_country LIMIT 10""",
    "forensic_top_domains": """
        SELECT reported_domain, count(*) AS report_count,
               approx_count_distinct(source_ip_address) AS unique_ips,
               sort_array(collect_set(auth_failure)) AS auth_failures
        FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY reported_domain ORDER BY report_count DESC, reported_domain LIMIT 20""",
    "forensic_top_ips": """
        SELECT source_ip_address AS source_ip, source_reverse_dns, source_country,
               count(*) AS report_count,
               approx_count_distinct(reported_domain) AS unique_domains,
               max(arrival_date) AS last_seen
        FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY source_ip_address, source_reverse_dns, source_country
        ORDER BY report_count DESC, source_ip LIMIT 50""",
    # ---- documented query library (docs/grafana.md:170-420) ----
    "docs_compliance_trend_30d": """
        SELECT to_date(begin_date) AS date,
               round(sum(CASE WHEN dmarc_aligned THEN count ELSE 0 END) * 100.0
                     / sum(count), 2) AS compliance_rate
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 30 DAY
        GROUP BY date ORDER BY date""",
    "docs_volume_by_disposition": """
        SELECT to_date(begin_date) AS date, disposition, sum(count) AS messages
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 30 DAY
        GROUP BY date, disposition ORDER BY date""",
    "docs_top_failing_ips": """
        SELECT source_ip_address, source_country, sum(count) AS failed_messages
        FROM dmarc_aggregate_records
        WHERE NOT dmarc_aligned
          AND begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY source_ip_address, source_country
        ORDER BY failed_messages DESC, source_ip_address LIMIT 20""",
    "docs_geo_distribution": """
        SELECT source_country, sum(count) AS message_count,
               round(sum(CASE WHEN dmarc_aligned THEN count ELSE 0 END) * 100.0
                     / sum(count), 2) AS compliance_rate
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY
          AND source_country != 'Unknown'
        GROUP BY source_country ORDER BY message_count DESC""",
    "docs_domain_analysis": """
        SELECT ar.domain, sum(r.count) AS total_messages,
               round(sum(CASE WHEN r.dmarc_aligned THEN r.count ELSE 0 END) * 100.0
                     / sum(r.count), 2) AS compliance_rate,
               approx_count_distinct(r.source_ip_address) AS unique_sources
        FROM dmarc_aggregate_records r
        JOIN dmarc_aggregate_reports ar ON r.report_id = ar.report_id
        WHERE r.begin_date >= timestamp'{as_of}' - INTERVAL 30 DAY
        GROUP BY ar.domain ORDER BY total_messages DESC""",
    "docs_auth_failures_multiif": """
        SELECT to_date(begin_date) AS date,
               CASE WHEN NOT dkim_aligned AND NOT spf_aligned THEN 'Both Failed'
                    WHEN NOT dkim_aligned THEN 'DKIM Failed'
                    WHEN NOT spf_aligned THEN 'SPF Failed'
                    ELSE 'All Passed' END AS auth_status,
               sum(count) AS messages
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 30 DAY
        GROUP BY date, auth_status ORDER BY date, auth_status""",
    "docs_forensic_summary": """
        SELECT to_date(arrival_date) AS date, reported_domain,
               count(*) AS report_count,
               sort_array(collect_set(delivery_result)) AS delivery_results
        FROM dmarc_forensic_reports
        WHERE arrival_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY date, reported_domain ORDER BY date DESC, report_count DESC""",
    "docs_weekly_compliance": """
        SELECT date_trunc('week', begin_date) AS week,
               round(sum(CASE WHEN dmarc_aligned THEN count ELSE 0 END) * 100.0
                     / sum(count), 2) AS compliance_rate,
               sum(count) AS total_messages
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 12 WEEK
        GROUP BY week ORDER BY week""",
    "docs_ip_reputation": """
        SELECT source_ip_address, source_reverse_dns, source_country,
               sum(count) AS total_messages,
               round(sum(CASE WHEN dmarc_aligned THEN count ELSE 0 END) * 100.0
                     / sum(count), 2) AS compliance_rate,
               approx_count_distinct(header_from) AS unique_domains
        FROM dmarc_aggregate_records
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 30 DAY
        GROUP BY source_ip_address, source_reverse_dns, source_country
        HAVING total_messages > 100
        ORDER BY compliance_rate ASC, total_messages DESC""",
    "docs_policy_effectiveness": """
        SELECT ar.domain, ar.p AS policy,
               sum(r.count) AS total_messages,
               sum(CASE WHEN r.disposition IN ('reject', 'quarantine')
                        THEN r.count ELSE 0 END) AS enforced_messages
        FROM dmarc_aggregate_records r
        JOIN dmarc_aggregate_reports ar ON r.report_id = ar.report_id
        WHERE r.begin_date >= timestamp'{as_of}' - INTERVAL 30 DAY
        GROUP BY ar.domain, ar.p ORDER BY total_messages DESC""",
    # ---- SMTP-TLS panels (docs/clickhouse.md:383-407) ----
    # no division guard needed in the reference's CH dialect (x/0 → inf);
    # Spark ANSI mode and DuckDB both error, so the zero-session case is
    # an explicit NULL in BOTH dialects
    "tls_success_rate_by_org": """
        SELECT organization_name, policy_domain,
               successful_session_count, failed_session_count,
               round(CASE WHEN successful_session_count + failed_session_count = 0
                          THEN NULL
                          ELSE successful_session_count * 100.0
                               / (successful_session_count + failed_session_count)
                     END, 2) AS success_rate
        FROM dmarc_smtp_tls_reports
        WHERE begin_date >= timestamp'{as_of}' - INTERVAL 7 DAY
        ORDER BY success_rate ASC NULLS FIRST, organization_name, policy_domain,
                 successful_session_count, failed_session_count LIMIT 10""",
    "tls_failure_types": """
        SELECT result_type, count(*) AS failure_count,
               sum(failed_session_count) AS total_failed_sessions
        FROM dmarc_smtp_tls_failures
        WHERE created_at >= timestamp'{as_of}' - INTERVAL 7 DAY
        GROUP BY result_type ORDER BY total_failed_sessions DESC, result_type""",
    # ---- ops / health checks (docs/clickhouse.md:560-596) ----
    "ops_last_ingest": """
        SELECT max(begin_date) AS last_report FROM dmarc_aggregate_records""",
    "ops_duplicate_check": """
        SELECT report_id, count(*) AS n FROM dmarc_aggregate_records
        GROUP BY report_id HAVING n > 1000""",
}


# approx_count_distinct is an estimator on BOTH engines, with different
# sketches — value-comparison is only meaningful with both sides exact.
# The estimator itself is bound-tested once (tests/test_plans.py HLL
# gate); the oracle pass swaps exact COUNT(DISTINCT …) into both
# dialects so the REST of each panel string is checked to the value.
#
# Nesting limit: each regex tolerates at most ONE level of nested
# parentheses inside the rewritten call (enough for every current
# panel). A deeper future panel — e.g. to_date(coalesce(a, b(c))) —
# would NOT be rewritten; dashboard_oracle_sql asserts the rewrite
# fired whenever the function name appears, so that failure is an
# immediate AssertionError here, not a confusing DuckDB parse error
# downstream.
_APPROX_DISTINCT = re.compile(r"approx_count_distinct\(([^()]+)\)")
_TO_DATE = re.compile(r"to_date\(([^()]+(?:\([^()]*\))?[^()]*)\)")
_SORT_COLLECT_SET = re.compile(r"sort_array\(collect_set\(([^()]+)\)\)")


def dashboard_sql(name: str, as_of: str, exact_distinct: bool = False) -> str:
    """The panel's Spark SQL with the time anchor bound; with
    ``exact_distinct`` the approx sketch becomes COUNT(DISTINCT …) for
    engine-vs-engine value comparison."""
    sql = DASHBOARD_QUERIES[name].format(as_of=as_of)
    if exact_distinct:
        sql = _APPROX_DISTINCT.sub(r"count(DISTINCT \1)", sql)
    return sql


def dashboard_oracle_sql(name: str, as_of: str) -> str:
    """DuckDB re-dialect of the panel — a MECHANICAL rewrite of the same
    string (not a second hand-written query, which could share a bug's
    mirror image or drift):

        to_date(x)              → CAST(x AS DATE)
        sort_array(collect_set) → COALESCE(list_sort(list(DISTINCT x)
                                    FILTER (WHERE x IS NOT NULL)), [])
                                  (Spark's collect_set drops NULLs and
                                  yields [] for an all-NULL group, while
                                  DuckDB's filtered list aggregate yields
                                  NULL there — COALESCE pins both engines
                                  to the empty list; list_distinct is
                                  unimplemented for VARCHAR[] in DuckDB,
                                  DISTINCT-in-agg is the portable spelling)
        approx_count_distinct   → count(DISTINCT x)  [both sides]

    Everything else (CASE buckets, interval windows, HAVING aliases,
    round(x,2), date_trunc('week')) parses identically in DuckDB.
    Asserts each rewrite actually fired (the regexes tolerate one level
    of nested parens — see the pattern comment above)."""
    sql = dashboard_sql(name, as_of, exact_distinct=True)
    sql = _TO_DATE.sub(r"CAST(\1 AS DATE)", sql)
    sql = _SORT_COLLECT_SET.sub(
        r"COALESCE(list_sort(list(DISTINCT \1) FILTER (WHERE \1 IS NOT NULL)), [])", sql
    )
    for fn in ("to_date(", "sort_array(", "approx_count_distinct("):
        assert fn not in sql, (
            f"dashboard {name!r}: {fn}…) survived the DuckDB re-dialect — "
            "the call nests deeper than the rewrite regex tolerates"
        )
    return sql


def run_dashboard_query(
    spark: SparkSession,
    name: str,
    as_of: str | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One panel as a DataFrame, its relative-time windows anchored at
    ``as_of`` ('yyyy-MM-dd HH:mm:ss'), or at the wall clock when None.

    A refresh at a fixed anchor reuses every class the session's
    codegen cache holds (see session.py), so a warm pass compiles
    nothing. A live clock moves the anchor each refresh, and the anchor
    is a timestamp literal that the generated code inlines. In a probe
    with a moving anchor over the benchmark warehouse, 56 of the about
    220 classes of a pass still compiled on every pass; they belong to
    the filters that carry the anchor."""
    anchor = as_of or spark.sql("SELECT date_format(current_timestamp(), 'yyyy-MM-dd HH:mm:ss')").first()[0]
    return spark.sql(dashboard_sql(name, anchor, exact_distinct=exact_distinct))
