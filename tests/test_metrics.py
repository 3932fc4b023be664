"""Metrics layer (metrics.go:24-179 parity): counts must equal the
accept/reject matrix of test_ingest_samples; histogram, observation
hook, and the Prometheus textfile render."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parsedmarc_go_spark.metrics import (
    SIZE_BUCKETS,
    ingest_counters,
    ingest_metrics,
    observed_ingest,
    query_progress_metrics,
    render_prometheus_text,
    size_histogram,
    to_prometheus_textfile,
)

SAMPLES = "/root/reference/samples"

needs_samples = pytest.mark.skipif(
    not os.path.isdir(SAMPLES), reason="reference sample corpus not available"
)


@pytest.fixture(scope="module")
def res(spark):
    from parsedmarc_go_spark.sources.ingest import ingest

    return ingest(spark, SAMPLES)


def _value(rows, name, **labels):
    want = {f'{k}="{v}"' for k, v in labels.items()}
    out = [
        r.value
        for r in rows
        if r.name == name and want <= set((r.labels or "").split(","))
    ]
    assert out, f"no metric {name} with {labels}"
    return sum(out)


@needs_samples
def test_parse_counters_match_accept_matrix(spark, res):
    rows = ingest_metrics(res).collect()
    # the exact accept matrix from test_ingest_samples: 19 aggregate
    # (counting per parsed report row), 4 forensic, tls reports rows
    assert _value(rows, "parsedmarc_parser_reports_total", type="aggregate") == float(
        res.aggregate_reports.count()
    )
    assert _value(rows, "parsedmarc_parser_reports_total", type="forensic") == 4.0
    assert _value(rows, "parsedmarc_parser_reports_total", type="smtp_tls") == float(
        res.smtp_tls_reports.count()
    )
    # failures sum to the rejects quarantine, labeled by reason
    fail_total = sum(
        r.value for r in rows if r.name == "parsedmarc_parser_failures_total"
    )
    assert fail_total == float(res.rejects.count())
    reasons = {
        lbl
        for r in rows
        if r.name == "parsedmarc_parser_failures_total"
        for lbl in (r.labels or "").split(",")
        if lbl.startswith("reason=")
    }
    assert reasons, "failures must carry reason labels"


@needs_samples
def test_size_histogram_is_cumulative(spark):
    from parsedmarc_go_spark.sources.ingest import read_report_files

    files = read_report_files(spark, SAMPLES)
    rows = size_histogram(files).collect()
    buckets = [
        _value(rows, "parsedmarc_parser_report_size_bytes_bucket", le=str(b))
        for b in SIZE_BUCKETS
    ]
    assert buckets == sorted(buckets), "histogram buckets must be cumulative"
    inf = _value(rows, "parsedmarc_parser_report_size_bytes_bucket", le="+Inf")
    assert inf == float(files.count())
    count = [r.value for r in rows if r.name == "parsedmarc_parser_report_size_bytes_count"][0]
    assert count == inf


@needs_samples
def test_observation_hook_no_extra_pass(spark):
    from parsedmarc_go_spark.sources.ingest import read_report_files

    files = read_report_files(spark, os.path.join(SAMPLES, "forensic"))
    observed, obs = observed_ingest(files)
    n = observed.count()  # the ONE action; observation rides along
    got = obs.get
    assert got["files"] == n == 4
    assert got["bytes"] > 0 and got["oversized"] == 0


@needs_samples
def test_prometheus_textfile_render(spark, res, tmp_path):
    path = str(tmp_path / "parsedmarc.prom")
    to_prometheus_textfile([ingest_metrics(res)], path)
    text = open(path, encoding="utf-8").read()
    assert "# TYPE parsedmarc_parser_reports_total counter" in text
    assert 'parsedmarc_parser_reports_total{type="forensic",source="file"} 4' in text
    assert "# EOF" in text


def test_render_prometheus_text_histogram_type_on_base_name():
    # exposition format requires `# TYPE <base> histogram` — never on the
    # _bucket series name (round-4 advice)
    text = render_prometheus_text(
        {
            ("x_seconds_bucket", 'le="1"'): 2.0,
            ("x_seconds_bucket", 'le="+Inf"'): 3.0,
            ("y_total", ""): 1.0,
        }
    )
    assert "# TYPE x_seconds histogram" in text
    assert "# TYPE x_seconds_bucket" not in text
    assert "# TYPE y_total counter" in text
    assert 'x_seconds_bucket{le="1"} 2' in text


def test_query_progress_metrics(spark):
    progress = {"durationMs": {"triggerExecution": 1500, "addBatch": 900}, "numInputRows": 7}
    rows = query_progress_metrics(spark, progress).collect()
    assert _value(rows, "parsedmarc_stream_batch_duration_seconds", phase="addBatch") == 0.9
    assert _value(rows, "parsedmarc_stream_input_rows_total") == 7.0
    assert query_progress_metrics(spark, None).count() == 0


def test_size_histogram_renders_as_one_family(spark, tmp_path):
    """Real size_histogram rows through the textfile publisher: the
    _bucket, _sum and _count samples form ONE histogram family with
    exactly one TYPE line, and the file lands by rename (no .tmp left)."""
    files = spark.createDataFrame(
        [("a", 900), ("b", 5000), ("c", 70000)], "path string, length long"
    )
    path = str(tmp_path / "size.prom")
    to_prometheus_textfile([size_histogram(files)], path)
    text = open(path, encoding="utf-8").read()
    family = "parsedmarc_parser_report_size_bytes"
    types = [ln for ln in text.splitlines() if ln.startswith(f"# TYPE {family}")]
    assert types == [f"# TYPE {family} histogram"], text
    assert f"{family}_count 3" in text and f"{family}_sum 75900" in text
    buckets = [ln for ln in text.splitlines() if ln.startswith(f"{family}_bucket")]
    assert buckets[0].startswith(f'{family}_bucket{{le="1024"}}')
    assert buckets[-1] == f'{family}_bucket{{le="+Inf"}} 3'
    assert os.listdir(tmp_path) == ["size.prom"]


def test_failure_reason_is_label_escaped(spark):
    """Reject reasons are free-form exception text: one with a quote
    and a newline must render as ONE valid sample line, from both the
    metric-row frame and the counter dict the daemon publishes."""
    import re

    from parsedmarc_go_spark.sources.ingest import IngestResult

    empty = spark.range(0)
    res = IngestResult(
        aggregate_reports=empty,
        aggregate_records=empty,
        forensic_reports=empty,
        smtp_tls_reports=empty,
        smtp_tls_failures=empty,
        rejects=spark.createDataFrame(
            [("p", "aggregate", 'bad "tag"\nat line 2')], "path string, kind string, error string"
        ),
    )
    counters = ingest_counters(res)
    rows = ingest_metrics(res).collect()
    assert {(r.name, r.labels): r.value for r in rows} == counters
    text = render_prometheus_text(counters)
    fails = [ln for ln in text.splitlines() if "failures_total" in ln and not ln.startswith("#")]
    sample = re.compile(
        r'^[a-z_]+\{[a-z_]+="(?:[^"\\\n]|\\.)*"(?:,[a-z_]+="(?:[^"\\\n]|\\.)*")*\} \d+$'
    )
    assert len(fails) == 1 and sample.match(fails[0]), text
    assert 'reason="bad \\"tag\\"\\nat line 2"' in fails[0]
