"""The benchmark's workloads. Each drives the program only through its
public functions, on inputs from ``gen``:

- ``backfill``: closed loop, one client. Batches of report files go
  through ``sources.ingest.ingest`` → ``functions.enrich`` →
  ``storage.write_partitioned`` for the five tables.
- ``dashboards``: closed loop, one client. Repeated sweeps over every
  panel of ``plans.dashboards.DASHBOARD_QUERIES`` on a monthly-
  partitioned warehouse that setup writes with ``storage``.
- ``stream``: open loop. Files land at a fixed rate while
  ``streaming.daemon.stream_ingest`` commits them back to back and the
  main thread re-runs the overview panels against ``read_stream_table``.

Each returns a ``Result``: the per-operation samples the end-to-end
metrics come from, the outcome of its off-the-clock correctness check
and, when traced, the per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.trace import COMMON, Recorder

# write_partitioned's (ts_col, sort_cols, bloom_cols) for each table
LAYOUT = {
    "aggregate_reports": dict(ts_col="begin_date", sort_cols=("org_name", "report_id")),
    "aggregate_records": dict(ts_col="begin_date", sort_cols=("org_name", "report_id")),
    "forensic_reports": dict(
        ts_col="arrival_date", sort_cols=("reported_domain", "source_ip_address"),
        bloom_cols=("message_id",),
    ),
    "smtp_tls_reports": dict(ts_col="begin_date", sort_cols=("organization_name", "report_id")),
    "smtp_tls_failures": dict(ts_col="created_at", sort_cols=("report_id",)),
}
VIEW = {t: f"dmarc_{t}" for t in gen.TABLES}

BACKFILL_BATCH = 40  # report files per ingest call
BACKFILL_BATCHES = 12
WAREHOUSE_RECORDS = 200_000
STREAM_RATE = 1.5  # files landing per second
STREAM_DRAIN_S = 90.0
READ_EVERY_S = 4.0  # overview refresh interval during the stream

# every per-layer metric a traced run reports; a layer that does not
# run in a workload reports 0
LAYER_METRICS = {
    "sources.extract": ("files", "bytes_in", "python_exec_s", "udf_rows_per_file"),
    "sources.ingest": ("reports_out", "records_out", "rejects"),
    "functions.enrich": ("geo_hit_ratio", "sender_hit_ratio", "broadcast_bytes"),
    "storage": ("files_written", "bytes_written", "stored_bytes_per_input_byte"),
    "plans.dashboards": ("plan_s", "files_read", "bytes_read", "rows_scanned_per_row_out"),
    "streaming.daemon": ("batches", "files_per_batch", "land_lag_s", "table_files"),
}
TRACE_METRICS = ("overhead_s", "overhead_share")


def layer_unit(name: str) -> str:
    m = name.rsplit(".", 1)[1]
    if m.endswith("_s"):
        return "s"
    if "bytes" in m and "per" not in m:
        return "bytes"
    if m in ("util", "overhead_share") or "ratio" in m or "per" in m:
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYER_METRICS for m in COMMON]
    names += [f"{layer}.{m}" for layer, ms in LAYER_METRICS.items() for m in ms]
    return names + [f"trace.{m}" for m in TRACE_METRICS]


@dataclass
class Result:
    latency: list[float]  # the samples latency_p50_s and latency_tail_s are taken over
    throughput: float  # work items per second
    cpu_per_item: float  # CPU seconds per work item
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)  # the workload's own metrics
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)  # diagnostics for the summary


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    rec: Recorder
    cores: int
    t_start: float  # perf_counter() when the run started, before the session
    setup_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)  # phase -> seconds since t_start

    def mark(self, phase: str) -> None:
        self.phases[phase] = time.perf_counter() - self.t_start

    def setup_done(self) -> None:
        self.mark("setup")
        self.setup_s = self.phases["setup"]


def _more(ctx: "Ctx", t_begin: float, walls: list[float]) -> bool:
    """Closed-loop admission: start another operation only when the
    last one would still end inside the measured window. Traced runs
    alternate untraced and traced operations and make at least one of
    each."""
    if len(walls) < (2 if ctx.rec.enabled else 1):
        return True
    return time.perf_counter() - t_begin + walls[-1] <= ctx.seconds


def _warm(ctx: "Ctx", names: list[str]) -> None:
    """Run every panel once on ``ctx.cores`` threads: the first run of
    each pays code generation, which need not happen one at a time."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(ctx.cores) as pool:
        list(pool.map(lambda n: _panel(ctx, n, traced=False), names))


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file."""
    try:
        with open(stat_path, encoding="ascii", errors="replace") as fh:
            head, tail = fh.read().rsplit(")", 1)
    except OSError:  # ended while we looked
        return None
    return head.split("(", 1)[1], tail.split()


def descendants(pid: int) -> list[int]:
    """Every live process under ``pid`` (zombies left out), from /proc."""
    kids: dict[int, list[int]] = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        st = _ticks(f"/proc/{p}/stat")
        if st and st[1][0] != "Z":
            kids.setdefault(int(st[1][1]), []).append(int(p))
    out, todo = [], [pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it (the Spark JVM and its Python workers), from /proc, leaving out
    the JVM's JIT compiler threads: how much they compile inside a short
    window depends on timing, and they were most of the first pass's CPU.
    Unlike wall time it leaves out time the machine gave other tenants."""
    tick = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, float]] = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        st = _ticks(f"/proc/{p}/stat")
        if st:
            name, f = st
            kids.setdefault(int(f[1]), []).append(int(p))
            procs[int(p)] = (name, sum(int(x) for x in f[11:15]) / tick)  # utime stime cutime cstime
    total, todo = 0.0, [os.getpid()]
    while todo:
        p = todo.pop()
        name, used = procs.get(p, ("", 0.0))
        total += used
        if name == "java":
            try:
                threads = os.listdir(f"/proc/{p}/task")
            except OSError:  # the JVM ended while we looked
                threads = []
            for t in threads:
                st = _ticks(f"/proc/{p}/task/{t}/stat")
                if st and st[0].startswith(_JIT_THREADS):
                    total -= sum(int(x) for x in st[1][11:13]) / tick
        todo += kids.get(p, [])
    return total


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dims(ctx: Ctx, vocab: gen.Vocab, with_ptr: bool):
    """The enrichment context every workload ingests with: the
    GeoLite2-style CSV through ``geo_dim_from_csv``, the vendored sender
    map, and (for the batch path) the PTR dim. Left uncached, as
    ``build_enrichment`` leaves them."""
    from parsedmarc_go_spark.functions.enrich import EnrichmentContext
    from parsedmarc_go_spark.functions.enrichdims import geo_dim_from_csv, load_dns_map

    paths = gen.write_dims(vocab, os.path.join(ctx.work, "dims"))
    spark = ctx.spark
    geo = geo_dim_from_csv(spark, paths["geo_blocks"], paths["geo_locations"])
    ptr = None
    if with_ptr:
        ptr = spark.read.option("header", True).schema("ip string, hostname string").csv(paths["ptr"])
    return EnrichmentContext(geo_dim=geo, dns_map=load_dns_map(spark), offline=True), ptr


def _enrich(df, enrichment, ptr):
    from parsedmarc_go_spark.functions.enrich import apply_reverse_dns, enrich_records

    return enrich_records(apply_reverse_dns(df, ptr) if ptr is not None else df, enrichment)


# --- backfill ----------------------------------------------------------------

def _ingest_tables(spark, batch_dir: str, enrichment, ptr) -> dict:
    """The production composition: one ``ingest`` call, enrichment of
    the two tables that carry a source IP, the quarantine alongside."""
    from parsedmarc_go_spark.sources.ingest import ingest

    res = ingest(spark, batch_dir, as_of=gen.AS_OF)
    return {
        "aggregate_reports": res.aggregate_reports,
        "aggregate_records": _enrich(res.aggregate_records, enrichment, ptr),
        "forensic_reports": _enrich(res.forensic_reports, enrichment, ptr),
        "smtp_tls_reports": res.smtp_tls_reports,
        "smtp_tls_failures": res.smtp_tls_failures,
        "rejects": res.rejects,
    }


def _store(tables: dict, out: str) -> None:
    from parsedmarc_go_spark.storage import write_partitioned

    for name, df in tables.items():
        if name == "rejects":
            df.write.mode("append").parquet(os.path.join(out, name))
        else:
            write_partitioned(df, os.path.join(out, name), **LAYOUT[name])


def _backfill_traced(ctx: Ctx, batch_dir: str, out: str, enrichment, ptr, op: int) -> None:
    """One backfill operation with each layer's output materialized at
    its boundary, so every span's self time is that layer's own work."""
    from pyspark.sql import functions as F

    from parsedmarc_go_spark.sources.ingest import (
        extract_reports, parse_aggregate, parse_forensic, parse_smtp_tls, read_report_files,
    )

    rec = ctx.rec
    held = []

    def keep(df):
        df = df.cache()
        df.count()
        held.append(df)
        return df

    with rec.span("backfill.op", op=op):
        with rec.span("sources.extract"):
            ex = keep(extract_reports(read_report_files(ctx.spark, batch_dir)))
        with rec.span("sources.ingest"):
            reports, records, agg_bad = (keep(d) for d in parse_aggregate(ex, gen.AS_OF))
            forensic = keep(parse_forensic(ex, gen.AS_OF))
            tls, tls_fail, tls_bad = (keep(d) for d in parse_smtp_tls(ex, gen.AS_OF))
            hard = ex.filter(F.col("kind") == "error").select("path", F.lit("unknown").alias("kind"), "error")
            rejects = keep(hard.unionByName(agg_bad).unionByName(tls_bad))
        with rec.span("functions.enrich"):
            records = keep(_enrich(records, enrichment, ptr))
            forensic = keep(_enrich(forensic, enrichment, ptr))
        with rec.span("storage"):
            _store({"aggregate_reports": reports, "aggregate_records": records,
                    "forensic_reports": forensic, "smtp_tls_reports": tls,
                    "smtp_tls_failures": tls_fail, "rejects": rejects}, out)
    for df in held:
        df.unpersist()


def backfill(ctx: Ctx) -> Result:
    spark = ctx.spark
    vocab = gen.make_vocab(ctx.seed)
    enrichment, ptr = _dims(ctx, vocab, with_ptr=True)
    files = gen.make_corpus(ctx.seed, BACKFILL_BATCH * (BACKFILL_BATCHES + 1), vocab)
    batches = [files[i : i + BACKFILL_BATCH] for i in range(0, len(files), BACKFILL_BATCH)]
    dirs = []
    for i, b in enumerate(batches):
        d = os.path.join(ctx.work, "in", f"b{i:03d}")
        gen.write_files(b, d)
        dirs.append(d)
    out = _reset(os.path.join(ctx.work, "out"))
    # warm-up: the first call pays Python worker start and code generation
    _store(_ingest_tables(spark, dirs[-1], enrichment, ptr), _reset(os.path.join(ctx.work, "warm")))
    ctx.setup_done()

    op_s, traced_s, walls, done, attempted, failed, errors = [], [], [], [], 0, 0, []
    t_begin, cpu0 = time.perf_counter(), cpu_s()
    i = 0
    while i < len(dirs) - 1 and _more(ctx, t_begin, walls):
        attempted += 1
        traced = ctx.rec.enabled and i % 2 == 1
        t0 = time.perf_counter()
        try:
            if traced:
                _backfill_traced(ctx, dirs[i], out, enrichment, ptr, op=i)
            else:
                with ctx.rec.span("backfill.production", op=i):
                    _store(_ingest_tables(spark, dirs[i], enrichment, ptr), out)
        except Exception as e:  # an operation that raises counts as failed
            failed += 1
            errors.append(f"batch {i}: {e!r}"[:300])
        walls.append(time.perf_counter() - t0)
        (traced_s if traced else op_s).append(walls[-1])
        done.append(i)
        i += 1

    cpu = cpu_s() - cpu0
    ingested = [f for i in done for f in batches[i]]
    expect = gen.manifest(ingested)
    bad = _check_tables(out, expect, errors)
    res = Result(latency=op_s, throughput=BACKFILL_BATCH * len(op_s) / sum(op_s),
                 cpu_per_item=cpu / len(ingested), attempted=attempted,
                 failed=failed + (len(done) if bad else 0), errors=errors)
    stored = _dir_bytes(out)
    res.named = {
        "ingest_reports_per_s": (res.throughput, "reports/s"),
        "stored_bytes_per_input_byte": (stored / expect["bytes"], "ratio"),
    }
    if ctx.rec.enabled:
        res.layers = _ingest_layers(ctx, traced_s, op_s, expect, stored)
    return res


def _dir_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix))


def _check_tables(out: str, expect: dict, errors: list[str]) -> bool:
    """Compare the Parquet tables under ``out`` with the generator's
    manifest, reading them with DuckDB (an engine independent of the
    one under test). Returns True when anything differs, and says what
    in ``errors``."""
    import glob

    import duckdb

    con = duckdb.connect()

    def q(table: str, sql: str, empty):
        files = glob.glob(os.path.join(out, table, "**", "*.parquet"), recursive=True)
        if not files:
            return empty
        src = f"read_parquet({files!r}, hive_partitioning = true, union_by_name = true)"
        return con.execute(sql.format(src=src)).fetchall()

    got = {t: q(t, "SELECT count(*) FROM {src}", [(0,)])[0][0] for t in gen.TABLES}
    count_sum, geo, sender = q(
        "aggregate_records",
        "SELECT sum(count), count(*) FILTER (source_country <> 'Unknown'),"
        " count(*) FILTER (source_name <> 'Unknown') FROM {src}",
        [(None, 0, 0)],
    )[0]
    fr_geo = q("forensic_reports", "SELECT count(*) FILTER (source_country <> 'Unknown') FROM {src}", [(0,)])[0][0]
    got.update(count_sum=count_sum or 0, geo_hits=geo + fr_geo, sender_hits=sender)
    rej = q("rejects", "SELECT kind, error, count(*) FROM {src} GROUP BY ALL", [])
    got["rejects_by_reason"] = {f"{k}|{e}": n for k, e, n in rej}
    dups = q("aggregate_reports", "SELECT count(*) FROM (SELECT report_id FROM {src} GROUP BY 1 HAVING count(*) > 1)", [(0,)])[0][0]
    con.close()
    bad = False
    for k, v in got.items():
        if expect[k] != v:
            errors.append(f"{k}: expected {expect[k]!r}, stored {v!r}")
            bad = True
    if dups:
        errors.append(f"{dups} report_id stored more than once")
        bad = True
    return bad


def _ingest_layers(ctx: Ctx, traced_s, untraced_s, expect, stored) -> dict[str, float]:
    rec = ctx.rec
    ops = max(1, len(traced_s))
    out = _common(rec, ("sources.extract", "sources.ingest", "functions.enrich", "storage"), ops)
    ex = rec.nodes("sources.extract")
    prod = rec.nodes("backfill.production")
    n_prod = len([s for s in rec.spans if s.name == "backfill.production"])
    out["sources.extract.files"] = ex.get("Scan binaryFile.number of files read", 0.0) / ops
    out["sources.extract.bytes_in"] = ex.get("Scan binaryFile.size of files read", 0.0) / ops
    out["sources.extract.python_exec_s"] = ex.get("ArrowEvalPython.time to run Python workers", 0.0) / ops
    files_prod = BACKFILL_BATCH * max(1, n_prod)
    out["sources.extract.udf_rows_per_file"] = prod.get("ArrowEvalPython.number of output rows", 0.0) / files_prod
    _manifest_layers(out, expect, len(traced_s) + len(untraced_s))
    out["functions.enrich.broadcast_bytes"] = rec.nodes("functions.enrich").get("BroadcastExchange.data size", 0.0) / ops
    st = rec.nodes("storage")
    out["storage.files_written"] = st.get("Execute InsertIntoHadoopFsRelationCommand.number of written files", 0.0) / ops
    out["storage.bytes_written"] = st.get("Execute InsertIntoHadoopFsRelationCommand.written output", 0.0) / ops
    out["storage.stored_bytes_per_input_byte"] = stored / expect["bytes"]
    _overhead(out, traced_s, untraced_s)
    return out


def _manifest_layers(out: dict, expect: dict, ops: int) -> None:
    """Parse and enrichment outcomes per operation, from the manifest
    the stored tables were checked against."""
    ops = max(1, ops)
    out["sources.ingest.reports_out"] = (
        expect["aggregate_reports"] + expect["forensic_reports"] + expect["smtp_tls_reports"]) / ops
    out["sources.ingest.records_out"] = expect["aggregate_records"] / ops
    out["sources.ingest.rejects"] = expect["rejects"] / ops
    n_rec = max(1, expect["aggregate_records"])
    out["functions.enrich.geo_hit_ratio"] = expect["geo_hits"] / (n_rec + expect["forensic_reports"])
    out["functions.enrich.sender_hit_ratio"] = expect["sender_hits"] / n_rec


def _common(rec: Recorder, layers, ops: int) -> dict[str, float]:
    """The common counters of ``layers``, per operation (util as is)."""
    totals = rec.layer_totals()
    out = {}
    for layer in layers:
        t = totals.get(layer, {})
        for k in COMMON:
            out[f"{layer}.{k}"] = t.get(k, 0.0) if k == "util" else t.get(k, 0.0) / ops
    return out


def _overhead(out: dict, traced_s: list[float], untraced_s: list[float]) -> None:
    if traced_s and untraced_s:
        base = statistics.median(untraced_s)
        out["trace.overhead_s"] = statistics.median(traced_s) - base
        out["trace.overhead_share"] = out["trace.overhead_s"] / base


# --- dashboards --------------------------------------------------------------

def _register(spark, root: str, read) -> None:
    from parsedmarc_go_spark.plans.dashboards import register_views

    register_views(spark, {VIEW[t]: read(spark, os.path.join(root, t)) for t in gen.TABLES})


def _panel(ctx: Ctx, name: str, traced: bool, stats: dict | None = None) -> list:
    """Run one panel to completion; traced, record its planning time and
    scan counters."""
    from parsedmarc_go_spark.plans.dashboards import run_dashboard_query

    if not traced:
        return run_dashboard_query(ctx.spark, name, as_of=gen.AS_OF).collect()
    with ctx.rec.span("plans.dashboards"):
        t0 = time.perf_counter()
        df = run_dashboard_query(ctx.spark, name, as_of=gen.AS_OF)
        df._jdf.queryExecution().executedPlan()
        plan = time.perf_counter() - t0
        rows = df.collect()
    stats["plan_s"] = stats.get("plan_s", 0.0) + plan
    stats["rows_out"] = stats.get("rows_out", 0) + len(rows)
    return rows


def dashboards(ctx: Ctx) -> Result:
    from parsedmarc_go_spark.plans.dashboards import DASHBOARD_QUERIES
    from parsedmarc_go_spark.storage import read_table

    spark = ctx.spark
    ctx.mark("session")
    wh = _reset(os.path.join(ctx.work, "warehouse"))
    tables = gen.make_warehouse_tables(ctx.seed, WAREHOUSE_RECORDS, gen.make_vocab(ctx.seed))
    for t, table in tables.items():
        lay = LAYOUT[t]
        gen.write_months(table, os.path.join(wh, t), lay["ts_col"], lay["sort_cols"])
    ctx.mark("warehouse")
    names = list(DASHBOARD_QUERIES)
    _register(spark, wh, read_table)
    _warm(ctx, names)
    ctx.setup_done()

    # whole passes over every panel while they fit the window (a traced
    # run makes one untraced and one traced pass at least); each pass
    # re-registers the views, as a dashboard refresh re-lists files
    per: dict[str, list[float]] = {n: [] for n in names}
    traced_walls, attempted, failed, errors = [], 0, 0, []
    last: dict[str, list] = {}
    stats: dict = {}
    t_begin, passes, cpu = time.perf_counter(), [], 0.0
    k = 0
    while _more(ctx, t_begin, passes):
        traced = ctx.rec.enabled and k % 2 == 1
        t_pass, cpu0 = time.perf_counter(), cpu_s()
        with ctx.rec.span("dashboards.sweep", op=k):
            t0 = time.perf_counter()
            with ctx.rec.span("storage"):
                _register(spark, wh, read_table)
            reg = time.perf_counter() - t0
            for name in names:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    last[name] = _panel(ctx, name, traced, stats)
                except Exception as e:
                    failed += 1
                    errors.append(f"{name}: {e!r}"[:300])
                wall = time.perf_counter() - t0 + (reg if name == names[0] else 0.0)
                (traced_walls if traced else per[name]).append(wall)
        passes.append(time.perf_counter() - t_pass)
        if k == 0:
            # CPU of the first pass only: later passes cost less as the
            # JIT settles, and how many fit the window depends on speed
            cpu = cpu_s() - cpu0
        k += 1

    ctx.mark("measure")
    mismatched = _check_panels(spark, wh, names, last, errors)
    ctx.mark("check")
    typical = [statistics.median(v) for v in per.values() if v]  # one latency per panel
    res = Result(latency=typical, throughput=len(typical) / sum(typical),
                 cpu_per_item=cpu / len(names), attempted=attempted,
                 failed=failed + len(mismatched), errors=errors)
    res.named = {
        "dashboard_refresh_s": (sum(typical), "s"),
        "dashboard_panel_p50_s": (statistics.median(typical), "s"),
        "dashboard_panel_tail_s": (tail_percentile(typical)[1], "s"),
        "warehouse_rows": (float(sum(t.num_rows for t in tables.values())), "rows"),
    }
    if ctx.rec.enabled:
        res.layers = _read_layers(ctx, stats, traced_walls, [w for v in per.values() for w in v])
    return res


def _read_layers(ctx, stats, traced_s, untraced_s) -> dict[str, float]:
    ops = max(1, len(traced_s))  # per traced panel
    out = _common(ctx.rec, ("storage", "plans.dashboards"), ops)
    _scan_metrics(out, ctx.rec, stats, ops)
    _overhead(out, traced_s, untraced_s)
    return out


def _check_panels(spark, wh: str, names: list[str], last: dict, errors: list[str]) -> list[str]:
    """Every panel's rows against DuckDB running ``dashboard_oracle_sql``
    on the same Parquet. Panels with an approximate distinct are re-run
    exact on Spark first (the oracle is exact)."""
    import duckdb

    from parsedmarc_go_spark.plans.dashboards import dashboard_oracle_sql, dashboard_sql

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in gen.TABLES:
        con.execute(
            f"CREATE VIEW {VIEW[t]} AS SELECT * FROM read_parquet("
            f"'{os.path.join(wh, t)}/*/*.parquet', hive_partitioning = true)"
        )
    bad = []
    for name in names:
        sql = dashboard_sql(name, gen.AS_OF)
        if "approx_count_distinct" in sql:
            got = spark.sql(dashboard_sql(name, gen.AS_OF, exact_distinct=True)).collect()
        else:
            got = last.get(name)
        want = con.execute(dashboard_oracle_sql(name, gen.AS_OF)).fetchall()
        if got is None or _canon(got) != _canon(want):
            bad.append(name)
            errors.append(f"panel {name}: spark {len(got or [])} rows vs duckdb {len(want)}")
    con.close()
    return bad


def _cell(v):
    import datetime
    import decimal

    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (float, decimal.Decimal)):
        return round(float(v), 6)
    return v


def _canon(rows) -> list:
    return sorted((tuple(_cell(x) for x in r) for r in rows), key=repr)


# --- stream ------------------------------------------------------------------

def _stream_log(ckpt: str) -> tuple[dict[str, int], dict[int, tuple[float, float]]]:
    """From the checkpoint: file name → batch id, and batch id →
    (planned, committed) wall-clock times."""
    import json

    src = os.path.join(ckpt, "sources", "0")
    file_batch = {}
    for f in os.listdir(src) if os.path.isdir(src) else []:
        if f.startswith("."):
            continue
        with open(os.path.join(src, f), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    file_batch[os.path.basename(e["path"])] = e["batchId"]
    times = {}
    commits = os.path.join(ckpt, "commits")
    for f in os.listdir(commits) if os.path.isdir(commits) else []:
        if f.isdigit():
            b = int(f)
            times[b] = (
                os.path.getmtime(os.path.join(ckpt, "offsets", f)),
                os.path.getmtime(os.path.join(commits, f)),
            )
    return file_batch, times


def stream(ctx: Ctx) -> Result:
    from parsedmarc_go_spark.plans.dashboards import DASHBOARD_QUERIES, register_views
    from parsedmarc_go_spark.streaming.daemon import read_stream_table, stream_ingest

    spark = ctx.spark
    ctx.mark("session")
    vocab = gen.make_vocab(ctx.seed)
    enrichment, _ = _dims(ctx, vocab, with_ptr=False)
    warm_n = 12
    n = warm_n + int(STREAM_RATE * ctx.seconds) + 1
    files = gen.make_corpus(ctx.seed, n, vocab)
    land, out, ckpt = (_reset(os.path.join(ctx.work, d)) for d in ("land", "out", "ckpt"))
    staged = _reset(os.path.join(ctx.work, "staged"))
    gen.write_files(files, staged)
    q = stream_ingest(spark, land, out, ckpt, trigger_seconds=None, enrichment=enrichment, as_of=gen.AS_OF)
    group = str(q.runId)

    def land_file(f: gen.CorpusFile) -> None:
        os.rename(os.path.join(staged, f.name), os.path.join(land, f.name))

    def wait_committed(names: list[str], timeout: float) -> bool:
        end = time.time() + timeout
        while time.time() < end:
            fb, times = _stream_log(ckpt)
            if all(fb.get(x) in times for x in names):
                return True
            if q.exception() is not None:
                return False
            time.sleep(0.05)
        return False

    # warm-up: the first batches pay Python worker start and code
    # generation, and the JIT keeps improving over the next one
    for part in (files[: warm_n * 2 // 3], files[warm_n * 2 // 3 : warm_n]):
        for f in part:
            land_file(f)
        wait_committed([f.name for f in part], STREAM_DRAIN_S)
    overview = [k for k in DASHBOARD_QUERIES if k.startswith("overview_")]
    ctx.mark("warm batch")
    register_views(spark, {VIEW["aggregate_records"]: read_stream_table(spark, out, "aggregate_records")})
    _warm(ctx, overview)
    ctx.setup_done()

    timed = files[warm_n:]
    sched: dict[str, float] = {}
    landed_at: dict[str, float] = {}

    def lander() -> None:
        t0 = time.time()
        for i, f in enumerate(timed):
            at = t0 + i / STREAM_RATE
            sched[f.name] = at
            pause = at - time.time()
            if pause > 0:
                time.sleep(pause)
            land_file(f)
            landed_at[f.name] = time.time()

    th = threading.Thread(target=lander, daemon=True)
    cpu0 = cpu_s()
    th.start()
    read_s, read_traced, attempted, failed, errors, stats = [], [], 0, 0, [], {}
    k, t_reads = 0, time.perf_counter()
    while th.is_alive():
        # a dashboard on auto-refresh: one overview pass every READ_EVERY_S
        pause = t_reads + k * READ_EVERY_S - time.perf_counter()
        if pause > 0:
            time.sleep(pause)
            continue
        traced = ctx.rec.enabled and k % 2 == 1
        t0 = time.perf_counter()
        register_views(spark, {VIEW["aggregate_records"]: read_stream_table(spark, out, "aggregate_records")})
        reg = time.perf_counter() - t0
        for name in overview:
            attempted += 1
            t1 = time.perf_counter()
            try:
                _panel(ctx, name, traced, stats)
            except Exception as e:
                failed += 1
                errors.append(f"read {name}: {e!r}"[:300])
            wall = time.perf_counter() - t1 + (reg if name == overview[0] else 0.0)
            (read_traced if traced else read_s).append(wall)
        k += 1
    th.join()
    ctx.mark("measure")
    names = [f.name for f in timed]
    drained = wait_committed(names, STREAM_DRAIN_S)
    cpu = cpu_s() - cpu0
    q.stop()
    ctx.mark("drain")
    if q.exception() is not None:
        errors.append(f"stream: {q.exception()}"[:300])
    fb, times = _stream_log(ckpt)
    fresh = [times[fb[x]][1] - sched[x] for x in names if fb.get(x) in times]
    attempted += len(names)
    failed += len(names) - len(fresh)
    if not drained:
        errors.append(f"{len(names) - len(fresh)} landed files not committed in {STREAM_DRAIN_S:.0f}s")
    batches = sorted({fb[x] for x in names if fb.get(x) in times})
    busy = sum(times[b][1] - times[b][0] for b in batches)
    # the manifest the backfill is checked against; the daemon has no
    # PTR hook, so no sender hits
    failed += int(_check_tables(out, gen.manifest(files) | {"sender_hits": 0}, errors))
    ctx.mark("check")

    res = Result(latency=fresh, throughput=len(fresh) / busy if busy else 0.0,
                 cpu_per_item=cpu / len(names), attempted=attempted, failed=failed, errors=errors)
    lag = [landed_at[x] - sched[x] for x in names if x in landed_at]
    res.named = {
        "stream_freshness_p50_s": (statistics.median(fresh) if fresh else 0.0, "s"),
        "stream_freshness_tail_s": (tail_percentile(fresh)[1], "s"),
        "stream_read_p50_s": (statistics.median(read_s) if read_s else 0.0, "s"),
        "stream_rate_files_per_s": (STREAM_RATE, "1/s"),
    }
    per_batch = {b: sum(1 for x in names if fb.get(x) == b) for b in batches}
    res.detail = {"batches": [[b, per_batch[b], round(times[b][1] - times[b][0], 3)] for b in batches],
                  "freshness_s": [round(x, 3) for x in fresh]}
    if ctx.rec.enabled:
        res.layers = _stream_layers(ctx, group, times, batches, files, out, lag, stats, len(read_traced))
        _overhead(res.layers, read_traced, read_s)
    return res


def _stream_layers(ctx, group, times, timed_batches, files, out, lag, stats, reads) -> dict[str, float]:
    """The daemon's micro-batches are timed from the checkpoint and their
    Spark counters read by the query's own job group (its run id); the
    counters cover every batch, warm-up included."""
    rec = ctx.rec
    counters, nodes = rec.store.group_counters(group) if rec.store and rec.store.available else ({}, {})
    for b in timed_batches:
        rec.add("streaming.daemon", *times[b])
    n_all = max(1, len(times))
    reads = max(1, reads)  # per traced panel, as in dashboards
    out_m = _common(rec, ("plans.dashboards",), reads)
    daemon = rec.layer_totals().get("streaming.daemon", {})
    out_m["streaming.daemon.self_s"] = daemon.get("self_s", 0.0) / max(1, len(timed_batches))
    for k in ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        out_m[f"streaming.daemon.{k}"] = counters.get(k, 0.0) / n_all
    wall = sum(end - start for start, end in times.values())
    out_m["streaming.daemon.util"] = counters.get("run_s", 0.0) / (wall * ctx.cores) if wall else 0.0
    out_m["streaming.daemon.batches"] = float(len(timed_batches))
    out_m["streaming.daemon.files_per_batch"] = len(files) / n_all
    out_m["streaming.daemon.land_lag_s"] = statistics.median(lag) if lag else 0.0
    out_m["streaming.daemon.table_files"] = float(
        sum(1 for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")))
    out_m["sources.extract.files"] = len(files) / n_all
    out_m["sources.extract.bytes_in"] = sum(len(f.data) for f in files) / n_all
    out_m["sources.extract.python_exec_s"] = nodes.get("ArrowEvalPython.time to run Python workers", 0.0) / n_all
    out_m["sources.extract.udf_rows_per_file"] = nodes.get("ArrowEvalPython.number of output rows", 0.0) / len(files)
    out_m["functions.enrich.broadcast_bytes"] = nodes.get("BroadcastExchange.data size", 0.0) / n_all
    _manifest_layers(out_m, gen.manifest(files) | {"sender_hits": 0}, n_all)
    _scan_metrics(out_m, rec, stats, reads)
    return out_m


def _scan_metrics(out: dict, rec: Recorder, stats: dict, ops: int) -> None:
    """plans.dashboards planning time and scan counters, per operation."""
    nodes = rec.nodes("plans.dashboards")

    def scans(metric: str) -> float:
        return sum(v for k, v in nodes.items() if k.startswith("Scan") and k.endswith(metric))

    out["plans.dashboards.plan_s"] = stats.get("plan_s", 0.0) / ops
    out["plans.dashboards.files_read"] = scans("number of files read") / ops
    out["plans.dashboards.bytes_read"] = scans("size of files read") / ops
    out["plans.dashboards.rows_scanned_per_row_out"] = scans("number of output rows") / max(1, stats.get("rows_out", 0))


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    """(p, value): the highest whole percentile with at least 10 samples
    beyond it (never below the median), and the samples' value there."""
    if not samples:
        return 50, 0.0
    import numpy as np

    n = len(samples)
    p = max(50, int(100 * (n - 10) / n))
    return p, float(np.percentile(samples, p))


WORKLOADS = {"backfill": backfill, "dashboards": dashboards, "stream": stream}
