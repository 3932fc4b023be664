"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Builds its inputs from ``--seed``, measures the workload for
``--seconds``, checks the program's outputs off the clock, and prints
one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones named in BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, and the spans are written
to ``perfbench/.runs/``. The line before it is a human-readable summary
with the workload's own metrics, ``failed_share`` and the machine stamps
(nproc, load average at start and end, Spark version).

``--workload all`` runs every workload in turn, each in its own
process, and prints every metric of each by name and unit.

Exits 1 when a correctness check fails and 2 when the program cannot be
found (no result line is printed then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")


def _env(work: str) -> None:
    """Keep every file Spark, Python and the JVM write inside ``work``,
    and let PySpark's Python workers import the package from any
    working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _session(work: str, cores: int, trace: bool):
    from parsedmarc_go_spark.session import get_spark

    confs = {
        "spark.driver.memory": "2g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # compiler threads that stay alive keep their CPU out of cpu_s()
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work}"
        " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        confs.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_confs=confs
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    from perfbench.workloads import _ticks

    st = _ticks(f"/proc/{pid}/stat")
    return st is not None and st[1][0] != "Z"


def _shutdown(spark) -> None:
    """Stop Spark, then end its JVM and every process under this one and
    wait until each is gone. PySpark's JVM exits only when its stdin
    closes, which otherwise happens after this process has exited, so
    the JVM and its Python workers would outlive the run."""
    from pyspark import SparkContext

    from perfbench.workloads import descendants

    try:
        if spark is not None:
            spark.stop()
    finally:
        left = descendants(os.getpid())
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL, None):
            deadline = time.monotonic() + 10
            while any(map(_alive, left)) and time.monotonic() < deadline:
                time.sleep(0.05)
            for p in filter(_alive, left) if sig else ():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass


# The gated end-to-end metrics. Wall-clock latency and throughput swing
# with the load other tenants put on a shared machine far more than any
# bound a regression gate can use, so they go to the summary line; CPU
# seconds per work item (what a deployment pays per report or panel)
# moves much less with that load.
UNITS = {"setup_s": "s", "cpu_ms_per_item": "ms"}


def end_to_end(ctx, res) -> dict[str, float]:
    return {"setup_s": ctx.setup_s, "cpu_ms_per_item": 1e3 * res.cpu_per_item}


def wall_metrics(res) -> dict[str, dict]:
    from perfbench.workloads import tail_percentile

    return {
        "latency_p50_s": {"value": statistics.median(res.latency), "unit": "s"},
        "latency_tail_s": {"value": tail_percentile(res.latency)[1], "unit": "s"},
        "throughput_per_s": {"value": res.throughput, "unit": "1/s"},
    }


def run_all(args) -> int:
    """Every workload in its own process; one line per metric."""
    from perfbench.workloads import WORKLOADS

    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        rc = rc or p.returncode
        if len(lines) < 2:
            print(f"{w:11s} no result (exit {p.returncode})")
            continue
        summary, result = json.loads(lines[-2])["summary"], json.loads(lines[-1])
        named = {k: v for k, v in summary.items() if isinstance(v, dict) and "unit" in v}
        for name, m in {**result["metrics"], **named}.items():
            print(f"{w:11s} {name:40s} {m['value']:.6g} {m['unit']}")
        print(f"{w:11s} {'correct':40s} {result['correct']}")
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "parsedmarc_go_spark", "__init__.py")):
        print(f"perfbench: the parsedmarc_go_spark package is not next to {HERE}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    load_start = os.getloadavg()[0]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(RUNS, tag)
    _env(work)
    from perfbench import workloads as W
    from perfbench.trace import Recorder

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = min(4, os.cpu_count() or 1)
    spark = None
    try:
        spark = _session(work, cores, bool(args.trace))
        import pyspark

        rec = Recorder(spark, enabled=bool(args.trace), cores=cores)
        ctx = W.Ctx(spark, args.seed, args.seconds, work, rec, cores, t_start=T0)
        res = W.WORKLOADS[args.workload](ctx)
        if args.trace:
            rec.dump(os.path.join(RUNS, f"{tag}.spans.jsonl"))
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = not res.errors and res.failed == 0
    if args.trace:
        metrics = {n: {"value": float(res.layers.get(n, 0.0)), "unit": W.layer_unit(n)} for n in W.per_layer_names()}
    else:
        metrics = {n: {"value": v, "unit": UNITS[n]} for n, v in end_to_end(ctx, res).items()}
    p, _ = W.tail_percentile(res.latency)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": len(res.latency), "tail_percentile": p, "phases_s": ctx.phases,
        "failed_share": {"value": res.failed / max(1, res.attempted), "unit": "ratio"},
        **wall_metrics(res),
        **{k: {"value": v, "unit": u} for k, (v, u) in res.named.items()},
        "nproc": os.cpu_count(), "cores_used": cores,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
        "spark_version": pyspark.__version__, "run_s": time.perf_counter() - T0, "errors": res.errors[:20],
        **res.detail,
    }
    with open(os.path.join(RUNS, f"{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump({"summary": summary, "metrics": metrics}, fh, indent=1, sort_keys=True)
    print(json.dumps({"summary": summary}))
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    if not correct:
        print("perfbench: correctness check failed: " + "; ".join(res.errors[:5]), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
