from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def topk_by_query(df) -> dict[int, list[tuple[int, float]]]:
    """An ANN probe's top-k frame as {query_id: [(vec_id, cosine_sim)]}
    in rank order (cosine desc, id asc) — the probes rank per query but
    return the surviving rows unordered."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(df.collect(), key=lambda r: (-r.cosine_sim, r.vec_id)):
        out.setdefault(r.query_id, []).append((r.vec_id, r.cosine_sim))
    return out


def ranked(df) -> list[tuple[int, float]]:
    """(vec_id, cosine_sim) rows of a top-k frame in rank order."""
    return sorted(((r.vec_id, r.cosine_sim) for r in df.collect()), key=lambda p: (-p[1], p[0]))


def codegen_compiles(spark) -> int:
    """How many classes Spark's code generator has compiled in this JVM
    so far: the sample count of its compile-time histogram, which is
    recorded on each codegen cache miss. A guard reads it before and
    after the work it checks."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def payload_dir(tmp_path_factory) -> str:
    """A small landing directory built here, no corpus needed: one
    aggregate report as plain XML, a gzip copy of it, and one malformed
    file."""
    import gzip

    from test_xml_defaults import MINIMAL

    d = tmp_path_factory.mktemp("payloads")
    (d / "minimal.xml").write_bytes(MINIMAL)
    (d / "minimal.xml.gz").write_bytes(gzip.compress(MINIMAL))
    (d / "broken.xml").write_bytes(b"<feedback><report_metadata>truncated")
    return str(d)


@pytest.fixture(scope="session")
def payload_batch(spark, payload_dir):
    """``payload_dir`` as one of the daemon's binaryFile micro-batches."""
    return spark.read.format("binaryFile").load(payload_dir).select("path", "length", "content")


@pytest.fixture(scope="session")
def spark():
    from parsedmarc_go_spark.session import get_spark
    from parsedmarc_go_spark.sinks.jdbc import find_duckdb_jdbc_jar

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    extra = {
        # local mode runs all executor threads inside the driver JVM;
        # the 1g default heap is tight for 8 concurrent tasks touching
        # the 2,286-record sample + broadcast dims
        "spark.driver.memory": "6g",
    }
    # second JDBC engine for the K4 dialect tests — must be on the
    # JVM system classpath (see find_duckdb_jdbc_jar docstring)
    duckdb_jar = find_duckdb_jdbc_jar()
    if duckdb_jar:
        extra["spark.driver.extraClassPath"] = duckdb_jar
        extra["spark.executor.extraClassPath"] = duckdb_jar
    s = get_spark(
        app_name="parsedmarc-go-spark-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2,
        extra_confs=extra,
    )
    yield s
