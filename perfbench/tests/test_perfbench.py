"""The benchmark's own tests: no Spark needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen
from perfbench.run import UNITS
from perfbench.trace import Span, parse_metric, self_times
from perfbench.workloads import layer_unit, per_layer_names, tail_percentile

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# --- generator determinism ---------------------------------------------------

def test_same_seed_same_corpus_bytes_and_manifest():
    a = gen.make_corpus(7, 120, gen.make_vocab(7))
    b = gen.make_corpus(7, 120, gen.make_vocab(7))
    assert [(f.name, f.data) for f in a] == [(f.name, f.data) for f in b]
    assert gen.manifest(a) == gen.manifest(b)


def test_other_seed_other_corpus():
    a = gen.make_corpus(7, 60, gen.make_vocab(7))
    b = gen.make_corpus(8, 60, gen.make_vocab(8))
    assert [f.data for f in a] != [f.data for f in b]


def test_same_seed_same_dims(tmp_path):
    for d in ("x", "y"):
        gen.write_dims(gen.make_vocab(3), str(tmp_path / d))
    for name in ("geo_blocks", "geo_locations", "ptr"):
        assert (tmp_path / "x" / f"{name}.csv").read_bytes() == (tmp_path / "y" / f"{name}.csv").read_bytes()


def test_same_seed_same_warehouse():
    a = gen.make_warehouse_tables(5, 2000, gen.make_vocab(5))
    b = gen.make_warehouse_tables(5, 2000, gen.make_vocab(5))
    assert set(a) == set(gen.TABLES)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)


def test_manifest_counts_what_was_planted():
    files = gen.make_corpus(11, 400, gen.make_vocab(11))
    m = gen.manifest(files)
    kinds = [f.kind for f in files]
    assert m["files"] == 400
    assert m["rejects"] == sum(k.startswith("bad_") for k in kinds) == sum(m["rejects_by_reason"].values())
    assert m["aggregate_reports"] == sum(k.startswith("agg_") for k in kinds)
    assert m["forensic_reports"] == kinds.count("forensic")
    assert m["aggregate_records"] >= m["aggregate_reports"]
    assert 0 < m["sender_hits"] <= m["aggregate_records"]
    assert 0 < m["geo_hits"] <= m["aggregate_records"] + m["forensic_reports"]


def test_record_counts_are_capped():
    import random

    rng = random.Random(0)
    n = [gen._n_records(rng) for _ in range(20000)]
    assert max(n) <= gen.MAX_RECORDS and min(n) >= 2
    assert sorted(n)[len(n) // 2] < 10  # most reports are small


# --- metric names ------------------------------------------------------------

@pytest.fixture(scope="module")
def bench():
    with open(BENCHMARK, encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_names_and_units(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert len(bench["per_layer"]) <= 128
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])


def test_end_to_end_metrics_match_the_runner(bench):
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == UNITS
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25


def test_per_layer_metrics_match_the_runner(bench):
    assert [m["name"] for m in bench["per_layer"]] == per_layer_names()
    assert all(m["unit"] == layer_unit(m["name"]) for m in bench["per_layer"])


def test_workloads_exist(bench):
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


# --- self-time arithmetic and metric parsing ---------------------------------

def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("op", 0.0, 10.0, id=0),
        Span("a", 1.0, 4.0, parent=0, id=1),
        Span("b", 4.0, 9.0, parent=0, id=2),
        Span("b.inner", 5.0, 7.0, parent=2, id=3),
        Span("other", 20.0, 21.5, id=4),
    ]
    assert self_times(spans) == {0: 2.0, 1: 3.0, 2: 3.0, 3: 2.0, 4: 1.5}
    # the self times of a tree add up to its root's wall
    assert sum(v for k, v in self_times(spans).items() if k != 4) == spans[0].wall


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,793", 1793.0),
        ("16.1 MiB", 16.1 * 2**20),
        ("94 ms", 0.094),
        ("total (min, med, max (stageId: taskId))\n6.2 s (459 ms, 642 ms, 783 ms (stage 16.0: task 38))", 6.2),
        ("0.0 B", 0.0),
        ("", 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_tail_keeps_ten_samples_beyond():
    p, v = tail_percentile([float(i) for i in range(100)])
    assert p == 90 and v == pytest.approx(89.1)
    assert tail_percentile([1.0, 2.0, 3.0])[0] == 50  # too few samples: the median
