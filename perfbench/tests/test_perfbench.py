"""Tests of the benchmark itself: seeded generators, self-time
arithmetic, the metric-name contract and a tiny-input smoke run of
every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from run import more_cycles, tracing_overhead  # noqa: E402
from spans import Span, covered, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def test_zipf_corpus_is_seeded():
    a, b = gen.zipf_corpus(7, 500), gen.zipf_corpus(7, 500)
    assert a == b
    assert a != gen.zipf_corpus(8, 500)
    lines = a.decode().split("\n")
    assert lines[-1] == "" and len(lines) == 501
    assert all(len(line.split(" ")) == 12 for line in lines[:-1])


def test_tpch_tables_are_seeded_and_keep_foreign_keys():
    a, b = gen.tpch_tables(3, 0.002), gen.tpch_tables(3, 0.002)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(gen.tpch_tables(4, 0.002)["lineitem"])
    orders = set(a["orders"].column("o_orderkey").to_pylist())
    assert set(a["lineitem"].column("l_orderkey").to_pylist()) <= orders
    custs = set(a["customer"].column("c_custkey").to_pylist())
    assert set(a["orders"].column("o_custkey").to_pylist()) <= custs
    parts = set(a["part"].column("p_partkey").to_pylist())
    assert set(a["lineitem"].column("l_partkey").to_pylist()) <= parts


def test_ingest_stream_is_seeded():
    a = gen.IngestStream(5, 50, 30, 10, 6)
    b = gen.IngestStream(5, 50, 30, 10, 6)
    assert all(x.equals(y) for x, y in zip(a.base(), b.base()))
    assert all(x.equals(y) for x, y in zip(a.batch(2), b.batch(2)))
    assert not a.batch(1)[0].equals(a.batch(2)[0])
    docs, vecs = a.batch(0)
    assert docs.column("doc_id").to_pylist() == list(range(50, 60))
    assert vecs.column("vec_id").to_pylist() == list(range(30, 36))


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_times_subtract_direct_children_only():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("a.1", 2.0, 3.0, parent=1),
        Span("b", 5.0, 9.0, parent=0),
    ]
    assert self_times(spans) == [3.0, 2.0, 1.0, 4.0]
    # Self times of a tree add up to the root's duration.
    assert sum(self_times(spans)) == spans[0].dur


def test_traced_loop_surrounds_every_traced_cycle():
    # Cycles alternate untraced (even), traced (odd); the loop stops
    # only after an untraced cycle and never before three cycles.
    assert [more_cycles(n, 99.0, 1.0, True) for n in range(6)] == [
        True, True, True, False, True, False]
    assert [more_cycles(n, 99.0, 1.0, False) for n in range(3)] == [True, False, False]
    assert more_cycles(5, 0.5, 1.0, True) and more_cycles(4, 0.5, 1.0, False)


def test_tracing_overhead_compares_with_both_neighbours():
    # A steady drift of −1 s per cycle is not overhead; +0.5 s is.
    cycle_s = {1: 10.0, 2: 9.5, 3: 8.0, 4: 7.5, 5: 6.0}
    assert tracing_overhead(cycle_s, {2, 4}) == 0.5
    assert tracing_overhead(cycle_s, set()) == 0.0


def test_metric_names_match_contract():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert {"setup_s"} <= {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["bound"] <= 0.25 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in want]
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0
