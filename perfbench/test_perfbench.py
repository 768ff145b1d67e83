"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from perfbench import gen
from perfbench.run import END_TO_END, tail_latency
from perfbench.trace import Span, Tracer, per_layer_names, self_times

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_same_seed_same_inputs():
    assert gen.digest(gen.mentions(5, 300)) == gen.digest(gen.mentions(5, 300))
    assert gen.digest(gen.documents(5, 300)) == gen.digest(gen.documents(5, 300))


def test_other_seed_other_inputs():
    assert gen.digest(gen.mentions(5, 300)) != gen.digest(gen.mentions(6, 300))
    assert gen.digest(gen.documents(5, 300)) != gen.digest(gen.documents(6, 300))


def test_mentions_match_golden_shape():
    m = gen.mentions(3, 3000)
    assert len(m) / 3000 == pytest.approx(gen.MENTIONS_PER_PAGE, rel=0.03)
    total = sum(gen.GOLDEN_TAG_COUNTS.values())
    share = m["tag"].value_counts(normalize=True)
    for tag, n in gen.GOLDEN_TAG_COUNTS.items():
        assert share[tag] == pytest.approx(n / total, abs=0.01)
    # hot surfaces: the most frequent person is mentioned many times
    persons = m.loc[m["tag"] == "persoon", "text"].value_counts()
    assert persons.iloc[0] > 50


def test_documents_seed_each_rule():
    docs = gen.documents(2, 2000)
    words = docs["text"].str.split().str.len()
    assert (words < 20).any()  # too_short
    assert docs["text"].duplicated().any()  # duplicate
    assert (docs["text"].str.count("zorg") >= 40).any()  # dominated


def _span(name, layer, start, end, parent=None, phase="op"):
    return Span(name, layer, phase, parent, start, end)


def test_self_time_subtracts_children():
    spans = [
        _span("jobs.x", "jobs", 0.0, 10.0),
        _span("kg.a", "kg", 1.0, 4.0, parent=0),
        _span("kg.b", "kg", 2.0, 3.0, parent=1),
        _span("kg.c", "kg", 5.0, 9.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])


def test_self_time_merges_overlapping_children_and_clips():
    spans = [
        _span("p", "kg", 0.0, 10.0),
        _span("a", "kg", 2.0, 6.0, parent=0),
        _span("b", "kg", 4.0, 8.0, parent=0),   # overlaps a: union 2..8
        _span("c", "kg", 9.0, 12.0, parent=0),  # clipped to 9..10
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_metrics_weight_setup_and_op_phases():
    t = Tracer()
    t.spans = [
        _span("session._warm_engine", "session", 0.0, 2.0, phase="setup"),
        _span("session._warm_engine", "session", 3.0, 4.0, phase="setup"),
        _span("jobs.build_kg", "jobs", 10.0, 20.0),
        _span("kg.triples", "kg", 11.0, 15.0, parent=2),
        _span("trace.bookkeeping", "trace", 12.0, 13.0, parent=3),
        _span("kg.connected_components", "kg", 15.0, 16.0, parent=2),
        _span("dedup.connected_components", "dedup", 16.0, 17.0, parent=2),
    ]
    t.spans[5].counters.update(pairs_candidate=10, pairs_merged=8)
    t.spans[6].counters.update(pairs_candidate=4, pairs_merged=1)
    out = t.metrics(n_setups=2, n_ops=1, op_s=[10.0])
    assert out["session.warm_s"] == pytest.approx(1.5)
    assert out["kg.triples_s"] == pytest.approx(3.0)  # bookkeeping excluded
    assert out["jobs.s"] == pytest.approx(4.0)
    assert out["kg.s"] == pytest.approx(4.0)
    assert out["kg.pairs_candidate"] == 10 and out["kg.pair_yield"] == 0.8
    assert out["dedup.pair_yield"] == 0.25
    assert out["trace.op_s"] == 10.0
    assert set(out) == set(per_layer_names())


def test_tail_latency_percentile():
    assert tail_latency([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = tail_latency(xs)
    assert n == 100 and pct == 90.0 and value == 90.0
    assert sum(x > value for x in xs) == 10


def test_metric_names_and_limits():
    names = list(END_TO_END) + per_layer_names()
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(set(names)) == len(names)
    assert len(END_TO_END) <= 16
    assert len(per_layer_names()) <= 128


def test_benchmark_json_matches_the_runner():
    spec = json.loads(BENCHMARK.read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_procstat_sees_children_and_memory():
    import subprocess
    import sys

    from perfbench import procstat

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in procstat.descendants()
        assert procstat.resident_mb()["main"] > 0
        assert procstat.cpu_seconds() > 0
    finally:
        child.kill()
        child.wait()
    assert procstat.wait_gone(child.pid, 5)
