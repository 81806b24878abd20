"""Tests of the benchmark's own code. No Spark needed:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import gate, stats, workloads
from perfbench.queries import ALL_KINDS, Query, make_pools
from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "to be or not to be that is the question",
    "the fox and the dog",
    "",
    "a fox of the dog the fox",
]


def _tokens():
    from blacklab_spark.tokenizer import tokenize

    return [tokenize(t) for t in DOCS]


def test_query_pools_are_deterministic_per_seed():
    a = make_pools(7, ALL_KINDS, _tokens(), 12)
    b = make_pools(7, ALL_KINDS, _tokens(), 12)
    c = make_pools(8, ALL_KINDS, _tokens(), 12)
    assert a == b
    assert a != c
    # a kind's queries do not depend on which other kinds the workload mixes
    assert make_pools(7, ("regex", "term"), _tokens(), 12)["term"] == a["term"]


def test_percentile_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(100)]
    assert stats.percentile(values, 90) == 89.0  # 10 samples beyond
    with pytest.raises(ValueError):
        stats.percentile(values, 91)  # 9 beyond
    with pytest.raises(ValueError):
        stats.percentile(values[:50], 90)
    assert stats.highest_tail(values) == (90, 89.0)
    assert stats.highest_tail(values[:15]) is None
    assert stats.percentile(values[:3], 50) == 1.0  # the median is always allowed


def test_oracle_gate_flags_an_injected_wrong_score():
    oracle = gate.Oracle(DOCS)
    q = Query("term", ("fox",), k=10)
    want = oracle.expected(q)
    assert [d for d, _ in want] == [4, 2, 0]
    logged = []
    assert gate.check(oracle, [(q, list(want))], logged.append) == 0
    doc, score = want[0]
    wrong = [(doc, float(np.nextafter(score, 0.0)))] + want[1:]
    assert gate.check(oracle, [(q, wrong)], logged.append) == 1
    assert len(logged) == 1 and "MISMATCH" in logged[0]


def test_oracle_span_scans():
    oracle = gate.Oracle(DOCS)
    # "the" []{0,2} "dog": doc0 the@6..dog@8, doc2 the@3 dog@4, doc4 the@3 dog@4
    assert oracle.expected(Query("seq_count", ("the", "dog"))) == 3
    assert oracle.expected(Query("capped_count", ("the", "dog"), k=1)) == (1, 1)
    assert oracle.expected(Query("capped_count", ("the", "dog"), k=5)) == (3, 0)
    assert oracle.expected(Query("kwic_page", ("the", "fox"), k=20)) == [
        (2, 0, 2, "", "the fox", "and the dog"),
        (4, 5, 7, "a fox of the dog", "the fox", ""),
    ]
    assert oracle.expected(Query("colloc", ("fox",))) == [
        ("a", 1), ("and", 1), ("brown", 1), ("dog", 1), ("jumps", 1),
        ("of", 1), ("over", 1), ("quick", 1), ("the", 4),
    ]


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "layer": "corpus", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "spark.job", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "layer": "spark.job", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "layer": "spark.job", "parent": 0, "start": 8.0, "end": 12.0},
    ]
    assert tr.self_time_by_layer() == {"corpus": 4.0, "spark.job": 9.0}


def _fake_run(traced: bool) -> workloads.Run:
    run = workloads.Run(None, 4, "", 1, 1.0, None, 0.0, print)
    tr = Tracer()
    tr.enabled = True
    run.tracer = tr if traced else None
    req = {"id": 0}
    run.setup_s = 1.0
    run.record.update(heap_live_mb=1.0)
    run.opens.append((0.1, 0.1))
    run.layers.update({
        "index_bytes_per_text_byte": 2.0,
        **{f"build.{s}_s": 0.1 for s in workloads.BUILD_STAGES},
        **{f"build.{s}_bytes": 1 for s in ("docs", "postings", "term_dict")},
    })
    run.writes.append({"kind": "build", "turns": 10, "wall_s": 1.0, "req": req})
    q = Query("term", ("fox",))
    for t in (False, True):
        run.samples.append({"q": q, "got": [], "epoch": 0, "plan_s": 0.1,
                            "exec_s": 0.2, "latency_s": 0.3, "traced": t,
                            "req": req, "round": int(t)})
        run.round_walls.append((t, 1, 0.3))
    return run


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = workloads.end_to_end(_fake_run(traced=False))
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    layers, _ = workloads.per_layer(_fake_run(traced=True), session_s=1.0)
    assert set(layers) == {m["name"] for m in bench["per_layer"]}
    assert set(bench["paths"]) == {"perfbench"}
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
