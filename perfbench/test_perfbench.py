"""Smoke test of the benchmark itself (not part of the engine's suite).

    python -m pytest perfbench -q

Checks the oracle against a hand-computed three-document corpus, the
generator's determinism and ledger, that ``BENCHMARK.json`` mirrors
``metrics.py``, that a checkout without the engine fails cleanly, and
runs every workload end to end at a tiny size, untraced and traced.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import types

import numpy as np
import pytest

from perfbench import generate as gen
from perfbench import metrics, oracle, run
from perfbench.workloads import WORKLOADS, CorpusBuild, ServeIngest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# x y | y z z | z      N = 3, dl = 2, 3, 1, avgdl = 2
THREE = {1: "x y", 2: "y z z", 3: "z"}


def test_oracle_three_documents_by_hand():
    assert oracle.document_frequencies(THREE) == {"x": 1, "y": 2, "z": 2}
    assert oracle.top_terms(THREE[2]) == [("z", 2), ("y", 1)]
    assert oracle.tokens("The X a y") == ["x", "y"]
    bm = oracle.Bm25(THREE)
    assert bm.n_docs == 3 and bm.avgdl == 2.0
    # doc 1, term x: idf = ln(3/2); tf = 1, dl = avgdl, so the tf factor
    # is 1 * 2.2 / (1 + 1.2) = 1; y and z have idf ln(3/3) = 0
    x = round(math.log(1.5), 6)
    assert bm.topk(("x", "z"), 3) == [(1, x), (2, 0.0), (3, 0.0)]
    # ties at score 0 break by ascending doc_id; k cuts after the order
    assert bm.topk(("y",), 1) == [(1, 0.0)]
    assert oracle.topk_matches([(1, x), (2, 0.0)], bm, ("x", "z"), 2)
    assert not oracle.topk_matches([(2, 0.0), (1, x)], bm, ("x", "z"), 2)


def test_oracle_curation_by_hand():
    bench = {0: "qa qb qc qd qe"}
    cur = oracle.Curator(bench)
    words = [f"w{i}" for i in range(30)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["other"])  # 27 of 29 shingles shared
    contaminated = base.replace("w10", "qa qb qc qd qe")
    short = "w1 w2 w3"
    kept, info = cur.curate({10: base, 11: near, 12: contaminated, 13: short})
    assert oracle.keep_score(short) == 0.0
    assert oracle.keep_score(base) == 0.3
    # 11 near-duplicates 10 (same batch: the greater id loses); 12 carries
    # three benchmark 3-grams; 13 is below the quality gate
    assert kept == {10} and info["losers"] == {11}
    # a later batch's copy of 10 loses to the archived original
    kept2, _ = cur.curate({20: base})
    assert kept2 == set()


def test_generator_is_seeded():
    v = gen.Zipf(size=2000)
    a = gen.corpus(np.random.default_rng(7), v, 50)
    b = gen.corpus(np.random.default_rng(7), v, 50)
    c = gen.corpus(np.random.default_rng(8), v, 50)
    assert a == b and a != c
    assert all(len(oracle.tokens(t)) >= 10 for t in a.values())
    rng = np.random.default_rng(3)
    bench = gen.benchmark_set(rng)
    batches = gen.curate_batches(rng, v, bench, 2, 80)
    ids = [d for bt in batches for d in bt.docs]
    assert ids == list(range(gen.NEW_ID_BASE, gen.NEW_ID_BASE + 160))
    for bt in batches:
        for dup, src in bt.near_dups.items():
            assert src < dup
    qs = gen.query_mix(rng, a, 8)
    assert [k for k, _ in qs] == ["head", "tail"] * 4
    assert [len(q.split()) for _, q in qs] == [1, 1, 2, 2, 3, 3, 4, 4]


def test_benchmark_json_mirrors_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e, layers = metrics.benchmark_entries()
    assert bench["end_to_end"] == e2e
    assert bench["per_layer"] == layers
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in bench["workloads"]] == [w.why for w in WORKLOADS.values()]
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    for _, _, _, moves in metrics.PER_LAYER:
        assert all(w in WORKLOADS for _, w in moves)


def test_checkout_without_engine_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(CorpusBuild, "N_DOCS", 300)
    monkeypatch.setattr(CorpusBuild, "BATCH_SIZE", 60)
    monkeypatch.setattr(ServeIngest, "N_DOCS", 300)
    monkeypatch.setattr(ServeIngest, "N_ADD", 20)
    monkeypatch.setattr(ServeIngest, "N_UPSERT", 10)
    monkeypatch.setattr(ServeIngest, "N_DELETE", 5)


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_tiny(tiny, workload, trace):
    args = types.SimpleNamespace(workload=workload, seed=11, seconds=1.0, trace=trace)
    result = run.run(args)
    assert result["correct"], result
    assert result["attempted"] > 0 and result["failed"] == 0
    names = [n for n, *_ in (metrics.E2E if trace == 0 else metrics.PER_LAYER)]
    assert list(result["metrics"]) == names
    for name, m in result["metrics"].items():
        assert m["unit"] == metrics.UNITS[name]
        assert isinstance(m["value"], float)
    if trace == 0:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        with open(os.path.join(ROOT, ".perfbench_traces", f"{workload}-seed11.json")) as f:
            spans = json.load(f)["spans"]
        ids = {s["id"] for s in spans}
        assert all(s["parent"] is None or s["parent"] in ids for s in spans)
        assert any(s["jobs"] > 0 for s in spans)
        assert result["metrics"]["dedup.recall_vs_ledger" if workload == "corpus_build"
                                 else "spark.jobs_per_search"]["value"] > 0
