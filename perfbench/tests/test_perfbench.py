"""Tests for the benchmark itself: seeded inputs, output checks, and the
metric names a run prints.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import gen  # noqa: E402
import workloads as wl  # noqa: E402
from probe import Tracer, _covered  # noqa: E402


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(gen, "WC_TOKENS", 20_000)
    monkeypatch.setattr(gen, "WC_VOCAB", 5_000)
    monkeypatch.setattr(gen, "FUNNEL_DOCS", 120)
    monkeypatch.setattr(gen, "FUNNEL_EMB", 60)


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


@pytest.mark.parametrize(
    "make", [gen.wordcount_corpus, gen.funnel_inputs, gen.store_vectors]
)
def test_same_seed_same_bytes(make, small, tmp_path):
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    assert _same_files(tmp_path / "a", tmp_path / "b")
    assert not _same_files(tmp_path / "a", tmp_path / "c")


def test_wordcount_expected_matches_corpus_and_rejects_one_count_off(small, tmp_path):
    data = gen.wordcount_corpus(3, str(tmp_path / "in"))
    tokens: dict = {}
    for p in data["paths"]:
        for w in open(p).read().split():
            tokens[w] = tokens.get(w, 0) + 1
    assert tokens == data["expected"]
    # the engine's sink format: word:count lines in part files
    out = tmp_path / "out"
    out.mkdir()
    items = sorted(data["expected"].items())
    (out / "part-00000").write_text("".join(f"{w}:{c}\n" for w, c in items))
    assert wl.read_counts(str(out)) == data["expected"]
    w, c = items[0]
    items[0] = (w, c + 1)
    (out / "part-00000").write_text("".join(f"{w}:{c}\n" for w, c in items))
    assert wl.read_counts(str(out)) != data["expected"]
    # a count split over two part files is wrong too
    items[0] = (w, c - 1)
    (out / "part-00000").write_text("".join(f"{w}:{c}\n" for w, c in items))
    (out / "part-00001").write_text(f"{w}:1\n")
    assert wl.read_counts(str(out)) != data["expected"]


def test_funnel_checker_rejects_one_row_off(small, tmp_path):
    data = gen.funnel_inputs(5, str(tmp_path))
    expected = gen.funnel_expected(data["docs"], data["emb"])
    assert [r[0] for r in expected][0] == "01_gopher_quality" and len(expected) == 9
    bad = list(expected)
    stage, n_in, n_out, checksum = bad[4]
    bad[4] = (stage, n_in, n_out, checksum + 1)
    f = wl.CurateFunnel(None, data, str(tmp_path), Tracer(None))
    f.results = [list(expected), bad]
    f.finish()
    assert (f.attempted, f.failed) == (2, 1)


def _store(seed=2):
    rng = np.random.default_rng(seed)
    x = gen._unit(rng.normal(size=(400, gen.EMB_DIM))).astype(np.float32)
    cmat = x[:8].astype(np.float64)
    stored = np.arange(300)
    cells = wl._sq_dists(x, cmat).argmin(axis=1)
    return x, cmat, stored, cells


def _answer(x, q, stored, cells, cmat, k=wl.TOP_K):
    """The stored top-k as the engine returns it, computed in numpy."""
    probes = np.argsort(wl._sq_dists(x[q : q + 1], cmat), kind="stable")[0, : wl.NPROBE]
    cand = stored[np.isin(cells[stored], probes) & (stored != q)]
    sims = np.round(wl._unit64(x[[q]]) @ wl._unit64(x[cand]).T, 6)[0]
    order = np.lexsort((cand, -sims))[:k]
    return [{"neighbor_id": int(cand[i]), "cosine_sim": float(sims[i])} for i in order]


def test_query_checker_rejects_a_missing_or_wrong_answer():
    x, cmat, stored, cells = _store()
    rows = _answer(x, 5, stored, cells, cmat)
    ok, recall, scanned = wl.check_query(x, 5, rows, stored, cells, cmat)
    assert ok and 0 < recall <= 1 and scanned >= 1
    assert not wl.check_query(x, 5, rows[:-1], stored, cells, cmat)[0]
    wrong = [dict(r) for r in rows]
    wrong[3]["cosine_sim"] += 1e-3
    assert not wl.check_query(x, 5, wrong, stored, cells, cmat)[0]
    # order does not matter, membership does
    assert wl.check_query(x, 5, rows[::-1], stored, cells, cmat)[0]
    eleventh = _answer(x, 5, stored, cells, cmat, k=wl.TOP_K + 1)[-1]
    assert not wl.check_query(x, 5, [eleventh] + rows[1:], stored, cells, cmat)[0]


def test_admission_expectation_finds_planted_duplicates(tmp_path):
    data = gen.store_vectors(4, str(tmp_path))
    x = data["x"]
    stored = np.arange(gen.VEC_BUILD)
    cmat = x[:: max(gen.VEC_BUILD // gen.VEC_CELLS, 1)][: gen.VEC_CELLS].astype(np.float64)
    ids = np.arange(gen.VEC_BUILD, gen.VEC_BUILD + gen.VEC_BATCH)
    want = wl.expected_admission(x[ids], ids, x[stored], stored, cmat, gen.VEC_THRESHOLD)
    statuses = [s for s, _ in want.values()]
    assert len(want) == gen.VEC_BATCH
    assert statuses.count("cross_dup") >= 10 and statuses.count("batch_dup") >= 8
    for vid, (status, dup_of) in want.items():
        if status == "batch_dup":
            assert dup_of < vid and want[dup_of][0] == "kept"


def test_covered_and_self_time():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert _covered([(0, 2)], 1, 10) == pytest.approx(1)
    t = Tracer(None)
    t.enabled = False
    t.spans = [
        {"name": "p", "start": 0.0, "end": 10.0, "dur": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 4.0, "dur": 3.0, "parent": 0},
        {"name": "b", "start": 3.0, "end": 5.0, "dur": 2.0, "parent": 0},
    ]
    assert t.self_time(0) == pytest.approx(6.0)


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric_name(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    section = "per_layer" if trace else "end_to_end"
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", "wordcount_corpus",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    names = {m["name"]: m["unit"] for m in spec[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    for name in names:
        assert name in proc.stdout.split("{")[0]
