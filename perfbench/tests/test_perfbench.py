"""Benchmark-local tests: python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute each on four cores)."""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402
from perfbench.tracing import _rank, self_time, tail_percentile  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_generator_is_byte_identical_per_seed(tmp_path, workload):
    size = WORKLOADS[workload].TINY
    a = gen.materialize(str(tmp_path / "a"), workload, 7, size)["dir"]
    b = gen.materialize(str(tmp_path / "b"), workload, 7, size)["dir"]
    c = gen.materialize(str(tmp_path / "c"), workload, 8, size)["dir"]
    files = sorted(str(p.relative_to(a)) for p in Path(a).rglob("*") if p.is_file())
    assert files
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    assert filecmp.cmpfiles(a, c, files, shallow=False)[1]


def test_planted_pairs_are_above_threshold():
    table, pairs = gen.text_corpus(3, WORKLOADS["curate"].TINY)
    text = dict(zip(table["doc_id"].to_pylist(),
                    (f"{t} {x}" for t, x in zip(table["title"].to_pylist(),
                                                table["text"].to_pylist()))))
    assert pairs
    assert all(gen.jaccard(text[a], text[b]) >= gen.DUP_THRESHOLD for a, b in pairs)


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    assert tail_percentile(20) is None  # only the median has 10 beyond it
    for n in range(1, 600):
        p = tail_percentile(n)
        if p is None:
            assert n - _rank(n, 51) < 10
            continue
        assert n - _rank(n, p) >= 10
        assert p == 99 or n - _rank(n, p + 1) < 10


def test_self_time_subtracts_covered_child_time():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0},
            {"start": 7.0, "end": 8.0}, {"start": 9.5, "end": 12.0}]
    # children cover [1, 5] + [7, 8] + [9.5, 10] (clipped) = 5.5
    assert self_time(parent, kids) == pytest.approx(4.5)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert len(spec["per_layer"]) <= 128


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         "0", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_passes_its_checks(workload):
    res = _bench(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert [k for k in res["metrics"]] == [m for m, _ in run.END_TO_END]
    assert all(v["value"] > 0 for v in res["metrics"].values())


LAYER_SPANS = {
    "curate": ("sources.scan", "bpe.train_merges", "bpe.token_count",
               "dedup.minhash_dedup", "curate.write"),
    "index_serve": ("sources.scan", "ann.train_centroids", "ann.save",
                    "ann.load", "hnsw.build_write", "ann.ivf_search_bulk",
                    "hnsw.hnsw_search", "knn.knn_topk", "ann.ivf_search"),
}
LAYER_EXTRAS = {"curate": ("dedup.candidate_pairs", "dedup.verify_yield"),
                "index_serve": ("ann.probed_frac", "ann.bytes_per_vec")}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_emits_every_layer_metric(workload):
    res = _bench(workload, 1)
    assert res["correct"]
    assert list(res["metrics"]) == [m for m, _ in run.per_layer_names()]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for span in run.SPANS:
        exercised = span in LAYER_SPANS[workload]
        assert (m[f"{span}.wall_s"] > 0) == exercised, span
        assert (m[f"{span}.tasks"] > 0) == exercised, span
    assert all(m[x] > 0 for x in LAYER_EXTRAS[workload])
    assert m["session.get_spark.wall_s"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate", "--seed",
         "0", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert out.returncode != 0 and not out.stdout.strip()
