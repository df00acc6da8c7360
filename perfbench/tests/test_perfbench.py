"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each on a 4-core machine).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from oracle import Bm25Oracle, same_ranking  # noqa: E402

WORKLOADS = [w["name"] for w in json.load(open(f"{ROOT}/BENCHMARK.json"))["workloads"]]


def tree_digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 5, a, scale=0.05)
    gen.generate(workload, 5, b, scale=0.05)
    gen.generate(workload, 6, c, scale=0.05)
    da, db, dc = tree_digest(a), tree_digest(b), tree_digest(c)
    assert da == db
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da)


def test_oracle_matches_brute_force():
    rng = np.random.default_rng(0)
    vocab = [f"w{i}" for i in range(30)]
    docs = [rng.integers(0, 30, rng.integers(1, 20)) for _ in range(40)]
    offs = np.concatenate(([0], np.cumsum([d.size for d in docs])))
    o = Bm25Oracle(np.arange(40) * 3, np.concatenate(docs), offs, vocab)
    n, avgdl = 40, offs[-1] / 40
    q = ["w1", "w7", "w29"]
    scores = {}
    for i, d in enumerate(docs):
        s, hit = 0.0, False
        for t in sorted(q):
            tid = vocab.index(t)
            tf = int((d == tid).sum())
            df = sum(int((x == tid).any()) for x in docs)
            if tf:
                hit = True
                idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * d.size / avgdl))
        if hit:
            scores[i * 3] = round(s, 5)
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    assert o.ranking(q) == [(k, v) for k, v in want]
    assert o.topk(q, 5, offset=5) == want[5:10]
    assert same_ranking(o.topk(q, 10), want[:10])
    assert not same_ranking(o.topk(q, 10), want[1:11])


def run_bench(cwd, workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_metric_and_passes_checks(tmp_path, workload, trace):
    spec = json.load(open(f"{ROOT}/BENCHMARK.json"))
    kind = "per_layer" if trace else "end_to_end"
    out = run_bench(tmp_path, workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, out
    assert out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    # nothing but the trace file is left behind
    assert os.listdir(tmp_path / ".perfbench") == (["traces"] if trace else [])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
