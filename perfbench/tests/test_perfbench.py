"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The last test drives every workload end to end at a tiny size, in both
modes, so it starts Spark four times (a few minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import run  # noqa: E402


@contextmanager
def time_limit(seconds: int):
    """Fail the test instead of hanging when a generator never returns."""

    def _raise(signum, frame):
        raise TimeoutError(f"did not finish within {seconds} s")

    old = signal.signal(signal.SIGALRM, _raise)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)


def _digests(seed: int) -> tuple[str, str]:
    fz = gen.er_fuzzy(seed, n_entities=300, n_turns=2000)
    dd = gen.dedup(seed, n_docs=300, n_vectors=300, n_queries=20, n_groups=20)
    return (
        gen.digest(fz.transcripts, fz.aliases),
        gen.digest(dd.docs, dd.vectors, dd.queries),
    )


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _digests(7), _digests(7), _digests(8)
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]


def test_place_names_injective_and_blocked():
    with time_limit(120):
        rng = np.random.default_rng(0)
        names = gen.place_names(rng, 30_000, 24)  # 720k names: 5-consonant skeletons
    flat = names.reshape(-1)
    assert len(set(flat)) == flat.size
    skeleton = np.vectorize(lambda s: "".join(c for c in s.lower() if c not in "aeiou"))
    sk = skeleton(names)
    assert (sk == sk[:, :1]).all()  # a block shares one consonant skeleton
    assert len(set(sk[:, 0])) == len(names)


def test_corruptions_leave_the_kb_and_stay_in_block():
    inp = gen.er_fuzzy(3, n_entities=500, n_turns=5000, unseen_share=0.5)
    kb = set(inp.aliases["alias"])
    surface = inp.transcripts["text"].str.split(" ").str[6]
    missed = surface[~surface.isin(kb)]
    assert len(missed) > 1000

    def phon(s):
        n = s.lower()
        out = []
        for ch in n:
            if ch not in "aeiouy" and (not out or out[-1] != ch):
                out.append(ch)
        return n[0] + "".join(out)

    blocks = {phon(a) for a in kb}
    assert all(phon(s) in blocks for s in missed)
    hot = inp.aliases[inp.aliases["alias"] == inp.hot_alias]
    assert hot["qid"].nunique() == gen.HOT_ENTITIES  # one alias, many entities


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_vector_groups_are_the_only_near_duplicates(seed):
    """embedding_near_duplicates keeps pairs at cosine >= 0.95: exactly the
    pairs inside a planted group may reach it, so its clusters can be
    checked against the planted groups."""
    inp = gen.dedup(seed, n_docs=1000, n_vectors=3000, n_queries=10)
    v = np.stack(inp.vectors["embedding"].to_numpy()).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    close = (v @ v.T) >= 0.95
    same = inp.vec_group[:, None] == inp.vec_group[None, :]
    assert (close == same).all()


def _gen_seconds(n_turns: int) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        gen.er_fuzzy(1, n_entities=20_000, n_turns=n_turns)
        best = min(best, time.perf_counter() - t0)
    return best


def test_generators_terminate_and_scale_linearly():
    with time_limit(240):
        small, big = _gen_seconds(25_000), _gen_seconds(200_000)
        t0 = time.perf_counter()
        gen.dedup(1, n_docs=20_000, n_vectors=20_000, n_queries=500)
        dedup_s = time.perf_counter() - t0
    # 8x the turns; entity count (a fixed cost here) is unchanged
    assert big / small < 12, (small, big)
    assert dedup_s < 60


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_workload_completes_at_tiny_size(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
