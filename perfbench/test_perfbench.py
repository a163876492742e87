"""Tests of the benchmark itself: oracles against brute force and
networkx, the tail statistic, and that wrong outputs are reported as
failures.  Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import itertools
import shutil
import subprocess
import sys

import networkx as nx
import numpy as np
import pytest

from perfbench import oracles
from perfbench.run import ROOT, tail
from perfbench.trace import union_length


def _random_digraph(seed: int, n: int = 30, m: int = 120):
    rng = np.random.default_rng(seed)
    arcs = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b}
    src = np.array([a for a, _ in sorted(arcs)])
    dst = np.array([b for _, b in sorted(arcs)])
    return src, dst


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_motif_counts_match_brute_force(seed):
    src, dst = _random_digraph(seed)
    arcs = set(zip(src.tolist(), dst.tolist()))
    nodes = sorted(set(src.tolist()) | set(dst.tolist()))
    succ, pred = oracles.adjacency(src, dst)
    perms = list(itertools.permutations(nodes, 3))
    paths = sum((a, b) in arcs and (b, c) in arcs for a, b, c in perms)
    cycles = [(a, b, c) for a, b, c in perms if {(a, b), (b, c), (c, a)} <= arcs]
    starts = nodes[::3]
    assert oracles.directed_two_paths(succ, pred) == paths
    assert oracles.directed_three_cycles(succ, pred) == len(cycles)
    assert oracles.directed_three_cycles(succ, pred, starts) == sum(a in starts for a, _, _ in cycles)
    g = nx.Graph(list(arcs))
    assert oracles.undirected_triangles(src, dst) == sum(nx.triangles(g).values()) // 3


def test_components_and_scores_match_networkx():
    src, dst = _random_digraph(3, n=40, m=60)
    ids, s, d = oracles.index_edges(src, dst)
    g = nx.DiGraph(list(zip(src.tolist(), dst.tolist())))
    want = {v: min(c) for c in nx.weakly_connected_components(g) for v in c}
    assert oracles.components(ids, s, d) == want
    pr = nx.algorithms.link_analysis.pagerank_alg._pagerank_python(g, tol=1e-12, max_iter=1000)
    got = oracles.pagerank(s, d, len(ids), tol=1e-12, max_iter=1000)
    assert np.allclose(got, [pr[v] for v in ids.tolist()], atol=1e-9)
    ev = nx.eigenvector_centrality(g, max_iter=1000, tol=1e-12)
    got = oracles.eigenvector(s, d, len(ids), 500)
    assert np.allclose(got, [ev[v] for v in ids.tolist()], atol=1e-6)


def test_derived_edges_follow_turn_order():
    import pandas as pd

    turns = pd.DataFrame({
        "conv_id": ["c1", "c1", "c1", "c2", "c2"],
        "turn_idx": [2, 0, 1, 0, 1],
        "role": ["user", "user", "assistant", "user", "assistant"],
        "tool": [None, None, "bash", None, "bash"],
    })
    assert oracles.derived_edges(turns) == {
        ("role:user", "role:assistant"): 2,
        ("role:assistant", "role:user"): 1,
        ("role:assistant", "tool:bash"): 2,
    }


def test_tail_uses_highest_percentile_with_ten_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    samples = [float(i) for i in range(1, 101)]
    assert tail(samples) == (90.0, 90.0, 10)
    assert tail(samples * 10) == (99.0, 99.0, 10)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "motif-hub",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import start_session, stop_session

    work = tmp_path_factory.mktemp("work")
    (work / "tmp").mkdir()
    session = start_session(work)
    yield session
    stop_session(session)


def test_tampered_expected_value_counts_as_failure(spark, tmp_path):
    from perfbench.run import Loop
    from perfbench.trace import Tracer, persisted_rdd_ids
    from perfbench.workloads import MotifHub

    class SmallMotifHub(MotifHub):
        N_VERTICES, N_EDGES = 400, 2000

    wl = SmallMotifHub(spark, seed=5, work_dir=str(tmp_path))
    wl.prepare()
    loop = Loop(spark, wl, persisted_rdd_ids(spark.sparkContext))
    _, ok, layers = loop.one(Tracer(spark, enabled=True))
    assert ok
    assert layers["match.jobs"] > 0 and layers["triangles.leaked_cache_mb"] > 0
    wl.counts["three_cycle"] += 1
    _, ok, _ = loop.one(Tracer(spark, enabled=False))
    assert not ok
    records = loop.run([Tracer(spark, enabled=False)], seconds=0.1)
    assert [ok for _, ok, _ in records] == [False]
