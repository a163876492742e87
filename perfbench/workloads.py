"""The three seeded workloads.

Each workload generates its input from the seed and persists it during
set-up, computes the expected outputs on the driver (``oracles``), and
runs one query at a time through the engine's public functions.  Every
call into a layer goes through ``Tracer.call`` so a traced run can
attribute Spark work to it; untraced, ``Tracer.call`` is a plain call.
See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from grandiso_networkx_spark.graph import HostGraph
from grandiso_networkx_spark.operators.components import connected_components
from grandiso_networkx_spark.operators.derive import derive_host_graph
from grandiso_networkx_spark.operators.eigenvector import eigenvector_centrality
from grandiso_networkx_spark.operators.label_propagation import (
    label_propagation,
    lpa_oracle,
)
from grandiso_networkx_spark.operators.match import find_motifs_df
from grandiso_networkx_spark.operators.pagerank import pagerank
from grandiso_networkx_spark.operators.triangles import triangle_count
from grandiso_networkx_spark.plans.motif import Motif, compile_plan
from grandiso_networkx_spark.sources.transcripts import synth_transcripts

from . import oracles
from .trace import TimedCheckpointManager


def powerlaw_edges(spark, n_vertices: int, n_edges: int, seed: int):
    """Skewed random digraph over long ids, as generated by bench.py:
    uniform sources, hash-product destinations that pile in-degree onto
    low ids; self-loops dropped, parallel arcs collapsed."""
    def h(salt: int):
        return F.pmod(F.xxhash64("id", F.lit(seed + salt)), F.lit(n_vertices))

    e = spark.range(n_edges).select(
        h(0).alias("src"), F.pmod(h(1) * h(2), F.lit(n_vertices)).alias("dst")
    )
    return e.where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _by_id(pdf, id_col: str, value_col: str) -> dict:
    return dict(zip(pdf[id_col].tolist(), pdf[value_col].tolist()))


def _scores_match(pdf, value_col: str, ids: np.ndarray, expected: np.ndarray) -> bool:
    got = pdf.sort_values("id")
    return np.array_equal(got["id"].to_numpy(), ids) and np.allclose(
        got[value_col].to_numpy(), expected, rtol=1e-6, atol=1e-12
    )


def _median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0


class Workload:
    """Inputs, expected outputs and one query of one workload."""

    name = ""

    def __init__(self, spark, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.rows = 0
        self.shape: dict = {}

    def prepare(self) -> tuple[float, float]:
        """Generate and persist the input (as RDD-level local
        checkpoints), then compute the expected outputs from it.
        Returns (generation s, oracle s)."""
        t0 = time.perf_counter()
        self._generate()
        t1 = time.perf_counter()
        self._expect()
        return t1 - t0, time.perf_counter() - t1

    def after_query(self) -> None:
        """Remove what a query wrote to disk (outside its timed region)."""
        shutil.rmtree(f"{self.work_dir}/checkpoints", ignore_errors=True)

    def _generate(self) -> None:
        raise NotImplementedError

    def _expect(self) -> None:
        raise NotImplementedError

    def query(self, tr) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Names of the outputs that differ from the expected ones."""
        raise NotImplementedError


class TranscriptsPipeline(Workload):
    """Transcripts -> derived host graph -> checkpointed CC and LPA ->
    PageRank to convergence."""

    name = "transcripts-pipeline"
    N_CONVS = 20_000

    def _generate(self) -> None:
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.turns = synth_transcripts(
            self.spark, n_convs=self.N_CONVS, seed=self.seed, partitions=parts
        ).localCheckpoint()
        self.rows = self.turns.count()

    def _expect(self) -> None:
        turns = self.turns.select("conv_id", "turn_idx", "role", "tool").toPandas()
        self.edges = oracles.derived_edges(turns)
        src = np.array([s for s, _ in self.edges], dtype=object)
        dst = np.array([d for _, d in self.edges], dtype=object)
        self.ids, s, d = oracles.index_edges(src, dst)
        self.cc = oracles.components(self.ids, s, d)
        self.lpa = lpa_oracle(list(self.edges), max_iter=10)
        self.pr = oracles.pagerank(s, d, len(self.ids))
        tools = turns["tool"].dropna()
        self.shape = {
            "conversations": self.N_CONVS,
            "turns": self.rows,
            "vertices": len(self.ids),
            "edges": len(self.edges),
            "max_in_degree": int(np.bincount(d).max()),
            "max_out_degree": int(np.bincount(s).max()),
            "tool_turns": len(tools),
            "tool_counts": {k: int(v) for k, v in tools.value_counts().sort_index().items()},
        }

    def _derive(self):
        host = derive_host_graph(self.turns)
        e = host.edges.select(
            "src", "dst", F.col("attrs")["weight"].cast("long").alias("weight")
        ).persist()
        return e, {(r.src, r.dst): r.weight for r in e.collect()}

    def query(self, tr) -> dict:
        e, edges = tr.call("derive", self._derive)
        ck = f"{self.work_dir}/checkpoints"
        cc = tr.call("components", lambda: connected_components(
            e, checkpoint=TimedCheckpointManager(self.spark, f"{ck}/cc", tr)
        ).toPandas())
        lp = tr.call("label_propagation", lambda: label_propagation(
            e, checkpoint=TimedCheckpointManager(self.spark, f"{ck}/lpa", tr)
        ).toPandas())
        iters: list[float] = []
        t0 = time.perf_counter()
        pr = tr.call("pagerank", lambda: pagerank(e, iter_seconds=iters).toPandas())
        tr.note("pagerank.iter_s", _median(iters[1:]))
        tr.note("pagerank.build_s", time.perf_counter() - t0 - sum(iters))
        e.unpersist()
        return {"edges": edges, "cc": cc, "lpa": lp, "pr": pr}

    def check(self, out: dict) -> list[str]:
        bad = []
        if out["edges"] != self.edges:
            bad.append("derive")
        if _by_id(out["cc"], "id", "component") != self.cc:
            bad.append("components")
        if _by_id(out["lpa"], "id", "label") != self.lpa:
            bad.append("label_propagation")
        if not _scores_match(out["pr"], "rank", self.ids, self.pr):
            bad.append("pagerank")
        return bad


class PowerlawIterative(Workload):
    """Fixed-iteration PageRank and eigenvector centrality, HashMin CC
    and LPA over a power-law digraph with long ids."""

    name = "powerlaw-iterative"
    N_VERTICES = 20_000
    N_EDGES = 100_000
    ITERATIONS = 10
    LPA_ROUNDS = 5

    def _generate(self) -> None:
        self.g = powerlaw_edges(self.spark, self.N_VERTICES, self.N_EDGES, self.seed).localCheckpoint()
        self.rows = self.g.count()

    def _expect(self) -> None:
        pdf = self.g.toPandas()
        src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        self.ids, s, d = oracles.index_edges(src, dst)
        n = len(self.ids)
        self.pr = oracles.pagerank(s, d, n, fixed_iterations=self.ITERATIONS)
        self.ev = oracles.eigenvector(s, d, n, self.ITERATIONS)
        self.cc = oracles.components(self.ids, s, d)
        self.lpa = lpa_oracle(list(zip(src.tolist(), dst.tolist())), max_iter=self.LPA_ROUNDS)
        self.shape = {
            "vertices": n,
            "edges": self.rows,
            "max_in_degree": int(np.bincount(d).max()),
            "max_out_degree": int(np.bincount(s).max()),
        }

    def query(self, tr) -> dict:
        g = self.g
        iters: list[float] = []
        t0 = time.perf_counter()
        pr = tr.call("pagerank", lambda: pagerank(
            g, fixed_iterations=self.ITERATIONS, iter_seconds=iters
        ).toPandas())
        tr.note("pagerank.iter_s", _median(iters[1:]))
        tr.note("pagerank.build_s", time.perf_counter() - t0 - sum(iters))
        cc = tr.call("components", lambda: connected_components(g).toPandas())
        lp = tr.call("label_propagation", lambda: label_propagation(
            g, max_iter=self.LPA_ROUNDS
        ).toPandas())
        ev = tr.call("eigenvector", lambda: eigenvector_centrality(
            g, fixed_iterations=self.ITERATIONS
        ).toPandas())
        return {"pr": pr, "cc": cc, "lpa": lp, "ev": ev}

    def check(self, out: dict) -> list[str]:
        bad = []
        if not _scores_match(out["pr"], "rank", self.ids, self.pr):
            bad.append("pagerank")
        if _by_id(out["cc"], "id", "component") != self.cc:
            bad.append("components")
        if _by_id(out["lpa"], "id", "label") != self.lpa:
            bad.append("label_propagation")
        if not _scores_match(out["ev"], "eigenvector", self.ids, self.ev):
            bad.append("eigenvector")
        return bad


def _motifs() -> dict[str, Motif]:
    path = Motif(directed=True)
    path.add_edge("A", "B")
    path.add_edge("B", "C")
    cycle = Motif(directed=True)
    rare_cycle = Motif(directed=True)
    rare_cycle.add_node("A", label="rare")
    for m in (cycle, rare_cycle):
        m.add_edge("A", "B")
        m.add_edge("B", "C")
        m.add_edge("C", "A")
    return {"two_path": path, "three_cycle": cycle, "rare_three_cycle": rare_cycle}


class MotifHub(Workload):
    """Motif counts and triangles on a power-law host with a planted
    hub and a skewed vertex label."""

    name = "motif-hub"
    N_VERTICES = 20_000
    N_EDGES = 100_000
    HUB_SHARE = 5  # percent of vertices wired to the hub, both ways
    MOTIFS = _motifs()

    def _generate(self) -> None:
        spark, nv, seed = self.spark, self.N_VERTICES, self.seed
        bucket = F.pmod(F.xxhash64("id", F.lit(seed + 7)), F.lit(100))
        spokes = spark.range(nv).where(bucket < self.HUB_SHARE).select(
            F.lit(nv).cast("long").alias("hub"), F.col("id")
        )
        hub_arcs = spokes.select(F.col("hub").alias("src"), F.col("id").alias("dst")).unionByName(
            spokes.select(F.col("id").alias("src"), F.col("hub").alias("dst"))
        )
        self.edges = (
            powerlaw_edges(spark, nv, self.N_EDGES, seed).unionByName(hub_arcs).localCheckpoint()
        )
        draw = F.pmod(F.xxhash64("id", F.lit(seed + 11)), F.lit(100))
        label = F.when(draw < 1, "rare").when(draw < 10, "mid").otherwise("common")
        self.vertices = spark.range(nv + 1).select(
            F.col("id"), F.create_map(F.lit("label"), label).alias("attrs")
        ).localCheckpoint()
        self.rows = self.edges.count()

    def _expect(self) -> None:
        pdf = self.edges.toPandas()
        src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        labels = self.vertices.select("id", F.col("attrs")["label"].alias("label")).toPandas()
        rare = labels.loc[labels["label"] == "rare", "id"].tolist()
        succ, pred = oracles.adjacency(src, dst)
        self.counts = {
            "two_path": oracles.directed_two_paths(succ, pred),
            "three_cycle": oracles.directed_three_cycles(succ, pred),
            "rare_three_cycle": oracles.directed_three_cycles(succ, pred, rare),
            "triangles": oracles.undirected_triangles(src, dst),
        }
        hub = self.N_VERTICES
        self.shape = {
            "vertices": self.N_VERTICES + 1,
            "edges": self.rows,
            "max_in_degree": max(len(v) for v in pred.values()),
            "max_out_degree": max(len(v) for v in succ.values()),
            "hub_in_degree": len(pred[hub]),
            "hub_out_degree": len(succ[hub]),
            "label_counts": {k: int(v) for k, v in labels["label"].value_counts().sort_index().items()},
        }

    def query(self, tr) -> dict:
        host = HostGraph(self.edges, self.vertices, directed=True)
        counts = {}
        try:
            if tr.enabled:
                tr.call("graph", lambda: [
                    host.degrees.count(), host.adjacency.count(), host.adjacency_deg.count()
                ])
            for name, motif in self.MOTIFS.items():
                if tr.enabled:
                    plan = tr.call("plans", lambda: compile_plan(motif), note="plans.compile_s")
                    tr.note("plans.steps", len(plan.steps))
                df = tr.call("match", lambda: find_motifs_df(motif, host), note="match.build_s")
                counts[name] = tr.call("match", df.count)
            tr.note("match.matches", sum(counts.values()))
            counts["triangles"] = tr.call(
                "triangles", lambda: triangle_count(self.edges.select("src", "dst"))
            )
        finally:
            host.unpersist()
        return counts

    def check(self, out: dict) -> list[str]:
        return [k for k, v in self.counts.items() if out.get(k) != v]


WORKLOADS = {w.name: w for w in (TranscriptsPipeline, PowerlawIterative, MotifHub)}
