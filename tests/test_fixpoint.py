"""operators/fixpoint: the one driver of every DataFrame-state loop.

Pins the converge mode (round count, the loud cap, collision safety, a
signature that costs no job), the round counts of the connected-components
operators that run through it, and bounded lineage for every fixed-round
operator run past its checkpoint cadence.
"""

from __future__ import annotations

import math
import random
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs
from rust_dataframe_spark.operators import dedup, fixpoint as fx
from rust_dataframe_spark.operators.fixpoint import LINEAR_EVERY, fixpoint

CHAIN = 10  # nodes 0..9, diameter 9


def _min_label_step(spark, calls: list):
    """Toy min-label propagation over an undirected 10-node chain."""
    pairs = [(i, i + 1) for i in range(CHAIN - 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )

    def step(labels, r):
        calls.append(r)
        neigh = edges.join(labels, edges["dst"] == labels["id"]).select(
            edges["src"].alias("id"), "label"
        )
        return labels.unionByName(neigh).groupBy("id").agg(F.min("label").alias("label"))

    start = spark.createDataFrame(
        [(i, i) for i in range(CHAIN)], "id bigint, label bigint"
    )
    return start, step


def _labels(df) -> dict:
    return {r["id"]: r["label"] for r in df.collect()}


def test_converges_in_diameter_plus_one_rounds(spark):
    calls: list = []
    start, step = _min_label_step(spark, calls)
    out = fixpoint(start, step, 50, converge="toy_cc")
    assert len(calls) == (CHAIN - 1) + 1
    assert _labels(out) == {i: 0 for i in range(CHAIN)}


def test_cap_raises_with_operator_name(spark):
    calls: list = []
    start, step = _min_label_step(spark, calls)
    with pytest.raises(RuntimeError, match="toy_cc did not converge in 5 rounds"):
        fixpoint(start, step, 5, converge="toy_cc")
    assert len(calls) == 5


def test_hash_collision_never_stops_early(spark, monkeypatch):
    """Every round's row hash collides with the last; only the exact check
    may end the loop, so it still stops at the true fixed point."""
    monkeypatch.setattr(fx, "_row_hash", lambda cols: F.lit(0))
    calls: list = []
    start, step = _min_label_step(spark, calls)
    out = fixpoint(start, step, 50, converge="toy_cc")
    assert len(calls) == CHAIN
    assert _labels(out) == {i: 0 for i in range(CHAIN)}


def test_signature_rides_the_checkpoint_job(spark):
    """Converge mode runs exactly the jobs of bare eager checkpoints of the
    same frames: the initial state plus one per round (no round converges
    within the cap here, so no exact check runs)."""
    start, step = _min_label_step(spark, [])

    def signed():
        with pytest.raises(RuntimeError):
            fixpoint(start, step, 3, converge="toy_cc")

    def bare():
        fixpoint(start.localCheckpoint(eager=True), step, 3, every=1)

    assert spark_jobs(spark, signed) == spark_jobs(spark, bare) > 0


# -- connected components keep their round counts ---------------------------


def _count_rounds(monkeypatch) -> list:
    calls: list = []

    def counting(state, step, rounds, **kw):
        def counted(s, r):
            calls.append(r)
            return step(s, r)

        return fixpoint(state, counted, rounds, **kw)

    monkeypatch.setattr(dedup, "fixpoint", counting)
    return calls


@pytest.mark.parametrize(
    "op, rounds", [(dedup.dup_clusters, 31), (dedup.dup_clusters_star, 6)]
)
def test_chain_round_counts(spark, monkeypatch, op, rounds):
    """On a 30-edge chain min-label propagation needs diameter + 1 rounds;
    large-star/small-star needs 6 (both as before the shared driver)."""
    calls = _count_rounds(monkeypatch)
    df = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint")
    out = op(df, max_iter=100).collect()
    assert len(calls) == rounds
    assert len(out) == 31 and {r["cluster_id"] for r in out} == {0}


def test_star_on_a_star_graph_stops_after_one_round(spark, monkeypatch):
    calls = _count_rounds(monkeypatch)
    df = spark.createDataFrame([(0, i) for i in range(1, 6)], "id_a bigint, id_b bigint")
    out = sorted(map(tuple, dedup.dup_clusters_star(df).collect()))
    assert len(calls) == 1
    assert out == [(i, 0) for i in range(6)]


# -- fixed-round operators: 12 rounds, correct answers, bounded lineage -------

ROUNDS = 12


def _joins(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    return sum(1 for line in plan.splitlines() if re.search(r"\bJoin\b", line))


def _graph(seed: int = 5, n: int = 14, m: int = 30) -> list:
    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def test_bfs_levels_lineage(spark):
    from rust_dataframe_spark.operators.graph import bfs_levels

    chain = spark.createDataFrame([(i, i + 1) for i in range(15)], "src bigint, dst bigint")
    out = bfs_levels(chain, seeds=[0], max_hops=ROUNDS)
    assert _joins(out) <= LINEAR_EVERY * 1
    assert {r["node"]: r["dist"] for r in out.collect()} == {i: i for i in range(ROUNDS + 1)}


def test_sssp_lineage(spark):
    from rust_dataframe_spark.operators.graph import sssp

    chain = spark.createDataFrame(
        [(i, i + 1, 0.5) for i in range(15)], "src bigint, dst bigint, w double"
    )
    seeds = spark.createDataFrame([(0,)], "node bigint")
    out = sssp(chain, seeds=seeds, rounds=ROUNDS)
    assert _joins(out) <= LINEAR_EVERY * 1
    assert {r["node"]: r["dist"] for r in out.collect()} == {
        i: 0.5 * i for i in range(ROUNDS + 1)
    }


def test_label_propagation_lineage(spark):
    from rust_dataframe_spark.operators.graph import label_propagation

    edges = _graph()
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    want = {v: v for v in nbrs}
    for _ in range(ROUNDS):
        want = {
            v: min(Counter(want[u] for u in ns).items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for v, ns in nbrs.items()
        }
    out = label_propagation(spark.createDataFrame(edges, "u bigint, v bigint"), rounds=ROUNDS)
    assert _joins(out) <= LINEAR_EVERY * 1
    assert {r["node"]: r["label"] for r in out.collect()} == want


def test_pagerank_lineage(spark):
    from rust_dataframe_spark.operators.graph import pagerank

    edges = _graph(seed=6) + [(b, a) for a, b in _graph(seed=7)]
    edges = sorted(set(edges))
    scale, base = 1_000_000, 1_000_000 - (1_000_000 * 85) // 100
    nodes = {x for e in edges for x in e}
    deg = Counter(a for a, _ in edges)
    r = {v: scale for v in nodes}
    for _ in range(ROUNDS):
        s = Counter()
        for a, b in edges:
            s[b] += (85 * r[a]) // (100 * deg[a])
        r = {v: base + s[v] for v in nodes}
    out = pagerank(spark.createDataFrame(edges, "src bigint, dst bigint"), n_iter=ROUNDS)
    assert _joins(out) <= LINEAR_EVERY * 2
    assert {row["node"]: row["r"] for row in out.collect()} == r


def test_k_core_lineage(spark):
    from rust_dataframe_spark.operators.graph import k_core

    edges = _graph(seed=8, n=20, m=40)
    alive = set(x for e in edges for x in e)
    for _ in range(ROUNDS):
        live = [(a, b) for a, b in edges if a in alive and b in alive]
        deg = Counter(x for e in live for x in e)
        alive = {v for v, d in deg.items() if d >= 3}
    live = [(a, b) for a, b in edges if a in alive and b in alive]
    want = dict(Counter(x for e in live for x in e))
    out = k_core(spark.createDataFrame(edges, "u bigint, v bigint"), k=3, rounds=ROUNDS)
    assert _joins(out) <= 1 * 2
    assert {r["node"]: r["deg"] for r in out.collect()} == want


def test_power_iteration_lineage(spark):
    from rust_dataframe_spark.operators.linalg import power_iteration

    c = [[4.0, 1.0, 0.5], [1.0, 3.0, 0.25], [0.5, 0.25, 1.0]]
    x = [1.0, 1.0, 1.0]
    for _ in range(ROUNDS):
        y = [math.fsum(c[i][j] * x[j] for j in range(3)) for i in range(3)]
        nrm = math.sqrt(math.fsum(v * v for v in y))
        x = [v / nrm for v in y]
    cov = spark.createDataFrame(
        [(i, j, c[i][j]) for i in range(3) for j in range(3)], "i int, j int, cov double"
    )
    out = power_iteration(cov, iters=ROUNDS)
    assert _joins(out) <= 1 * 2
    got = {r["i"]: r["x"] for r in out.collect()}
    assert [got[i] for i in range(3)] == pytest.approx(x, abs=1e-12)


def test_mmr_select_lineage(spark):
    from rust_dataframe_spark.operators.similarity import mmr_select

    rng = random.Random(9)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(3)] for i in range(16)}
    qv = [0.9, 0.2, -0.1]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    lam, k = 0.7, ROUNDS + 1
    rel = {i: cos(qv, v) for i, v in vecs.items()}
    picks = [min(rel, key=lambda i: (-rel[i], i))]
    while len(picks) < k:
        score = {
            i: lam * rel[i] - (1.0 - lam) * max(cos(vecs[i], vecs[s]) for s in picks)
            for i in vecs if i not in picks
        }
        picks.append(min(score, key=lambda i: (-score[i], i)))
    cand = spark.createDataFrame(list(vecs.items()), "vec_id bigint, embedding array<double>")
    q = spark.createDataFrame([(0, qv)], "vec_id bigint, embedding array<double>")
    out = mmr_select(cand, "vec_id", "embedding", q, k=k, lam=lam, shortlist=16)
    assert _joins(out) <= 1 * 3
    assert [r["cid"] for r in out.orderBy("rank").collect()] == picks
