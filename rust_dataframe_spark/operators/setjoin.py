"""Exact set-similarity join via prefix filtering (AllPairs/PPJoin family).

The LSH suite (operators/dedup.py, operators/similarity.py) answers
similarity joins *probabilistically* — tunable recall, possible false
negatives.  This module is the exact counterpart: **prefix filtering**
(Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07 "Scaling Up All Pairs")
finds every pair with Jaccard ≥ t, guaranteed, without the all-pairs
cross product.

The invariant: order each record's tokens by ascending global frequency
(rarest first) and keep only the first ``|d| - ⌈t·|d|⌉ + 1`` as its
*prefix*.  Two records with Jaccard ≥ t MUST share at least one prefix
token — so the equi-join on prefix tokens is a complete candidate
generator, and exact verification runs on candidates only.  Rare-first
ordering makes prefixes collide rarely (the rarest token of a record is
shared by few others), which is what keeps candidate counts near the
output size.

Scale shape: token-frequency table (vocab-bounded) built once and joined
back; candidate generation is one equi-join shuffled on the prefix token
(skewed common tokens appear in few prefixes *because* of rare-first
ordering; AQE splits the stragglers); verification is codegen'd
array_intersect on candidate pairs.  The vocabulary rank is the two-phase
distributed ``global_row_number`` (repartitionByRange + per-partition
window + O(partitions) offset prefix) — no single-partition funnel even at
web-scale vocabularies (10^8+ tokens), plan-pinned in
tests/test_plans.py::test_prefix_join_no_single_partition_window.

The candidate self-join and the two-sided verify join are the shared
candidates → verify pieces of operators/pairs.py; this module owns only
the prefix bound and the exact scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cache import persist_tracked
from .pairs import self_pairs, with_payload
from .training import global_row_number

__all__ = ["prefix_jaccard_join", "prefix_containment_join"]


def _ranked_docs(df: DataFrame, id_col: str, tokens_col: str, threshold: float):
    """The shared front half of the prefix-filter joins.  Returns
    ``(docs, ranks, prefix)``: the ``(did, toks)`` input, its persisted
    per-doc sorted rare-first rank arrays ``(did, rks, ...)``, and one
    ``(did, prk)`` row per rank in each doc's prefix of length
    ``|d| - ⌈t·|d|⌉ + 1``."""
    if threshold <= 0:
        # below any positive threshold the prefix invariant fails: pairs
        # sharing no token qualify but can never meet on a prefix token
        raise ValueError(f"prefix-filter joins need threshold > 0, got {threshold}")
    docs = df.select(F.col(id_col).alias("did"), F.col(tokens_col).alias("toks"))
    tok = docs.select("did", F.explode("toks").alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    # deterministic rare-first total order over the vocabulary — two-phase
    # distributed rank, never a global single-partition window (VERDICT r3 #1)
    ranked = global_row_number(vocab, ["cnt", "t"], out_col="rk").select("t", "rk")
    by_rank = (
        tok.join(ranked, "t")
        .groupBy("did")
        .agg(F.sort_array(F.collect_list("rk")).alias("rks"))
    )
    # the tiny epsilon keeps float error from ever SHORTENING the prefix
    # (longer prefix = more candidates = still exact; shorter = false
    # negatives).  The prefix frame is consumed by both sides of the
    # candidate join (and the containment join's inventory): without a
    # persist the whole rank pipeline (corpus explode + vocabulary rank +
    # per-doc collect) executes once per reader
    sized = persist_tracked(
        by_rank.withColumn("sz", F.size("rks")).withColumn(
            "plen",
            F.col("sz")
            - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)).cast("int")
            + F.lit(1),
        )
    )
    prefix = sized.select("did", F.explode(F.slice("rks", 1, F.col("plen"))).alias("prk"))
    return docs, sized, prefix


def prefix_jaccard_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    *,
    threshold: float,
) -> DataFrame:
    """All pairs (id_a < id_b) with ``Jaccard(tokens_a, tokens_b) ≥
    threshold`` — exact, via prefix-filtered candidate generation.

    ``tokens_col`` must be an array of distinct tokens per row.  Returns
    ``(id_a, id_b, jaccard)``.  Raises ``ValueError`` for ``threshold <= 0``.
    """
    docs, _, prefix = _ranked_docs(df, id_col, tokens_col, threshold)
    cands = self_pairs(prefix, "did", ["prk"], distinct=True)
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        with_payload(cands, docs, "did", {"toks": F.col("toks")})
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_containment_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    *,
    threshold: float,
) -> DataFrame:
    """All ORDERED pairs (id_a ≠ id_b) with ``containment(A→B) = |A∩B|/|A|
    ≥ threshold`` — exact set-containment join, the asymmetric complement
    of :func:`prefix_jaccard_join`.

    Containment is what catches SUBSET duplicates — a truncated article, a
    quoted excerpt, a doc embedded verbatim inside a larger one — which
    symmetric Jaccard misses (a 10-line excerpt of a 1000-line doc has
    Jaccard ≈ 0.01 but containment 1.0), and which MinHash band-LSH
    under-recalls for the same reason (MinHash collision probability tracks
    Jaccard, not containment).

    Prefix invariant (PRETTI/PIEJoin family): if ``|A∩B| ≥ t·|A|`` then
    ``|A\\B| ≤ |A|·(1-t)``, so A's rare-first prefix of length
    ``|A| - ⌈t·|A|⌉ + 1`` (one more than A can afford to miss) must contain
    at least one token of B.  Candidates therefore come from joining A's
    PREFIX tokens against B's FULL token inventory — complete by
    construction; verification computes exact containment on candidates
    only.

    Scale shape: same two-phase vocabulary rank as the Jaccard join (no
    single-partition window); the B side is a full inverted index, so the
    candidate join is shuffled on token rank with frequent-token skew —
    rare-first prefixes keep the A side selective, AQE splits the hot
    token lists.  Returns ``(id_a, id_b, containment)`` where A is the
    (near-)contained side.  Raises ``ValueError`` for ``threshold <= 0``.
    """
    docs, ranks, prefix = _ranked_docs(df, id_col, tokens_col, threshold)
    inventory = ranks.select(
        F.col("did").alias("id_b"), F.explode("rks").alias("prk")
    )
    cands = (
        prefix.select(F.col("did").alias("id_a"), "prk")
        .join(inventory, "prk")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cont = F.size(F.array_intersect("toks_a", "toks_b")) / F.size("toks_a")
    return (
        with_payload(cands, docs, "did", {"toks": F.col("toks")})
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
