"""Exact set-similarity join via prefix filtering (AllPairs/PPJoin family).

The LSH suite (operators/dedup.py, operators/similarity.py) answers
similarity joins *probabilistically* — tunable recall, possible false
negatives.  This module is the exact counterpart: **prefix filtering**
(Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07 "Scaling Up All Pairs")
finds every pair with Jaccard ≥ t, guaranteed, without the all-pairs
cross product.

The invariant: order each record's tokens by one global total order and
keep only the first ``|d| - ⌈t·|d|⌉ + 1`` as its *prefix*.  Two records
with Jaccard ≥ t MUST share at least one prefix token — so the equi-join
on prefix tokens is a complete candidate generator, and exact
verification runs on candidates only.  The order is ``(count, token)``:
rarest first by the token's corpus document frequency, ties broken by
the token itself.  Rare-first ordering makes prefixes collide rarely (the
rarest token of a record is shared by few others), which keeps candidate
counts near the output size.  Each doc sorts its own ``(count, token)``
structs, so no global rank, window or range shuffle is needed.

The **size filter** (AllPairs) prunes candidates before the verify: a
pair can only reach Jaccard ≥ t if ``t·|a| ≤ |b| ≤ |a|/t``, and a
containment ``|A∩B|/|A| ≥ t`` needs ``|B| ≥ t·|A|``.  Both bounds use
the prefix length's ``⌈t·|d|⌉``, with the same epsilon, inside the
candidate join.

Null tokens are no tokens: they are dropped before counting, so the
prefix, the sizes the size filter compares and the verify's sets all
hold the non-null tokens only.

Scale shape: the token-count table is vocab-bounded and joined back once;
candidate generation is one equi-join shuffled on the prefix token
(skewed common tokens appear in few prefixes *because* of rare-first
ordering; AQE splits the stragglers); verification is codegen'd
array_intersect on candidate pairs, whose payload comes from the
persisted per-doc frame through operators/pairs.with_payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cache import persist_tracked
from .pairs import with_payload

__all__ = ["prefix_jaccard_join", "prefix_containment_join"]


def _candidates(
    df: DataFrame, id_col: str, tokens_col: str, threshold: float, *, containment: bool
) -> DataFrame:
    """The shared front half of the prefix-filter joins: the distinct
    candidate pairs ``(id_a, id_b)`` with both docs' non-null tokens as
    ``toks_a``/``toks_b``.  A's prefix tokens meet B's prefix (Jaccard) or
    all of B's tokens (``containment``), under the size filter."""
    if threshold <= 0:
        # below any positive threshold the prefix invariant fails: pairs
        # sharing no token qualify but can never meet on a prefix token
        raise ValueError(f"prefix-filter joins need threshold > 0, got {threshold}")
    tok = df.select(F.col(id_col).alias("did"), F.explode(F.array_compact(tokens_col)).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    ordered = (
        tok.join(vocab, "t")
        .groupBy("did")
        .agg(F.sort_array(F.collect_list(F.struct("cnt", "t"))).alias("ct"))
    )
    # lo = ⌈t·sz⌉, the least overlap (and partner size) a qualifying pair
    # needs.  The tiny epsilon keeps float error from ever RAISING lo: a
    # longer prefix and a looser size bound only add candidates, a shorter
    # one drops pairs.  Both candidate-join sides and both payloads read
    # this frame: without a persist the corpus explode, token count and
    # per-doc sort would run once per reader
    ranks = persist_tracked(
        ordered.select("did", F.col("ct.t").alias("toks"), F.size("ct").alias("sz")).withColumn(
            "lo", F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)).cast("int")
        )
    )
    prefix = F.slice("toks", 1, F.col("sz") - F.col("lo") + 1)
    a, b = (
        ranks.select(
            F.col("did").alias(f"id_{s}"),
            F.explode(keys).alias("t"),
            F.col("sz").alias(f"sz_{s}"),
            F.col("lo").alias(f"lo_{s}"),
        )
        for s, keys in (("a", prefix), ("b", F.col("toks") if containment else prefix))
    )
    # B must hold the overlap; a Jaccard pair needs that both ways
    keep = (F.col("sz_b") >= F.col("lo_a")) & (
        (F.col("id_a") != F.col("id_b"))
        if containment
        else (F.col("id_a") < F.col("id_b")) & (F.col("sz_a") >= F.col("lo_b"))
    )
    cands = a.join(b, "t").filter(keep).select("id_a", "id_b").distinct()
    return with_payload(cands, ranks, "did", {"toks": F.col("toks")})


def prefix_jaccard_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    *,
    threshold: float,
) -> DataFrame:
    """All pairs (id_a < id_b) with ``Jaccard(tokens_a, tokens_b) ≥
    threshold`` — exact, via prefix-filtered candidate generation with the
    size filter ``t·|a| ≤ |b| ≤ |a|/t``.

    ``tokens_col`` must be an array of distinct tokens per row; null
    tokens are ignored (see the module docstring).  Returns ``(id_a, id_b,
    jaccard)``.  Raises ``ValueError`` for ``threshold <= 0``.
    """
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        _candidates(df, id_col, tokens_col, threshold, containment=False)
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
    ``|A\\B| ≤ |A|·(1-t)``, so A's prefix of length ``|A| - ⌈t·|A|⌉ + 1``
    (one more than A can afford to miss) must contain at least one token
    of B.  Candidates therefore come from joining A's PREFIX tokens
    against B's FULL token inventory — complete by construction — under
    the size bound ``|B| ≥ ⌈t·|A|⌉`` (B must hold the overlap);
    verification computes exact containment on candidates only.

    Scale shape: the same per-doc ``(count, token)`` order as the Jaccard
    join; the B side is a full inverted index, so the candidate join is
    shuffled on the token with frequent-token skew — rare-first prefixes
    keep the A side selective, AQE splits the hot token lists.  Null tokens
    are ignored.  Returns ``(id_a, id_b, containment)`` where A is the
    (near-)contained side.  Raises ``ValueError`` for ``threshold <= 0``.
    """
    cont = F.size(F.array_intersect("toks_a", "toks_b")) / F.size("toks_a")
    return (
        _candidates(df, id_col, tokens_col, threshold, containment=True)
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
