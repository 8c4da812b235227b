"""Candidates → verify: the shared shape of every thresholded similarity join.

Each similarity join here (MinHash-LSH and SRP near-dups, the prefix-filter
set joins, the incremental and streaming band probes) has one shape: a
pruning bound maps every row to a few keys, rows sharing a key become
candidate pairs, and only candidates are verified exactly.  This module
holds the pieces of that shape; each caller keeps its own score, its own
order of round and filter, and its own persist points.

* :func:`band_hashes` — the MinHash band keys (b bands × r rows).
* :func:`self_pairs` — the keyed self-join emitting ``(id_a, id_b)`` with
  ``id_a < id_b``.
* :func:`with_payload` — the two-sided join that brings each candidate's
  verify payload to the pair, so payloads travel for candidates only.
* :func:`collapse_exact` / :func:`expand_groups` — the exact-duplicate fast
  path: verify one representative per distinct payload, then expand the
  verified pairs back through group membership.

Scale: every join is an equi-join (on the candidate key, then on the pair
ids), so plans are hash or sort-merge joins end to end — never a nested
loop — and AQE skew splitting applies to hot keys.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from .cache import persist_tracked

__all__ = ["band_hashes", "self_pairs", "with_payload", "collapse_exact", "expand_groups"]


def band_hashes(sig: Column, num_hashes: int, bands: int) -> list[Column]:
    """The LSH band keys of a MinHash signature: band ``b`` is the md5 of
    its ``num_hashes // bands`` slots joined by ``'|'``.

    Raises ``ValueError`` unless ``bands >= 1``, ``rows_per_band >= 1`` and
    ``num_hashes % bands == 0``: a zero-row band hashes the empty slice, so
    every document collides with every other (all pairs become
    candidates), and a remainder silently leaves slots out of every band.
    """
    if bands < 1 or num_hashes < bands or num_hashes % bands:
        raise ValueError(
            f"LSH banding needs bands >= 1 and num_hashes a positive multiple "
            f"of bands, got num_hashes={num_hashes}, bands={bands}"
        )
    r = num_hashes // bands
    return [F.md5(F.concat_ws("|", F.slice(sig, b * r + 1, r))) for b in range(bands)]


def self_pairs(keyed: DataFrame, id_col: str, keys: list[str], *, distinct: bool) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, of rows of
    ``keyed`` that agree on every column of ``keys``.

    ``distinct=True`` dedups the pairs: band and prefix keys repeat an id
    (a pair sharing several keys is emitted once per key), while bucket and
    digest keys hold each id once, so their pairs are already distinct.
    """
    # in the frame's own column order: an in-order rename of a persisted
    # frame folds into its cached scan
    cols = [c for c in keyed.columns if c == id_col or c in keys]
    a = keyed.select(*[F.col(c).alias("id_a") if c == id_col else F.col(c) for c in cols])
    b = keyed.select(*[F.col(c).alias("id_b" if c == id_col else f"{c}_b") for c in cols])
    conds = [a[k] == b[f"{k}_b"] for k in keys] + [a["id_a"] < b["id_b"]]
    pairs = a.join(b, reduce(operator.and_, conds)).select("id_a", "id_b")
    return pairs.distinct() if distinct else pairs


def with_payload(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    cols: dict[str, Column],
    *,
    other: DataFrame | None = None,
    keys: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Join each candidate pair to the payload it is verified on.

    ``cols`` maps a payload name to a column expression over ``df``; side
    a gets ``{name}_a`` and side b ``{name}_b``.  ``other`` is side b's
    frame when the pair spans two inputs (new batch vs old corpus).  Two
    equi-joins on the pair ids ``keys``.
    """
    sides = [
        src.select(F.col(id_col).alias(key), *[c.alias(f"{n}_{s}") for n, c in cols.items()])
        for key, s, src in zip(keys, "ab", (df, df if other is None else other))
    ]
    return pairs.join(sides[0], keys[0]).join(sides[1], keys[1])


def collapse_exact(
    df: DataFrame, id_col: str, payload_col: str, digest: Column
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact duplicates before candidate generation.

    Real corpora are exact-dup-heavy, and identical payloads share every
    key, so a duplicate group of size g inflates candidates by O(g²) — each
    paying a full verify.  Returns ``(members, reps)``:

    * ``members`` — ``(__h, id)``, persisted: one row per input row, its
      group ``digest``; digests and ids only.
    * ``reps`` — ``(__h, id, payload)``: one representative (min id) per
      distinct payload.  ``first(payload)`` is deterministic, since a group
      shares one payload.  Not persisted; the caller decides.
    """
    h = df.select(F.col(id_col), F.col(payload_col), digest.alias("__h"))
    members = persist_tracked(h.select("__h", F.col(id_col)))
    reps = h.groupBy("__h").agg(
        F.min(id_col).alias(id_col), F.first(payload_col).alias(payload_col)
    )
    return members, reps


def expand_groups(
    members: DataFrame, rep_pairs: DataFrame, id_col: str, score_col: str
) -> DataFrame:
    """Expand verified representative pairs ``(__h_a, __h_b, score)`` back
    to member pairs ``(id_a, id_b, score)``.

    A cross-group pair inherits its representatives' score (identical
    payloads score identically); a within-group pair scores exactly 1.0.
    ``rep_pairs`` is persisted (tracked for ``cache.release``).
    """
    rep_pairs = persist_tracked(rep_pairs)
    ma = members.select(F.col("__h").alias("__h_a"), F.col(id_col).alias("m_a"))
    mb = members.select(F.col("__h").alias("__h_b"), F.col(id_col).alias("m_b"))
    cross = (
        rep_pairs.join(ma, "__h_a")
        .join(mb, "__h_b")
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            F.col(score_col),
        )
    )
    within = self_pairs(members, id_col, ["__h"], distinct=False)
    return cross.unionByName(within.select("id_a", "id_b", F.lit(1.0).alias(score_col)))
