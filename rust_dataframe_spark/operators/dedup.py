"""Deduplication operators for large-scale training-data pipelines.

Four families, each a composition of built-in DataFrame ops (JVM-side, no
Python row loop), designed so every stage is shuffle-bounded and scales
linearly with corpus size:

* **exact_dedup** — hash group-by on content; shuffle carries one row per
  distinct content hash (md5), not the text itself.
* **minhash** — per-doc MinHash signatures over word n-gram shingles.  The
  hash family is ``min(md5(shingle || '#' || i))`` for i in 0..k-1: string-min
  over a cryptographic hex digest is a valid permutation-min approximation and,
  crucially, is computable identically in any engine (the DuckDB oracle
  replays it bit-for-bit).  All array ops (transform/array_min) run in
  whole-stage codegen — zero Python.
* **lsh_candidate_pairs** — band the signature (b bands x r rows), hash each
  band, explode to (band_idx, band_hash), self-join on the band key.  At 100 TB
  the join is shuffle-on-band-hash where each bucket is tiny by construction;
  skewed buckets (degenerate shingles) are handled by AQE skew splitting.
* **near_dup_pairs** — verify candidates with exact n-gram Jaccard via
  array_intersect/array_union on the (deduplicated) candidate pairs only —
  the classic candidate-then-verify shape that avoids the O(n^2) cross join.
  Banding, the pair self-join, the verify payload join and the exact-dup
  collapse are the shared pieces of operators/pairs.py.

SimHash lives here too as a Pandas-UDF variant (vectorized Arrow batches) —
the shape to use when the per-doc computation doesn't decompose into array
built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .cache import persist_tracked
from .fixpoint import fixpoint
from .pairs import band_hashes, collapse_exact, expand_groups, self_pairs, with_payload

__all__ = [
    "exact_dedup",
    "shingle",
    "shingle_jaccard",
    "minhash_signature",
    "minhash_signatures_df",
    "lsh_candidate_pairs",
    "lsh_band_index",
    "incremental_near_dups",
    "near_dup_pairs",
    "dup_clusters",
    "dup_clusters_star",
    "keep_canonical",
    "decontaminate",
    "bloom_decontaminate",
    "simhash",
    "repeated_ngram_spans",
    "excise_repeated_spans",
    "cdc_chunks",
    "blocked_weighted_jaccard",
    "sorted_neighborhood_pairs",
]


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str, *, keep: str = "min"
) -> DataFrame:
    """Exact dedup: one surviving id per distinct content value.

    Groups on ``md5(content)`` so the shuffle key is a fixed 32-byte digest
    regardless of document size (shuffling full documents at 100 TB is the
    naive mistake this avoids).  Returns (keep_id, copies).
    """
    if keep not in ("min", "max"):
        raise ValueError(f"exact_dedup keep must be 'min' or 'max', got {keep!r}")
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(F.md5(F.col(content_col)).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(agg.alias("keep_id"), F.count(F.lit(1)).alias("copies"))
        .drop("__h")
    )


def shingle(text_col, n: int = 3):
    """Word n-gram shingles as an array column (JVM-side).

    ``transform(sequence(0, n_words - n), i -> words[i+1 .. i+n] joined)``;
    documents shorter than n words yield their whole text as one shingle.
    """
    words = F.split(text_col, " ")
    n_sh = F.greatest(F.size(words) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )


def shingle_jaccard(a, b, n: int | None = 3):
    """Exact Jaccard of two texts' distinct word ``n``-gram sets — the
    verify score of every MinHash path.  With ``n=None``, ``a`` and ``b``
    are already distinct shingle arrays."""
    if n is not None:
        a, b = (F.array_distinct(shingle(c, n)) for c in (a, b))
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def minhash_signature(shingles_col, k: int = 16, *, hash_family: str = "md5"):
    """k-element MinHash signature from salted digests, one array pass.

    Hash family (``hash_family``):

    * ``"md5"`` (default): slot i takes the 8-hex-char window ``(i%4)*8``
      of ``md5(shingle || '#' || i//4)`` (no salt for digest 0).  Disjoint
      32-bit windows of a crypto digest are independent uniform values, so
      each slot is a valid permutation-min; sharing one digest across 4
      slots cuts hash work 4x versus one md5 per slot.  md5 is the
      ENGINE-REPLAYABLE choice — DuckDB recomputes the identical bits, so
      every oracle in the LSH family stays a hash-exact check.
    * ``"xxhash64"``: slot i = zero-padded hex of ``xxhash64(shingle, i)``
      — Spark's non-cryptographic JVM hash, the PRODUCTION choice (md5
      costs ~10 ns/byte; xxhash64 ~0.1).  String-min over the fixed-width
      hex is a min over the unsigned reinterpretation — a valid uniform
      permutation, just not one DuckDB can replay (no xxhash64 there), so
      use it where throughput matters and the oracle gate doesn't apply.
      Same signature schema (array<string>), so banding/verify downstream
      is family-agnostic.  Measured at sf0.1: see SCALE.md.

    Execution shape: ONE ``transform`` maps each shingle to its k-window
    array, then ``aggregate`` + ``zip_with(least)`` folds the positional min —
    all per-row in whole-stage codegen, **zero shuffle**, ceil(k/4) md5 calls
    per shingle.  (Measured 2-3x faster than either k separate
    array_min(transform(...)) projections — which re-hash per slot — or an
    explode + groupBy formulation, which pays a shuffle and loses pipelining.)

    Values are 8-char hex strings; string min == numeric min on equal-length
    hex, and P(min_a == min_b) approximates Jaccard(a, b) as in the original
    MinHash construction.  '~' sorts after every hex char, so the init row is
    the identity for the fold; empty shingle arrays yield all-sentinel rows.
    """

    if hash_family == "md5":
        slot_width = 8

        def windows(s):
            digests = [
                F.md5(s) if j == 0 else F.md5(F.concat(s, F.lit(f"#{j}")))
                for j in range((k + 3) // 4)
            ]
            return F.array(
                *[
                    F.substring(digests[i // 4], (i % 4) * 8 + 1, 8)
                    for i in range(k)
                ]
            )

    elif hash_family == "xxhash64":
        slot_width = 16

        def windows(s):
            return F.array(
                *[
                    F.lpad(F.hex(F.xxhash64(s, F.lit(i))), 16, "0")
                    for i in range(k)
                ]
            )

    else:
        raise ValueError(f"hash_family must be md5|xxhash64, got {hash_family!r}")

    return F.aggregate(
        F.transform(shingles_col, windows),
        F.array_repeat(F.lit("~" * slot_width), k),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
    )


def minhash_signatures_df(
    df: DataFrame, id_col: str, shingles_col: str, k: int = 16, *, hash_family: str = "md5"
) -> DataFrame:
    """DataFrame-level convenience wrapper over ``minhash_signature``;
    returns (id, sig: array<string>).  Same hash family, same one-pass
    shuffle-free plan."""
    return df.select(
        F.col(id_col),
        minhash_signature(F.col(shingles_col), k, hash_family=hash_family).alias("sig")
    )


def _banded(sig_df: DataFrame, keep: list[str], sig_col: str, num_hashes: int, bands: int):
    """One (*keep, band, bh) row per band per signature row."""
    structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), h.alias("bh"))
            for b, h in enumerate(band_hashes(F.col(sig_col), num_hashes, bands))
        ]
    )
    keep_cols = [F.col(c) for c in keep]
    return sig_df.select(*keep_cols, F.explode(structs).alias("b")).select(
        *keep_cols, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str, sig_col: str, *, bands: int, rows_per_band: int
) -> DataFrame:
    """Candidate pairs: docs sharing >= 1 LSH band.

    Explodes each doc into ``bands`` (band_idx, band_hash) rows, self-joins on
    the band key, dedups pairs.  Returns (id_a, id_b) with id_a < id_b.
    """
    banded = _banded(sig_df, [id_col], sig_col, bands * rows_per_band, bands)
    return self_pairs(banded, id_col, ["band", "bh"], distinct=True)


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_family: str = "md5",
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate detection.

    Returns every pair with n-gram Jaccard >= threshold as (id_a, id_b,
    jaccard), jaccard rounded to 6dp.

    Pipeline: **exact-dup collapse** (md5 group-by) -> shingle -> minhash ->
    LSH candidates -> exact Jaccard verify, all on the distinct-text
    *representatives* only -> expand pairs back through group membership.

    The collapse step is the load-bearing scale decision: real corpora are
    exact-dup-heavy, identical texts have identical signatures, so every LSH
    bucket holds whole duplicate groups and candidate pairs grow as
    O(sum(group^2)) — each paying a full shingle-set verify.  Collapsing
    first verifies once per *distinct-text* pair and reconstitutes the
    answer: within-group pairs are jaccard 1.0 by definition; cross-group
    pairs inherit their representatives' jaccard (identical texts, identical
    shingle sets).  Measured on a 10x corpus where every text has 10 copies:
    296s -> ~3s, identical output.
    """
    from ..context import widen

    # 1. collapse exact duplicates: one representative per distinct text
    mem, rep_docs = collapse_exact(widen(df), id_col, text_col, F.md5(F.col(text_col)))
    # rep_docs fans into THREE consumers (the signature stage and both
    # sides of the verify join), and each reference would re-run the
    # corpus scan + md5 + full-text groupBy shuffle — persist so the
    # collapse runs once (MEMORY_AND_DISK; same discipline as `mem`/`sig`).
    # 100 TB footprint note (ADVICE r12): unlike `mem` this persist
    # carries FULL TEXT per distinct doc — a corpus-sized spill
    # footprint at scale.  The trade is deliberate: all three consumers
    # need the text itself (shingling and both verify sides), so a
    # text-free (id, __h) table would re-join text per consumer and
    # re-run the very scans the persist exists to collapse; the spill
    # is disk-backed, per-query released, and bounded by the DISTINCT
    # corpus (duplicates are already collapsed here).
    rep_docs = persist_tracked(rep_docs)

    # 2. LSH over representatives.  No array_distinct before minhash: MinHash
    # is multiset-invariant (duplicate shingles can't change a min) and the
    # distinct pass costs ~40% of the signature stage.  Persist only the
    # signatures (k hex strings/doc) — at 100 TB you checkpoint this table,
    # never the shingle sets.
    sh = rep_docs.select(F.col(id_col), shingle(F.col(text_col), shingle_n).alias("shingles"))
    sig = persist_tracked(
        minhash_signatures_df(
            sh, id_col, "shingles", num_hashes, hash_family=hash_family
        )
    )
    banded = _banded(sig, [id_col], "sig", num_hashes, bands)
    cands = self_pairs(banded, id_col, ["band", "bh"], distinct=True)

    # 3. verify candidates only: join texts, recompute shingles per pair —
    # O(distinct-text candidates), not O(corpus).  Each side carries its
    # group digest through, so the expansion needs no rep->digest join.
    rep_pairs = (
        with_payload(cands, rep_docs, id_col, {"t": F.col(text_col), "__h": F.col("__h")})
        .select(
            "__h_a",
            "__h_b",
            F.round(shingle_jaccard(F.col("t_a"), F.col("t_b"), shingle_n), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # 4. expand through group membership: cross-group pairs inherit their
    # representatives' jaccard, within-group pairs are exactly 1.0.
    return expand_groups(mem, rep_pairs, id_col, "jaccard")


def dup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", *, max_iter: int = 20
) -> DataFrame:
    """Connected components over near-dup pairs: every document that appears
    in a pair gets a ``cluster_id`` = the smallest doc id reachable through
    the duplicate graph.  The production dedup decision is "keep cluster_id,
    drop the rest" — pairs alone under-delete when duplicates chain
    (A~B, B~C but A!~C).

    Iterative min-label propagation: each round every node takes the min of
    its own and its neighbors' labels; converges in O(graph diameter) rounds
    (near-dup graphs are shallow — dup clusters are cliques or short chains).
    Each round is one join + one map-side-combined groupBy, run by
    ``fixpoint.fixpoint`` in converge mode: every round is checkpointed (the
    labels feed both union branches, so the plan would double per round —
    the diameter-9 chain test OOMed without it) and the checkpoint job
    itself computes the label set's convergence signature.  For
    planet-scale graphs swap in the alternating large-star/small-star
    algorithm (same primitive ops, better worst-case rounds).
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    adj = persist_tracked(fwd.unionByName(rev).distinct())
    labels = adj.select(F.col("src").alias("id"), F.col("src").alias("label")).distinct()

    def _round(labels: DataFrame, _r: int) -> DataFrame:
        neigh = (
            adj.join(labels, adj["dst"] == labels["id"])
            .select(adj["src"].alias("id"), F.col("label"))
        )
        return labels.unionByName(neigh).groupBy("id").agg(F.min("label").alias("label"))

    # an un-converged label set is silently WRONG (labels only traveled
    # max_iter hops): fixpoint raises rather than return it
    labels = fixpoint(
        labels,
        _round,
        max_iter,
        converge="dup_clusters",
        remedy="raise max_iter, or use dup_clusters_star (O(log^2 n) rounds)",
    )
    adj.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    order_by: list,
    *,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Pick ONE canonical row per duplicate cluster — the decision step that
    turns cluster labels (dup_clusters / dup_clusters_star) into a deduped
    corpus.  ``clusters`` is (id, cluster_id) covering the pair-involved
    docs; rows absent from it are singletons (cluster = own id).  The winner
    per cluster is row 1 under ``order_by`` (e.g. longest text, best quality
    score, smallest id) — pass a total order (tie-break on ``id_col``) so
    the choice is deterministic.

    Returns the winning rows of ``df`` plus ``cluster_col`` and
    ``n_members``.

    Scale: one left join (clusters side is pair-involved docs only — tiny
    relative to the corpus, broadcast-able) + one window partitioned by
    cluster.  The window shuffle is keyed by cluster id: skew is bounded by
    the largest duplicate cluster, which exact-dup collapse upstream keeps
    small (SCALE.md).
    """
    lab = clusters.select(
        F.col(id_col).alias("__kid"), F.col(cluster_col).alias("__kcl")
    )
    tagged = df.join(lab, df[id_col] == F.col("__kid"), "left").withColumn(
        "__cluster", F.coalesce(F.col("__kcl"), F.col(id_col))
    )
    w = Window.partitionBy("__cluster").orderBy(*order_by)
    wc = Window.partitionBy("__cluster")
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") == 1)
        .drop("__kid", "__kcl", "__rn")
        .withColumnRenamed("__cluster", cluster_col)
    )


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document via a vectorized Pandas UDF.

    The per-doc loop over tokens x bits doesn't decompose into array built-ins
    without a 64x row blow-up, so this is the documented Pandas-UDF slow path
    (Arrow batches, no per-row Python).  Deterministic: token hash = first
    bits/8 bytes of md5, **little-endian** (chosen so DuckDB's
    ``md5_number_upper`` reproduces it exactly — the oracle replays the full
    bit-vote in SQL).  Returns (id, simhash: bigint).
    """
    import pandas as pd
    from pyspark.sql.types import LongType

    def _simhash_fn(texts):
        import hashlib

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            acc = [0] * bits
            for tok in t.split():
                h = int.from_bytes(
                    hashlib.md5(tok.encode()).digest()[: bits // 8], "little"
                )
                for j in range(bits):
                    acc[j] += 1 if (h >> j) & 1 else -1
            v = 0
            for j in range(bits):
                if acc[j] > 0:
                    v |= 1 << j
            # reinterpret as signed 64-bit for LongType
            if v >= 1 << 63:
                v -= 1 << 64
            out.append(v)
        return pd.Series(out, dtype="object")

    # `from __future__ import annotations` turns hints into strings, which
    # pandas_udf can't resolve — attach real type objects instead.
    _simhash_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _simhash = F.pandas_udf(_simhash_fn, LongType())

    return df.select(F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str,
    *,
    shingle_n: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents that share >=
    ``min_shared`` distinct word n-grams with any benchmark document — the
    standard train/test-contamination sweep run before training.

    Shape: explode distinct shingles on both sides, equi-join on the shingle
    string, count distinct shared shingles per (doc, bench) pair.  The
    benchmark side is tiny relative to the corpus (eval sets are KBs-MBs), so
    Catalyst broadcasts its exploded shingles and the corpus side streams
    through map-side — no corpus shuffle at all until the per-pair count,
    which is keyed on (doc, bench) hits only.  Returns
    (id, bench_id, shared_ngrams) for flagged pairs.
    """
    c = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle(F.col(text_col), shingle_n))).alias("__s"),
    )
    b = benchmark.select(
        F.col(bench_id_col).alias("__bid"),
        F.explode(F.array_distinct(shingle(F.col(bench_text_col), shingle_n))).alias("__s"),
    )
    hits = c.join(F.broadcast(b), "__s")
    return (
        hits.groupBy(id_col, "__bid")
        .agg(F.count_distinct("__s").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
        .select(F.col(id_col), F.col("__bid").alias("bench_id"), F.col("shared_ngrams"))
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str,
    *,
    shingle_n: int = 5,
    m: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Bloom-screened decontamination — the at-scale form of
    :func:`decontaminate` (the GPT-3/PaLM-style n-gram contamination sweep
    run with a compact membership summary instead of a full shingle join).

    :func:`decontaminate` broadcasts the benchmark's exploded shingles; for
    a full eval SUITE (millions of distinct n-grams) that broadcast is tens
    of MBs per executor and the join touches every corpus shingle.  Here
    the benchmark reduces to a ≤``m``-integer Bloom bitmap
    (operators/bloom.py: k md5-window hashes, same engine-replayable digest
    family as MinHash): the corpus probe is a map-side array lookup with NO
    join at all, and the exact shingle join runs only on the bloom-passing
    residue — candidates-then-verify, the same discipline as LSH.

    Returns per-doc audit rows ``(id, n_shingles, n_flagged, n_true)`` for
    docs with any bloom-flagged shingle: ``n_flagged - n_true`` quantifies
    the realized false-positive load (never hidden — the q242 audit
    discipline).  True contamination is never missed: a shingle present in
    the benchmark always passes its own Bloom positions.
    """
    bsh = benchmark.select(
        F.explode(
            F.array_distinct(shingle(F.col(bench_text_col), shingle_n))
        ).alias("__s")
    ).distinct()
    from .bloom import bloom_bits, bloom_probe

    bits = bloom_bits(bsh, "__s", m=m, k=k)
    csh = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle(F.col(text_col), shingle_n))).alias(
            "__s"
        ),
    )
    totals = csh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    flagged = (
        bloom_probe(csh, "__s", bits, m=m, k=k)
        .filter(F.col("bloom_pass"))
        .drop("bloom_pass")
    )
    # Verify by SHUFFLE join on the shingle digest — no broadcast hint: the
    # bitmap exists precisely so the full benchmark shingle set never ships
    # to every executor, so re-broadcasting `truth` here (tens of MB for a
    # real eval suite) would defeat it (ADVICE r4).  Both sides of this join
    # are small relative to the corpus: the bloom-passing residue by
    # construction, and benchmark shingles only partition-wise; AQE may
    # still choose to broadcast at toy scale, which is fine — the point is
    # not to FORCE it.
    truth = bsh.select(F.col("__s").alias("__bs"))
    verified = flagged.join(truth, F.col("__s") == F.col("__bs"), "left")
    per_doc = verified.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_flagged"),
        F.sum(F.col("__bs").isNotNull().cast("int")).alias("n_true"),
    )
    return per_doc.join(totals, id_col).select(
        F.col(id_col), "n_shingles", "n_flagged", "n_true"
    )


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection at word-n-gram resolution
    — the distributed stand-in for exact substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", which used a
    single-machine suffix array; suffix arrays don't shard, n-gram inverted
    indexes do).

    Pipeline: posexplode every word n-gram with its start position ->
    md5 the n-gram (the shuffle carries 32 B digests + ids, never text) ->
    count DISTINCT documents per digest -> keep digests in >= ``min_docs``
    docs -> join positions back -> merge runs of consecutive repeated
    positions per document into maximal spans (gaps-and-islands: island key
    = pos - row_number, one window per doc).

    Returns (id, span_start, span_end, n_grams) in word coordinates,
    span_end inclusive = last_pos + n - 1.  Production dedup then cuts those
    spans out of the text (or drops docs whose repeated fraction is high).

    Scale: explode is O(total tokens) but narrow; the distinct-doc count is
    two partial-aggregated shuffles on fixed-width digests; the island merge
    windows partition by doc (bounded).  At 100 TB swap count_distinct for
    approx_count_distinct >= min_docs (HLL, one shuffle) — same shape.
    """
    words = F.split(F.col(text_col), " ")
    n_pos = F.greatest(F.size(words) - (n - 1), F.lit(0))
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] — docs shorter
    # than n words must yield no n-grams, not two garbage ones
    positions = F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
        F.array().cast("array<int>")
    )
    # persist the exploded digests: both the document-frequency aggregate
    # and the position join consume `grams`, and their shuffles carry
    # different payloads (partial-agg rows vs (id, pos, digest) rows), so
    # Catalyst cannot ReuseExchange — without the persist the O(total
    # tokens) explode + hash runs TWICE.  MEMORY_AND_DISK (persist default)
    # keeps this safe when the gram table outgrows executor memory.
    # The fingerprint is INTERNAL (the output is spans, never digests), so
    # it is xxhash64 over the word slice itself: no gram string is ever
    # materialized and the shuffle carries an 8-byte long instead of a
    # 32-byte md5 hex string (guide §2.2 — narrower shuffle types).  A
    # 64-bit collision (odds ~ d^2/2^65 over d distinct grams) can only
    # nudge a gram's doc-frequency, the same advisory regime as the
    # documented approx_count_distinct swap at 100 TB.
    grams = persist_tracked(
        df.select(
            F.col(id_col),
            F.posexplode(
                F.transform(positions, lambda i: F.slice(words, i, n))
            ).alias("pos", "__g"),
        ).select(
            F.col(id_col), F.col("pos"), F.xxhash64(F.col("__g")).alias("__h")
        )
    )

    shared = (
        grams.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("__h")
    )
    hits = grams.join(shared, "__h").select(F.col(id_col), F.col("pos"))
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.withColumn("__isl", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("__isl")
    )


def excise_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document exact-substring dedup with span REMOVAL — the act
    half of :func:`repeated_ngram_spans`'s detect (the Lee et al.
    deduplicate-text-datasets shape: find substrings repeated across
    documents, then EXCISE them, keeping each document's unique remainder).

    The spans are the maximal (longest-match) merged islands from
    :func:`repeated_ngram_spans` — word-coordinate, inclusive, disjoint per
    document by construction.  Excision drops every word covered by any
    span and reassembles the survivors in original order (the same
    order-preserving rebuild as ``text.line_dedup``), all with JVM-side
    array lambdas: spans aggregate to one array per doc, and one
    ``filter(words, (w, i) -> no span covers i)`` pass rebuilds the text —
    no Python, no per-word join.

    Returns ``(id, text, n_spans, chars_in, chars_kept, chars_removed)``
    for EVERY input document (zero-span docs pass through unchanged).
    Char counts are word-chars (separators excluded) with ``chars_kept``
    and ``chars_removed`` computed by INDEPENDENT complementary filters, so
    ``chars_kept + chars_removed = chars_in`` is a real conservation check
    on the excision partition, not an identity.

    Scale: spans-per-doc is small (merged maximal runs), so the span array
    broadcast along the doc join is bounded; the heavy lifting is the same
    digest-keyed detection shuffle as repeated_ngram_spans, and the rebuild
    is one equi-join on the doc id.

    Collision regime (ADVICE r12): detection fingerprints n-grams with
    ``xxhash64`` (repeated_ngram_spans) — a 64-bit collision between two
    DISTINCT n-grams can inflate a gram's doc frequency past
    ``min_docs``, and in THIS caller that false span is not just a count:
    the covered words are CUT FROM THE OUTPUT TEXT.  Odds are
    ~d²/2⁶⁵ over d distinct grams (~1 in 2⁴⁵ at a billion grams) — the
    documented advisory trade; a pipeline that cannot tolerate any
    false excision at 100 TB should carry a 128-bit fingerprint here
    (two xxhash64 seeds or md5) at double the detection-shuffle key
    width.
    """
    spans = repeated_ngram_spans(df, id_col, text_col, n=n, min_docs=min_docs)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans"),
        F.count(F.lit(1)).cast("int").alias("n_spans"),
    )
    joined = df.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("__w"),
        F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<span_start:int,span_end:int>>"),
        ).alias("__spans"),
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
    )

    def covered(i):
        return F.exists(
            F.col("__spans"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        )

    def chars(arr):
        return F.aggregate(
            arr, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
        )

    kept = F.filter(F.col("__w"), lambda w, i: ~covered(i))
    removed = F.filter(F.col("__w"), lambda w, i: covered(i))
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        "n_spans",
        chars(F.col("__w")).alias("chars_in"),
        chars(kept).alias("chars_kept"),
        chars(removed).alias("chars_removed"),
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    avg_words: int = 16,
) -> DataFrame:
    """Content-defined chunking (CDC) at word granularity — the
    shift-resistant storage-dedup primitive (LBFS/rsync lineage: chunk
    boundaries come from the CONTENT, so inserting a prefix re-aligns
    after the first boundary, where fixed-size blocks would never match
    again).  The training-data use: chunk-level dedup across re-crawled /
    lightly-edited corpora where document-level hashes all differ but
    most chunks are identical.

    A boundary falls AFTER word ``w`` when ``uhash(w) % avg_words == 0``
    (expected chunk length = ``avg_words`` words); a word's chunk index is
    the count of boundaries strictly before it — a per-document running
    sum (the window partitions by doc, the same bounded-axis discipline as
    ``repeated_ngram_spans``' island merge).  Chunks rebuild in order via
    the collect_list/array_sort pattern of ``text.line_dedup`` and ship
    onward as md5 digests.

    Returns one row per chunk: ``(id, chunk_id, digest, n_words,
    n_chars)``.  Downstream: group by digest for the dedup census, join
    digests across corpus versions for delta-sync estimates.

    Scale: one narrow explode + one per-doc window + one (doc, chunk)
    group — no cross-doc shuffle carries text; the digest group that
    follows is the same 16 B/row shuffle as exact_dedup.
    """
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("__pos", "__w"),
    )
    bnd = (
        F.conv(F.substring(F.md5(F.col("__w")), 1, 8), 16, 10).cast("bigint")
        % avg_words
        == 0
    ).cast("int")
    w = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = words.withColumn(
        "chunk_id", F.coalesce(F.sum(bnd).over(w), F.lit(0)).cast("int")
    )
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__w"))),
                    lambda s: s["__w"],
                ),
                " ",
            ).alias("__chunk")
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.md5(F.col("__chunk")).alias("digest"),
            F.size(F.split(F.col("__chunk"), " ")).alias("n_words"),
            F.length("__chunk").cast("bigint").alias("n_chars"),
        )
    )


def dup_clusters_star(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", *, max_iter: int = 20
) -> DataFrame:
    """Connected components by alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — the planet-scale
    alternative to ``dup_clusters``' min-label propagation: O(log^2 n) rounds
    on ANY graph shape versus O(diameter), at the cost of ~2x work per round.
    Same contract: every node in a pair -> (doc_id, cluster_id = component
    min), so the two are interchangeable (equivalence is property-tested).

    Each round:

    * **large-star**: every node points its LARGER neighbors at the minimum
      of its neighborhood (+ itself) — long chains contract exponentially;
    * **small-star**: every node points its smaller-or-equal neighbors (and
      itself) at that minimum — stars flatten to depth 1.

    Both are one groupBy + one join over the edge list, run by
    ``fixpoint.fixpoint`` in converge mode as in ``dup_clusters``.
    Convergence: the edge set is a fixed point (star edges only).
    """

    def _large_star(e: DataFrame) -> DataFrame:
        # each operator REPLACES the edge set (keeping old edges breaks the
        # contraction argument): symmetrize, then every node points its
        # strictly-larger neighbors at its neighborhood minimum
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient (larger -> smaller); every node points its smaller neighbors
        # AND itself at the minimum
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = oriented.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    fwd = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    rev = pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
    nodes = fwd.select("u").unionByName(rev.select("u")).distinct()
    # the state is kept in the canonical (greater, lesser) orientation that
    # _small_star emits, so the initial edge set's signature is comparable
    # with round 1's and an already-star graph stops after one round
    edges = (
        fwd.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    # (Round 13 negative probe, kept for the record: batching TWO star
    # rounds per checkpoint measured 12.4 -> 17.0 s on q374 — the doubled
    # un-checkpointed plan cost more per job than the saved job floors.)
    # An edge set that is not yet all stars would label each node with a
    # local minimum, not its component's: fixpoint raises rather than
    # return it.
    edges = fixpoint(
        edges,
        lambda e, _r: _small_star(_large_star(e)),
        max_iter,
        converge="dup_clusters_star",
        remedy="raise max_iter",
    )
    # fixed point: star edges (node -> component_min); roots label themselves
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    roots = nodes.join(labels.select("u"), "u", "left_anti").select(
        F.col("u"), F.col("u").alias("cluster_id")
    )
    return (
        labels.select(F.col("u").alias("doc_id"), "cluster_id")
        .unionByName(roots.select(F.col("u").alias("doc_id"), "cluster_id"))
    )


def lsh_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """The persistent LSH index of an existing corpus: one (id, band, bh) row
    per band per document.  Materialize this ONCE (parquet, partitioned or
    bucketed by (band, bh)) and every future ingestion batch probes it
    without re-signaturing the old corpus — the incremental-dedup posture a
    daily-append 100 TB pipeline needs, where re-running corpus-wide LSH per
    batch would be O(corpus) daily instead of O(batch).

    ``carry_cols`` ride through to the output (e.g. the text column, for a
    downstream verify that may not be able to join back to the source —
    streaming probes).  Stateless narrow ops only, so the operator works
    unchanged on a streaming DataFrame."""
    keep = [id_col, *(carry_cols or [])]
    sh = df.select(*keep, shingle(F.col(text_col), shingle_n).alias("__sh"))
    sig = sh.select(*keep, minhash_signature(F.col("__sh"), num_hashes).alias("sig"))
    return _banded(sig, keep, "sig", num_hashes, bands)


def incremental_near_dups(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental-ingestion near-dedup: find every (new_id, old_id) pair
    whose n-gram Jaccard >= threshold, WITHOUT self-joining the old corpus.

    The new batch is signatured and its band hashes probe the old corpus's
    band index (``lsh_band_index``); only colliding (new, old) candidates are
    Jaccard-verified against the old texts.  Cost: O(batch) signatures + one
    join against the index + O(candidates) verifies — the old corpus is
    never re-shingled (its index is a one-time build, amortized across every
    future batch).  Returns (new_id, old_id, jaccard).

    New-batch-internal duplicates are a separate ``near_dup_pairs(new_df)``
    call (O(batch^2 worst case) but batch-sized); composing both is the
    standard daily-ingest recipe.
    """
    old_idx = lsh_band_index(
        old_df, id_col, text_col,
        shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
    )
    new_idx = lsh_band_index(
        new_df, id_col, text_col,
        shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
    )
    cands = (
        new_idx.select(F.col(id_col).alias("new_id"), "band", "bh")
        .join(
            old_idx.select(F.col(id_col).alias("old_id"), "band", "bh"),
            ["band", "bh"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    jac = shingle_jaccard(F.col("t_a"), F.col("t_b"), shingle_n)
    return (
        with_payload(
            cands, new_df, id_col, {"t": F.col(text_col)},
            other=old_df, keys=("new_id", "old_id"),
        )
        .select("new_id", "old_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def blocked_weighted_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list,
    *,
    threshold: float = 0.0,
) -> DataFrame:
    """Record-linkage shape: BLOCK on cheap equality keys, then verify each
    within-block pair with WEIGHTED (multiset) Jaccard over token counts —
    ``sum_t min(c_a, c_b) / sum_t max(c_a, c_b)``.  The multiset refinement
    of q73's set Jaccard: repeated boilerplate tokens count with their
    multiplicity, so a doc that repeats one line 50 times no longer looks
    identical to the doc containing it once.

    Only the INTERSECTION is joined: ``sum max = n_a + n_b - sum min``, so
    the verify is one (id, token) equi-join over common tokens — never a
    full outer per pair.  All sums are exact integers; the one closing
    division is bit-identical across engines.

    Scale: blocking turns O(n^2) into per-block blocks (the same
    candidates-then-verify contract as LSH/SRP; pick block keys so blocks
    stay bounded — the classic entity-resolution discipline).  Two
    map-side-combined count aggs + two equi-joins; returns
    (id_a, id_b, n_a, n_b, inter, wjaccard) for pairs >= threshold.
    """
    if not block_cols:
        raise ValueError("block_cols must be non-empty (no blocking = all-pairs)")
    bcols = list(block_cols)
    blocks = df.select(F.col(id_col), *[F.col(c) for c in bcols])
    a = blocks.select(F.col(id_col).alias("id_a"), *bcols)
    b = blocks.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"__b_{c}") for c in bcols]
    )
    cond = F.lit(True)
    for c in bcols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__b_{c}"))
    pairs = (
        a.join(b, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    ).filter(F.col("__tok") != "")
    tc = toks.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__c"))
    totals = tc.groupBy(id_col).agg(F.sum("__c").alias("__n"))

    ta = tc.select(
        F.col(id_col).alias("id_a"), F.col("__tok"), F.col("__c").alias("__ca")
    )
    tb = tc.select(
        F.col(id_col).alias("id_b"), F.col("__tok"), F.col("__c").alias("__cb")
    )
    inter = (
        pairs.join(ta, "id_a")
        .join(tb, ["id_b", "__tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("__ca", "__cb")).alias("inter"))
    )
    na = totals.select(F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"))
    nb = totals.select(F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"))
    out = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ).alias("wjaccard"),
        )
    )
    return out.filter(F.col("wjaccard") >= threshold)


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    window: int,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): order records
    by a blocking key and emit every pair within ``window`` positions —
    the third classic candidate generator beside equality blocking
    (:func:`blocked_weighted_jaccard`'s blocks) and LSH.  Equality blocking
    misses near-misses that land in different blocks ("Jon"/"John");
    sorting puts lexicographic near-misses ADJACENT, so a small window
    catches them with O(n·window) candidates instead of O(n²).

    Returns ``(id_a, id_b, key_a, key_b)`` — candidates for a downstream
    exact verify (edit distance, Jaccard, ...), ordered pairs with
    ``rank_a < rank_b``.

    Scale: the global order comes from the two-phase
    ``global_row_number`` (training.py) — no single-partition window; each
    record then fans out to ``window - 1`` probe ranks and the pair join is
    an equi-join on the integer rank, uniformly distributed by
    construction (rank collisions are impossible).  Total cost: the rank's
    two range-shuffles + one join shuffled on rank.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from .training import global_row_number

    base = df.select(F.col(id_col), F.col(key_col))
    ranked = global_row_number(base, [key_col, id_col], out_col="__rn")
    probes = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col(key_col).alias("key_a"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(window - 1)), lambda i: F.col("__rn") + i
            )
        ).alias("__rn2"),
    )
    others = ranked.select(
        F.col("__rn").alias("__rn2"),
        F.col(id_col).alias("id_b"),
        F.col(key_col).alias("key_b"),
    )
    return probes.join(others, "__rn2").select("id_a", "id_b", "key_a", "key_b")
