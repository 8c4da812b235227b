"""LLM-data-pipeline catalog: dedup, similarity search, text analysis,
multimodal, event windows (BASELINE.json north-star extensions).

The documents table has no natural duplicates (synthetic word salad), so the
dedup queries build a corpus with injected copies *inside the query* — base
docs unioned with exact copies (q70) or tail-modified copies (q72) of
doc_id < 20, at id + 100000.  Both engines construct the corpus identically,
so the oracle still hash-checks end-to-end behavior on real near-dup pairs.

The MinHash family used everywhere: ``min(md5(shingle || '#i'))`` — string
min over salted md5 hex digests.  Deterministic, engine-agnostic, and a valid
permutation-min approximation (see operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import ORACLE, QUERIES, load_events, query, table
from .operators import dedup as dd
from .operators import multimodal as mm
from .operators import pairs as pr
from .operators import similarity as sim
from .operators import text as tx
from .sources.lakehouse_util import local_rows_df as _lrd

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side of the MinHash family)
# ---------------------------------------------------------------------------

_SH_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1), "
    "i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))"
)


def _mh_sql(i: int, sh: str = "sh") -> str:
    # slot i = min over shingles of the 8-hex-char window (i%4)*8 of
    # md5(shingle || '#' || i//4), no salt for digest 0 — must mirror
    # operators/dedup.minhash_signature exactly
    j, off = i // 4, (i % 4) * 8
    digest = "md5(s)" if j == 0 else f"md5(s || '#{j}')"
    return f"list_aggregate(list_transform({sh}, s -> substr({digest}, {off + 1}, 8)), 'min')"


_CORPUS_EXACT = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20
)"""

_CORPUS_NEAR = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' zzextra zzwords zztail' AS text
  FROM documents WHERE doc_id < 20
)"""


def _corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
    )
    return d.unionByName(dups)


def _corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    mods = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzextra zzwords zztail")).alias("text"),
    )
    return d.unionByName(mods)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "q70_exact_dedup",
    oracle=f"""
    WITH {_CORPUS_EXACT}
    SELECT min(doc_id) AS keep_id, count(*) AS copies
    FROM corpus GROUP BY md5(text) ORDER BY keep_id
    """,
)
def q70_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash group-by (operators/dedup.exact_dedup):
    shuffle key is the md5 digest, never the document bytes."""
    corpus = _corpus_exact(spark, sf_dir)
    return dd.exact_dedup(corpus, "text", "doc_id").orderBy("keep_id")


@query(
    "q71_minhash_signature",
    oracle=f"""
    WITH sh_t AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents WHERE doc_id < 50)
    SELECT doc_id,
           {_mh_sql(0)} AS mh0, {_mh_sql(1)} AS mh1,
           {_mh_sql(2)} AS mh2, {_mh_sql(3)} AS mh3
    FROM sh_t ORDER BY doc_id
    """,
)
def q71_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature parity check: the first 4 signature slots, value-exact
    across engines (shingling + salted-md5 min is bit-reproducible)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    sh = d.select(
        "doc_id", F.array_distinct(dd.shingle(F.col("text"), 3)).alias("shingles")
    )
    sig = sh.select("doc_id", dd.minhash_signature(F.col("shingles"), 4).alias("sig"))
    return sig.select(
        "doc_id",
        F.col("sig")[0].alias("mh0"),
        F.col("sig")[1].alias("mh1"),
        F.col("sig")[2].alias("mh2"),
        F.col("sig")[3].alias("mh3"),
    ).orderBy("doc_id")


_Q72_ORACLE = (
    "WITH "
    + _CORPUS_NEAR.strip()
    + ", sh_t AS (SELECT doc_id, "
    + _SH_SQL
    + " AS sh FROM corpus), sig AS (SELECT doc_id, sh, "
    + ", ".join(f"{_mh_sql(i)} AS mh{i}" for i in range(16))
    + " FROM sh_t), bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(mh{4*b} || '|' || mh{4*b+1} || '|' || mh{4*b+2} || '|' || mh{4*b+3}) AS bh "
        "FROM sig"
        for b in range(4)
    )
    + "), cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id) "
    "SELECT id_a, id_b, "
    "round(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 "
    "/ len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard "
    "FROM cand JOIN sh_t sa ON sa.doc_id = id_a JOIN sh_t sb ON sb.doc_id = id_b "
    "WHERE len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0 "
    "/ len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.8 "
    "ORDER BY id_a, id_b"
)


@query("q72_lsh_near_dup", oracle=_Q72_ORACLE)
def q72_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate detection end-to-end
    (operators/dedup.near_dup_pairs): shingle -> 16-slot signature -> 4-band
    LSH self-join -> exact-Jaccard verify >= 0.8.

    Scale: the self-join shuffles on (band, band_hash) — each bucket holds
    only colliding docs, so the join is linear in candidates, not O(n^2).
    """
    corpus = _corpus_near(spark, sf_dir)
    out = dd.near_dup_pairs(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4, threshold=0.8
    )
    return out.orderBy("id_a", "id_b")


@query(
    "q73_ngram_jaccard",
    oracle=f"""
    WITH sh_t AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents WHERE doc_id < 40)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM sh_t a JOIN sh_t b ON a.doc_id < b.doc_id
    WHERE len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.01
    ORDER BY id_a, id_b
    """,
)
def q73_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard all-pairs on a bounded subset — the brute-force
    baseline that validates the LSH path (and the shape of the LSH verify
    stage).  Deliberately gated to doc_id < 40: the unbounded cross join is
    the anti-pattern LSH exists to avoid."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = d.select("doc_id", F.array_distinct(dd.shingle(F.col("text"), 3)).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.01)
        .orderBy("id_a", "id_b")
    )


_Q330_ORACLE = (
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 60
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' zzextra zzwords zztail' AS text
      FROM documents WHERE doc_id < 20
    ),
    sh_t AS (SELECT doc_id, """
    + _SH_SQL
    + """ AS sh FROM corpus),
    sig AS (SELECT doc_id, sh, """
    + ", ".join(f"{_mh_sql(i)} AS mh{i}" for i in range(16))
    + " FROM sh_t), bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(mh{4*b} || '|' || mh{4*b+1} || '|' || mh{4*b+2} || '|' || mh{4*b+3}) AS bh "
        "FROM sig"
        for b in range(4)
    )
    + """),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh_t a JOIN sh_t b ON a.doc_id < b.doc_id
              WHERE len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5)
    SELECT CAST(nt AS BIGINT) AS n_true, CAST(nc AS BIGINT) AS n_cand,
           CAST(nh AS BIGINT) AS n_hit,
           round(nh * 1.0 / nc, 6) AS cand_precision,
           round(nh * 1.0 / nt, 6) AS cand_recall
    FROM (SELECT count(*) AS nt FROM truth),
         (SELECT count(*) AS nc FROM cand),
         (SELECT count(*) AS nh FROM truth t
          JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
    """
)


@query("q330_lsh_quality", oracle=_Q330_ORACLE)
def q330_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-family quality CERTIFICATE (the q329 discipline applied to
    MinHash-LSH): candidate precision AND recall of the 4x4-band LSH stage
    measured against exact Jaccard >= 0.5 ground truth on a bounded 80-doc
    corpus (60 bases + 20 tail-modified copies — the q72 fixture).  Recall
    tells you what the banding misses (the silent failure mode of every
    LSH deployment); precision tells you how much verify work the bands
    buy.  Ground truth is the deliberate bounded all-pairs baseline (q73's
    gating note applies: the unbounded form is the anti-pattern LSH
    avoids); the three counts attach as 1-row scalar broadcasts."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 60)
    mods = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzextra zzwords zztail")).alias("text"),
    )
    corpus = base.unionByName(mods)
    sh = corpus.select(
        "doc_id", F.array_distinct(dd.shingle(F.col("text"), 3)).alias("sh")
    )
    sig = sh.select("doc_id", dd.minhash_signature(F.col("sh"), 16).alias("sig"))
    cand = dd.lsh_candidate_pairs(sig, "doc_id", "sig", bands=4, rows_per_band=4)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = dd.shingle_jaccard(F.col("sh_a"), F.col("sh_b"), None)
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(jac >= 0.5)
        .select("id_a", "id_b")
    )
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    nh = truth.join(cand, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_cand"), 6).alias("cand_precision"),
            F.round(F.col("n_hit") / F.col("n_true"), 6).alias("cand_recall"),
        )
    )


def _simhash_oracle() -> str:
    # one vote-sum per bit: s_j = sum over tokens of +-1 on bit j of the
    # little-endian first-8-bytes md5 (== DuckDB md5_number_upper)
    votes = ", ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(64)
    )
    fold = " + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j}::HUGEINT ELSE 0 END" for j in range(64))
    return f"""
    WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
               FROM documents WHERE doc_id < 100),
    u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    h AS (SELECT doc_id, md5_number_upper(tok) AS hv FROM u),
    v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
    f AS (SELECT doc_id, {fold} AS raw FROM v)
    SELECT doc_id,
           CAST(CASE WHEN raw >= {1 << 63}::HUGEINT THEN raw - {1 << 64}::HUGEINT
                     ELSE raw END AS BIGINT) AS simhash
    FROM f ORDER BY doc_id
    """


@query("q74_simhash", oracle=_simhash_oracle())
def q74_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (operators/dedup.simhash, vectorized Pandas UDF).

    The oracle replays the full 64-bit bit-vote in SQL: token hash =
    ``md5_number_upper`` (little-endian first 8 md5 bytes — the UDF uses the
    same byte order), one vote sum per bit, fold to a signed BIGINT.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return dd.simhash(d, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "q75_embedding_topk",
    oracle="""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings)
    SELECT vec_id,
           round(list_dot_product(emb, qv)
                 / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))), 6)
               AS cos_sim
    FROM e, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q75_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (operators/similarity.cosine_topk): the exact
    ANN baseline.  Query vector fetched driver-side (1 row), shipped as a
    literal; math is zip_with/aggregate in codegen; top-k plans as
    TakeOrderedAndProject."""
    e = table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.cosine_topk(e, "vec_id", "embedding", qvec, k=10)


def _srp_bits_sql(planes: list[list[float]], emb: str = "emb") -> str:
    """DuckDB replay of operators/similarity.srp_bucket for literal planes."""
    return " || ".join(
        "(CASE WHEN list_dot_product(" + emb + ", ["
        + ",".join(f"{c:.1f}" for c in plane)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )


def _q76_oracle() -> str:
    bits = _srp_bits_sql(sim.srp_planes(64, 4, seed=42))
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings WHERE vec_id < 200),
    b AS (SELECT vec_id, emb, {bits} AS bucket FROM e)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_dot_product(a.emb, c.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6)
               AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_dot_product(a.emb, c.emb)
          / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(c.emb, c.emb))) >= 0.35
    ORDER BY id_a, id_b
    """


@query("q76_embedding_neardup", oracle=_q76_oracle())
def q76_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, candidates-then-verify: SRP
    buckets (operators/similarity.srp_candidates, 4 planes so genuinely
    similar pairs collide) feed the exact-cosine verify — every join is an
    equi-join (bucket, then id), so the plan is hash joins end-to-end with no
    BroadcastNestedLoopJoin (plan-pinned in tests/test_plans.py).  The scale
    shape: bucket shuffle keys are (bucket) and (id); vectors travel only for
    candidate pairs."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    cands = sim.srp_candidates(e, "vec_id", "embedding", n_planes=4, seed=42)
    pairs = pr.self_pairs(cands, "vec_id", ["bucket"], distinct=False)
    emb = {"emb": sim.as_double(F.col("embedding"))}
    verified = sim.cosine_verify(pr.with_payload(pairs, e, "vec_id", emb), ["id_a", "id_b"], 0.35)
    return verified.orderBy("id_a", "id_b")


def _srp_oracle() -> str:
    bits = _srp_bits_sql(sim.srp_planes(64, 8, seed=42))
    return (
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb "
        "FROM embeddings) "
        f"SELECT {bits} AS bucket, count(*) AS n_vecs, min(vec_id) AS min_id "
        "FROM e GROUP BY 1 ORDER BY bucket"
    )


@query("q77_srp_buckets", oracle=_srp_oracle())
def q77_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH bucketing (operators/similarity.srp_*):
    the scale path for ANN — 8 deterministic hyperplanes -> 8-bit bucket,
    neighbors collide.  Query returns the bucket histogram.

    Scale: one narrow map (8 dot products/vector) + a groupBy on a 256-value
    key; candidate generation becomes per-bucket blocks instead of n^2.
    """
    e = table(spark, sf_dir, "embeddings")
    buckets = sim.srp_candidates(e, "vec_id", "embedding", n_planes=8, seed=42)
    return (
        buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_id"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q78_text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             string_split(text, ' ') AS words,
             list_distinct(string_split(text, ' ')) AS uw
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(len(words) AS INT) AS n_words,
           round(len(list_filter(uw, x -> list_contains(
               ['the','a','of','and','to','in','is','it','for','on'], x))) / 10.0, 6)
             AS stop_ratio,
           round(len(uw) * 1.0 / len(words), 6) AS diversity,
           round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                 * 1.0 / length(text), 6) AS punct_ratio,
           round(0.25 * (CASE WHEN len(words) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
               + 0.25 * least(len(list_filter(uw, x -> list_contains(
                     ['the','a','of','and','to','in','is','it','for','on'], x))) / 10.0, 1.0)
               + 0.25 * (len(uw) * 1.0 / len(words))
               + 0.25 * (1.0 - least((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                     * 5.0 / length(text), 1.0)), 6) AS quality
    FROM t ORDER BY doc_id
    """,
)
def q78_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (operators/text.quality_score): length band, stopword
    ratio, lexical diversity, punctuation ratio -> [0,1] score.  Pure codegen
    expressions; scan-bound at any scale."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tx.quality_score(d, "doc_id", "text").orderBy("doc_id")


@query(
    "q79_lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS uw
      FROM documents WHERE doc_id < 200
    ), s AS (
      SELECT doc_id, lang,
        len(list_filter(uw, x -> list_contains(['the','a','of','and','to','in','is','it','for','on'], x))) AS s_en,
        len(list_filter(uw, x -> list_contains(['der','die','das','und','ist','von','zu','mit','den','ein'], x))) AS s_de,
        len(list_filter(uw, x -> list_contains(['le','la','les','de','et','un','une','est','pour','dans'], x))) AS s_fr,
        len(list_filter(uw, x -> list_contains(['el','la','los','de','y','un','una','es','para','en'], x))) AS s_es,
        len(list_filter(uw, x -> list_contains(['的','是','了','在','和','有','我','不','人','这'], x))) AS s_zh
      FROM t
    )
    SELECT doc_id,
           CASE WHEN s_zh = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'zh'
                WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                ELSE 'de' END AS pred_lang,
           CAST(greatest(s_en, s_de, s_fr, s_es, s_zh) AS INT) AS pred_score
    FROM s ORDER BY doc_id
    """,
)
def q79_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID (operators/text.language_id); argmax via
    greatest-of-structs, tie-broken toward the lexicographically greatest
    language code (oracle CASE checks in that order: zh > fr > es > en > de)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tx.language_id(d, "doc_id", "text").orderBy("doc_id")


@query(
    "q80_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id,
                      lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
               FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           md5(norm) AS exact_fp,
           md5(array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' ')) AS bag_fp
    FROM t ORDER BY doc_id
    """,
)
def q80_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (operators/text.fingerprint): exact
    (normalized md5) + bag-of-words (order-insensitive) digests."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tx.fingerprint(d, "doc_id", "text").orderBy("doc_id")


@query(
    "q81_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INT)                             AS n_chars,
           CAST(len(string_split(text, ' ')) AS INT)             AS n_words,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT)
                                                                 AS n_tokens,
           round(length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
                 * 1.0 / length(text), 6)                        AS alnum_ratio,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique_words
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def q81_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (operators/text.token_stats): whitespace tokens plus a
    BPE-ish regex token count (letter runs / digit runs / punctuation)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tx.token_stats(d, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@query(
    "q82_multimodal_digest",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text)                               AS digest,
           'application/octet-stream'              AS mime
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def q82_multimodal_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing, built-in half (operators/multimodal.
    attach_payload): binary payload + metadata struct; digest/size computed
    JVM-side on the binary column."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pay = mm.attach_payload(d, "doc_id", "text")
    return pay.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("digest"),
        F.col("meta.mime").alias("mime"),
    ).orderBy("doc_id")


@query(
    "q83_multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT)       AS n_bytes,
           md5(text)                                        AS digest,
           CAST(octet_length(encode(text)) % 1920 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 1080 + 1 AS INT) AS height
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def q83_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction (operators/multimodal.extract_features
    via mapInPandas) with the deterministic fake decoder — the oracle replays
    the fake's arithmetic, proving the distributed plumbing returns exactly
    what the per-batch Python produced."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pay = mm.attach_payload(d, "doc_id", "text")
    return mm.extract_features(pay, fake_decode=True).orderBy("doc_id")


@query(
    "q327_png_decode",
    oracle="""
    WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (7 * doc_id) % 16 AS h
               FROM documents WHERE doc_id < 200),
    cx AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
    cc AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM cx)
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(3 * ((x + y + doc_id) % 256)) AS BIGINT) AS px_sum
    FROM cc GROUP BY doc_id, w, h ORDER BY doc_id
    """,
)
def q327_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, driver-checkable (operators/png.py — round 5's
    pure-stdlib baseline-PNG codec): each doc synthesizes a real PNG
    executor-side (dims and pixels are analytic functions of doc_id),
    round-trips it through zlib IDAT encode -> decode -> unfilter, and
    reports (width, height, px_sum) — the PIXEL CHECKSUM proves actual
    byte-exact pixel decoding, not just header parsing, against the
    DuckDB oracle's closed-form sum.  All work is Arrow-batched
    mapInPandas on executors; the driver never sees image bytes.  The
    five-filter decode matrix and corrupt/exotic rejection are unit-pinned
    in tests/test_llm_ops.py::TestPngReal."""
    docs = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )

    def gen_and_decode(batches):
        import pandas as pd

        from rust_dataframe_spark.operators.png import decode_png, encode_png

        for pdf in batches:
            rows = {"doc_id": [], "width": [], "height": [], "px_sum": []}
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 8 + d % 24, 8 + (7 * d) % 16
                px = bytes(
                    (x + y + d) % 256
                    for y in range(h)
                    for x in range(w)
                    for _ in range(3)
                )
                ww, hh, _ch, out = decode_png(encode_png(w, h, px))
                rows["doc_id"].append(d)
                rows["width"].append(ww)
                rows["height"].append(hh)
                rows["px_sum"].append(sum(out))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        gen_and_decode, "doc_id bigint, width int, height int, px_sum bigint"
    ).orderBy("doc_id")


@query(
    "q333_wav_segments",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
    fr AS (SELECT doc_id, unnest(range(0, 12)) AS f FROM d),
    sm AS (SELECT doc_id, f, unnest(range(0, 128)) AS j FROM fr),
    v AS (SELECT doc_id, f,
                 CASE WHEN (f // 3) % 2 = 1
                      THEN (((j * 2657 + doc_id * 7919) % 201) - 100) * 300
                      ELSE ((j * 13 + doc_id) % 21) - 10 END AS amp
          FROM sm),
    e AS (SELECT doc_id, f, sum(abs(amp)) / 128.0 / 128.0 AS energy
          FROM v GROUP BY doc_id, f),
    isl AS (SELECT doc_id, f, energy,
                   f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS k
            FROM e WHERE energy >= 40),
    seg AS (SELECT doc_id, min(f) AS start_frame, count(*) AS n_frames,
                   floor(avg(energy) * 1000000) / 1000000 AS mean_energy
            FROM isl GROUP BY doc_id, k),
    keep AS (SELECT * FROM seg WHERE n_frames >= 2)
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
                - 1 AS INT) AS seg_id,
           CAST(start_frame AS INT) AS start_frame,
           CAST(n_frames AS INT) AS n_frames,
           mean_energy
    FROM keep ORDER BY doc_id, seg_id
    """,
)
def q333_wav_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, driver-checkable (operators/multimodal.decode_wav
    — the stdlib RIFF/WAVE codec, round 5's audio analog of q327's PNG):
    each doc synthesizes a real 16-bit PCM WAV executor-side whose
    amplitudes are analytic functions of (doc_id, frame, sample), the
    payload round-trips through the wave container, and
    ``segment_audio(fake_decode=False)`` recovers the loud regions by
    energy run-length.  The oracle replays amplitude synthesis, per-frame
    energy (exact dyadic: integer |amp| sums over 128-sample frames scaled
    by powers of two, so summation order cannot perturb it), the VAD
    islands, and the min-frames rule.  The alternating quiet/loud layout
    yields two 3-frame segments per document."""
    from .operators.multimodal import segment_audio

    docs = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 40
    )

    def synth(batches):
        import io
        import struct
        import wave

        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                samples = []
                for f in range(12):
                    loud = (f // 3) % 2 == 1
                    for j in range(128):
                        if loud:
                            samples.append((((j * 2657 + d * 7919) % 201) - 100) * 300)
                        else:
                            samples.append(((j * 13 + d) % 21) - 10)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
                ids.append(d)
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    mm_df = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    return segment_audio(
        mm_df,
        frame_bytes=128,
        energy_threshold=40,
        min_frames=2,
        fake_decode=False,
    ).orderBy("doc_id", "seg_id")


@query(
    "q334_gif_frames",
    oracle="""
    WITH d AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (3 * doc_id) % 12 AS h,
                      3 + doc_id % 4 AS total
               FROM documents WHERE doc_id < 40),
    s AS (SELECT doc_id, w, h, total, unnest(range(0, 3)) AS frame_idx FROM d),
    src AS (SELECT doc_id, w, h, frame_idx, (frame_idx * total) // 3 AS sf
            FROM s),
    cx AS (SELECT doc_id, w, h, frame_idx, sf, unnest(range(0, w)) AS x
           FROM src),
    cc AS (SELECT doc_id, h, frame_idx, sf, x, unnest(range(0, h)) AS y
           FROM cx),
    px AS (SELECT doc_id, frame_idx, sf,
                  6 * ((x + 2 * y + 5 * sf + doc_id) % 64) AS v
           FROM cc)
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(40 * sf AS BIGINT) AS frame_ts_ms,
           CAST(sum(v) AS BIGINT) AS px_sum
    FROM px GROUP BY doc_id, frame_idx, sf ORDER BY doc_id, frame_idx
    """,
)
def q334_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame decode, driver-checkable (operators/gif.py — round
    5's pure-stdlib animated-GIF codec with genuine variable-width LZW):
    each doc synthesizes a real multi-frame GIF executor-side (dims, frame
    count, palette, and pixels are analytic functions of doc_id), the
    payload round-trips through LZW encode -> sub-block framing -> decode,
    and ``sample_frames(fake_decode=False)`` — the video modality's real
    path — samples 3 frames evenly across the animation.  The per-frame
    PIXEL CHECKSUM (palette row i is (i,2i,3i), so each pixel contributes
    6*index) proves byte-exact LZW decompression and palette application
    against the oracle's closed-form sum; frame_ts_ms replays the Graphic
    Control Extension delay accumulation (40 ms/frame).  Completes the
    real-decode matrix: PNG=image (q327), WAV=audio (q333), GIF=video
    frames.  All decode work is Arrow-batched mapInPandas on executors;
    the byte-sum reduction is an Arrow-batched pandas UDF — the driver
    never sees frame bytes."""
    from pyspark.sql.functions import pandas_udf

    docs = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 40
    )

    def synth(batches):
        import pandas as pd

        from rust_dataframe_spark.operators.gif import encode_gif

        pal = [(i, 2 * i, 3 * i) for i in range(64)]
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 8 + d % 16, 8 + (3 * d) % 12
                total = 3 + d % 4
                frames = [
                    bytes(
                        (x + 2 * y + 5 * f + d) % 64
                        for y in range(h)
                        for x in range(w)
                    )
                    for f in range(total)
                ]
                ids.append(d)
                payloads.append(encode_gif(w, h, frames, pal, delay_ms=40))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    mm_df = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    sampled = mm.sample_frames(mm_df, n_frames=3, fake_decode=False)

    @pandas_udf("bigint")
    def byte_sum(s):
        return s.apply(lambda b: sum(b))

    return sampled.select(
        "doc_id",
        "frame_idx",
        "frame_ts_ms",
        byte_sum("frame").alias("px_sum"),
    ).orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# Event-time windows (batch shape of the streaming ops, SURVEY §2.11)
# ---------------------------------------------------------------------------


@query(
    "q84_event_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS value_sum
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def q84_event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows via F.window (the reference's `window()`
    scalar stub, functions/scalar.rs:493) — identical code works on
    readStream + withWatermark (rust_dataframe_spark/streaming/)."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "value_sum")
        .orderBy("win_start", "event_type")
    )


@query(
    "q85_sessionization",
    oracle="""
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def q85_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via session_window (gap 30 min) — the batch shape of
    applyInPandasWithState-style stateful streaming; oracle replays it as
    gaps-and-islands SQL."""
    e = load_events(spark, sf_dir)
    sessions = e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("ev")
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("ev").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal): as-of and range — SURVEY §2.4 upside
# ---------------------------------------------------------------------------


@query(
    "q87_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts, max(value) AS p_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts, round(c.value, 4) AS click_value,
           p.ts AS r_ts, round(p.p_value, 4) AS r_p_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def q87_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.asof_join): every click matched to the
    user's latest purchase at-or-before it.  Spark has no ASOF built-in; the
    operator composes union + running last(ignorenulls) window — one shuffle
    on user_id.  DuckDB's native ASOF JOIN is the oracle.  The right side is
    deduped per (user, ts) so both engines resolve equal-ts ties identically.
    """
    from .operators import temporal as tp

    e = load_events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    out = tp.asof_join(clicks, purch, "user_id", "ts", direction="backward")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 4).alias("click_value"),
        "r_ts",
        F.round("r_p_value", 4).alias("r_p_value"),
    ).orderBy("event_id")


@query(
    "q88_range_join",
    oracle="""
    WITH bands(label, lo, hi) AS (
      VALUES ('low', 0.0, 9.5), ('mid', 9.5, 27.25), ('high', 27.0, 50.0)
    )
    SELECT b.label,
           count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS price_sum
    FROM lineitem l JOIN bands b ON l.l_quantity >= b.lo AND l.l_quantity <= b.hi
    GROUP BY b.label ORDER BY b.label
    """,
)
def q88_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (operators/temporal.range_join): rows land in every
    band containing their value (bands deliberately overlap at 27.0-27.25 and
    touch at 9.5 — inclusive bounds mean boundary rows match both).  The
    operator buckets both sides (width 8) so the match is a hash join on the
    bucket, not a nested-loop BETWEEN — the shape that survives two large
    sides."""
    from .operators import temporal as tp

    li = table(spark, sf_dir, "lineitem")
    bands = _lrd(
        spark,
        [("low", 0.0, 9.5), ("mid", 9.5, 27.25), ("high", 27.0, 50.0)],
        "label string, lo double, hi double",
    )
    out = tp.range_join(li, "l_quantity", bands, "lo", "hi", bucket_width=8.0)
    return (
        out.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("price_sum"))
        .orderBy("label")
    )


def _srp_neardup_oracle() -> str:
    planes = sim.srp_planes(64, 8, seed=42)
    bits = " || ".join(
        "(CASE WHEN list_dot_product(emb, ["
        + ",".join(f"{c:.1f}" for c in plane)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )
    cos = (
        "list_dot_product(a.emb, b.emb)"
        " / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))"
    )
    return (
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb "
        "FROM embeddings), "
        f"bk AS (SELECT vec_id, emb, {bits} AS bucket FROM e) "
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cos_sim "
        "FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id "
        f"WHERE {cos} >= 0.35 "
        "ORDER BY id_a, id_b"
    )


@query("q89_srp_near_dup", oracle=_srp_neardup_oracle())
def q89_srp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup end-to-end at scale (operators/similarity.
    srp_near_dup): SRP buckets generate candidates, exact cosine verifies —
    the same candidates-then-verify shape as MinHash-LSH, replacing the
    O(n^2) all-pairs join of q76 with per-bucket blocks."""
    e = table(spark, sf_dir, "embeddings")
    out = sim.srp_near_dup(e, "vec_id", "embedding", n_planes=8, seed=42, threshold=0.35)
    return out.orderBy("id_a", "id_b")


_Q93_ORACLE = (
    "WITH RECURSIVE pairs AS ("
    + _Q72_ORACLE.replace("ORDER BY id_a, id_b", "")
    + "), edges AS (SELECT id_a AS a, id_b AS b FROM pairs"
    "  UNION SELECT id_b, id_a FROM pairs), "
    "reach(a, b) AS (SELECT DISTINCT a, a FROM edges"
    "  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a) "
    "SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a ORDER BY doc_id"
)


@query("q93_dup_clusters", oracle=_Q93_ORACLE)
def q93_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment (operators/dedup.dup_clusters): connected
    components over the q72 near-dup pairs via iterative min-label
    propagation — the catalog's one driver-coordinated iterative algorithm
    (converges in diameter rounds; the driver sees only a 1-row convergence
    check per round).  The oracle replays it as a DuckDB recursive-CTE
    transitive closure + min over the reachable set."""
    corpus = _corpus_near(spark, sf_dir)
    pairs = dd.near_dup_pairs(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4, threshold=0.8
    )
    return dd.dup_clusters(pairs).orderBy("doc_id")


@query(
    "q94_hash_split",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0 AS u
      FROM documents
    )
    SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM h GROUP BY 1 ORDER BY split
    """,
)
def q94_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/text.hash_split): bucket
    by md5(key) so membership is a pure function of the key — reproducible
    across engines, runs, and repartitioning (the property rand()-based
    sample lacks; holdout rows can never leak into training on reprocess)."""
    d = table(spark, sf_dir, "documents")
    out = tx.hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split")
    )


@query(
    "q95_repetition",
    oracle="""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w
               FROM documents WHERE doc_id < 200),
    base AS (
      SELECT doc_id, len(w) AS n_words,
             round((length(text) - len(w) + 1) * 1.0 / len(w), 6) AS mean_word_len
      FROM d
    ),
    wu AS (SELECT doc_id, unnest(w) AS g FROM d),
    wc AS (SELECT doc_id, max(c) AS top_w FROM
             (SELECT doc_id, g, count(*) AS c FROM wu GROUP BY doc_id, g)
           GROUP BY doc_id),
    bu AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])) AS g
           FROM d WHERE len(w) >= 2),
    bc AS (SELECT doc_id, max(c) AS top_b FROM
             (SELECT doc_id, g, count(*) AS c FROM bu GROUP BY doc_id, g)
           GROUP BY doc_id)
    SELECT b.doc_id, b.n_words, b.mean_word_len,
           round(wc.top_w * 1.0 / b.n_words, 6) AS top_word_frac,
           round(bc.top_b * 1.0 / greatest(b.n_words - 1, 1), 6) AS top_bigram_frac
    FROM base b LEFT JOIN wc ON b.doc_id = wc.doc_id
                LEFT JOIN bc ON b.doc_id = bc.doc_id
    ORDER BY b.doc_id
    """,
)
def q95_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (operators/text.repetition_stats):
    top-word and top-bigram fractions + mean word length — the standard
    boilerplate/spam signals applied before training-corpus inclusion."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tx.repetition_stats(d, "doc_id", "text").orderBy("doc_id")


@query(
    "q96_decontamination",
    oracle="""
    WITH bench AS (
      SELECT doc_id AS bench_id, text FROM documents WHERE doc_id < 10
    ),
    cs AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
               i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
      FROM documents WHERE doc_id >= 10
    ),
    bs AS (
      SELECT bench_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
               i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
      FROM bench
    )
    SELECT c.doc_id, b.bench_id, count(DISTINCT c.s) AS shared_ngrams
    FROM cs c JOIN bs b ON c.s = b.s
    GROUP BY c.doc_id, b.bench_id
    HAVING count(DISTINCT c.s) >= 2
    ORDER BY doc_id, bench_id
    """,
)
def q96_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (operators/dedup.decontaminate): corpus docs
    sharing >= 2 distinct 5-gram shingles with a benchmark set (docs 0-9
    standing in as the eval set).  The benchmark's exploded shingles
    broadcast; the corpus never shuffles until the per-pair hit counts."""
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 10)
    bench = d.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("bench_id"), F.col("text")
    )
    out = dd.decontaminate(
        corpus, bench, "doc_id", "text", "bench_id", "text", shingle_n=5, min_shared=2
    )
    return out.orderBy("doc_id", "bench_id")


@query(
    "q97_pii_scan",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 5 = 0
                          THEN ' contact user' || doc_id || '@example.com or https://ex.com/d?q=' || doc_id
                          ELSE '' END AS text
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT)                                AS n_url,
           CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS INT)                   AS n_phone
    FROM t ORDER BY doc_id
    """,
)
def q97_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scanning (operators/text.pii_scan): per-doc email/URL/phone match
    counts.  The synthetic docs carry no PII, so every 5th doc gets a
    deterministic injected email+URL inside the query — both engines build
    the same corpus and must count the same spans."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or https://ex.com/d?q="),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return tx.pii_scan(injected, "doc_id", "text").orderBy("doc_id")


@query(
    "q111_funnel",
    oracle="""
    WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY user_id),
         s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
                WHERE e.event_type = 'click' GROUP BY e.user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
                WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 0 AS step_idx, 'view' AS stage,     (SELECT count(*) FROM s0) AS n_users
    UNION ALL
    SELECT 1, 'click',    (SELECT count(*) FROM s1)
    UNION ALL
    SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    ORDER BY step_idx
    """,
)
def q111_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase
    (operators/events.funnel): each stage requires a strictly-later event
    than the user's entry into the previous stage."""
    from .operators.events import funnel

    e = load_events(spark, sf_dir)
    return funnel(e, ["view", "click", "purchase"])


@query(
    "q112_retention_cohorts",
    oracle="""
    WITH first AS (
      SELECT user_id, date_trunc('week', min(ts)) AS c0 FROM events GROUP BY user_id
    )
    SELECT CAST(f.c0 AS DATE) AS cohort_start,
           CAST(floor(date_diff('day', CAST(f.c0 AS DATE), CAST(e.ts AS DATE)) / 7.0)
                AS INT) AS period_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY cohort_start, period_offset
    """,
)
def q112_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix (operators/events.retention_cohorts):
    cohort = ISO week of first event (both engines truncate weeks to
    Monday); cells count distinct users active at each week offset."""
    from .operators.events import retention_cohorts

    return retention_cohorts(load_events(spark, sf_dir), period="week")


@query(
    "q113_scd2_intervals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           o_orderdate                          AS valid_from,
           lead(o_orderdate) OVER w             AS valid_to,
           lead(o_orderdate) OVER w IS NULL     AS is_current
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, valid_from, o_orderkey
    """,
)
def q113_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 temporal-table construction (operators/temporal.scd2_intervals):
    a per-key change log becomes [valid_from, valid_to) validity intervals
    with an is_current flag — one lead() window, one shuffle on the key;
    query historical state downstream with the as-of join (q87)."""
    from .operators.temporal import scd2_intervals

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )
    return (
        scd2_intervals(
            o, ["o_custkey"], ts_col="o_orderdate", tiebreak_cols=("o_orderkey",)
        )
        .select("o_custkey", "o_orderkey", "valid_from", "valid_to", "is_current")
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    )


@query("q129_dup_clusters_star", oracle=_Q93_ORACLE)
def q129_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (operators/dedup.dup_clusters_star) — same answer as q93's min-label
    propagation (identical oracle), O(log^2 n) rounds instead of O(diameter):
    the variant that survives long-chain duplicate graphs at planet scale.
    Equivalence with q93 is also property-tested on random graphs."""
    corpus = _corpus_near(spark, sf_dir)
    pairs = dd.near_dup_pairs(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4, threshold=0.8
    )
    return dd.dup_clusters_star(pairs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q335/q336: Unigram-LM tokenizer (SentencePiece family) — Viterbi + EM E-step
# ---------------------------------------------------------------------------

# Integer piece scores (len^2) keep Viterbi sums exact in both engines; the
# corpus alphabet is a-z so single chars guarantee full coverage.
_Q335_PIECES = [
    *[chr(c) for c in range(ord("a"), ord("z") + 1)],
    "ta", "ab", "le", "va", "al", "ue", "sc", "an", "lo", "fa", "st",
    "pa", "ar", "ha", "sh", "me", "er", "ge", "ba", "tc", "li", "ne",
    "so", "or", "wi", "nd", "ow", "ke", "ey", "gg", "ro",
    "val", "tab", "sca", "par", "has", "mer", "bat", "spa", "lin",
    "sor", "win", "dow", "agg", "row", "key",
]
_Q335_VOCAB = {p: float(len(p) * len(p)) for p in _Q335_PIECES}


def _q335_oracle() -> str:
    vals = ", ".join(f"('{p}', {int(s)})" for p, s in sorted(_Q335_VOCAB.items()))
    return f"""
    WITH RECURSIVE
    vocab(p, sc) AS (SELECT * FROM (VALUES {vals})),
    words AS (
      SELECT doc_id, parts[o] AS w, o AS pos
      FROM (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS o
            FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents))),
    dw AS (SELECT DISTINCT w FROM words),
    dwp AS (SELECT w, unnest(range(1, length(w) + 1)) AS cpos FROM dw),
    edges AS (
      SELECT d.w, d.cpos, v.p AS piece, length(v.p) AS adv, v.sc
      FROM dwp d JOIN vocab v ON substr(d.w, d.cpos, length(v.p)) = v.p
      UNION ALL
      SELECT w, cpos, '[UNK]', 1, -100 FROM dwp),
    walk(w, cpos, toks, sc) AS (
      SELECT w, 1, []::VARCHAR[], 0 FROM dw
      UNION ALL
      SELECT walk.w, walk.cpos + e.adv, list_append(walk.toks, e.piece),
             walk.sc + e.sc
      FROM walk JOIN edges e ON e.w = walk.w AND e.cpos = walk.cpos
      WHERE walk.cpos <= length(walk.w)),
    done AS (SELECT w, toks, sc FROM walk WHERE cpos = length(w) + 1),
    best AS (
      SELECT w, toks, sc,
             row_number() OVER (PARTITION BY w ORDER BY sc DESC, toks ASC) AS rn
      FROM done),
    per_word AS (
      SELECT ww.doc_id, ww.pos, b.toks, b.sc
      FROM words ww JOIN best b ON b.w = ww.w AND b.rn = 1)
    SELECT doc_id,
           CAST(sum(len(toks)) AS BIGINT) AS n_pieces,
           CAST(sum(len(list_filter(toks, t -> t = '[UNK]'))) AS BIGINT) AS n_unk,
           CAST(sum(sc) AS BIGINT) AS score,
           md5(string_agg(array_to_string(toks, '|'), '|' ORDER BY pos)) AS pieces_fp
    FROM per_word GROUP BY doc_id ORDER BY doc_id
    """


@query("q335_unigram_tokenize", oracle=_q335_oracle())
def q335_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenization
    (operators/text.unigram_tokenize): Viterbi max-score segmentation over a
    scored piece vocabulary — the third tokenizer family next to greedy
    WordPiece (q162) and merge-list BPE (q200), and the one modern LLM
    tokenizers actually use.  The oracle enumerates EVERY segmentation of
    each distinct word as a recursive CTE (pieces <= 3 chars + UNK edges
    bound the fan-out) and takes the argmax with the same
    (score DESC, pieces ASC) tie-break, so the full Viterbi semantics — DP
    optimality AND deterministic tie resolution — are value-checked via the
    md5 piece-stream fingerprint.  Integer piece scores (len^2) keep sums
    exact in both engines.  Scale: Viterbi runs once per DISTINCT word
    (Heaps'-bounded), the corpus pays one broadcast join."""
    d = table(spark, sf_dir, "documents")
    toks = tx.unigram_tokenize(d, "doc_id", "text", _Q335_VOCAB)
    return (
        toks.groupBy("doc_id")
        .agg(
            F.sum(F.size("pieces")).cast("bigint").alias("n_pieces"),
            F.sum(F.size(F.filter(F.col("pieces"), lambda t: t == "[UNK]")))
            .cast("bigint")
            .alias("n_unk"),
            F.sum("score").cast("bigint").alias("score"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                        lambda s: F.array_join(s["pieces"], "|"),
                    ),
                    "|",
                )
            ).alias("pieces_fp"),
        )
        .orderBy("doc_id")
    )


_Q336_WEIGHTS = {p: float(len(p) + 1) for p in _Q335_PIECES}


def _q336_oracle() -> str:
    vals = ", ".join(f"('{p}', {int(w)})" for p, w in sorted(_Q336_WEIGHTS.items()))
    return f"""
    WITH RECURSIVE
    vocab(p, wt) AS (SELECT * FROM (VALUES {vals})),
    words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY w),
    dw AS (SELECT DISTINCT w FROM words),
    dwp AS (SELECT w, unnest(range(1, length(w) + 1)) AS cpos FROM dw),
    edges AS (
      SELECT d.w, d.cpos, v.p AS piece, length(v.p) AS adv, v.wt
      FROM dwp d JOIN vocab v ON substr(d.w, d.cpos, length(v.p)) = v.p),
    walk(w, cpos, toks, wt) AS (
      SELECT w, 1, []::VARCHAR[], 1 FROM dw
      UNION ALL
      SELECT walk.w, walk.cpos + e.adv, list_append(walk.toks, e.piece),
             walk.wt * e.wt
      FROM walk JOIN edges e ON e.w = walk.w AND e.cpos = walk.cpos
      WHERE walk.cpos <= length(walk.w)),
    done AS (SELECT w, toks, wt FROM walk WHERE cpos = length(w) + 1),
    z AS (SELECT w, CAST(sum(wt) AS BIGINT) AS z FROM done GROUP BY w),
    occ AS (SELECT w, unnest(toks) AS piece, wt FROM done),
    enum AS (SELECT w, piece, CAST(sum(wt) AS BIGINT) AS e_num
             FROM occ GROUP BY w, piece)
    SELECT f.w AS word, f.freq, e.piece, e.e_num, z.z,
           CAST(e.e_num AS DOUBLE) / CAST(z.z AS DOUBLE) AS expected_count
    FROM enum e JOIN z ON z.w = e.w JOIN freq f ON f.w = e.w
    ORDER BY word, piece
    """


@query("q336_unigram_em_estep", oracle=_q336_oracle())
def q336_unigram_em_estep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM E-step for Unigram-LM tokenizer training
    (operators/text.unigram_expected_counts): forward-backward over each
    distinct word's segmentation lattice with multiplicative piece weights,
    yielding expected piece counts — the sufficient statistic SentencePiece's
    M-step renormalizes.  The oracle brute-force enumerates every path with
    its weight product and sums occurrence-weighted path weights; with
    small-integer weights (len+1) both e_num and the partition function z
    are integer-exact, so the forward-backward DP is checked EXACTLY (and
    expected_count = e_num/z is a single engine-deterministic division).
    Scale: per-DISTINCT-word DP (Heaps'-bounded) + one word-count
    aggregation; a full EM round on 100 TB is one corpus scan."""
    d = table(spark, sf_dir, "documents")
    out = tx.unigram_expected_counts(d, "doc_id", "text", _Q336_WEIGHTS)
    return out.orderBy("word", "piece")


# ---------------------------------------------------------------------------
# q337: Aho-Corasick multi-pattern blocklist scan
# ---------------------------------------------------------------------------

_Q337_PATTERNS = [
    "a", "an", "scan", "ca", "val", "value", "alu", "tab", "table",
    "able", "sort", "or", "row", "w", "indow", "art", "ast",
]


def _q337_oracle() -> str:
    pats = ", ".join(f"'{p}'" for p in sorted(set(_Q337_PATTERNS)))
    return f"""
    WITH pats AS (SELECT unnest([{pats}]) AS p),
    pos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
            FROM documents)
    SELECT doc_id, p AS pattern, CAST(count(*) AS BIGINT) AS n_matches
    FROM pos, pats
    WHERE substr(text, i, length(p)) = p
    GROUP BY doc_id, p
    ORDER BY doc_id, pattern
    """


@query("q337_aho_corasick", oracle=_q337_oracle())
def q337_aho_corasick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern blocklist scan (operators/text.multi_pattern_scan):
    Aho-Corasick counts OVERLAPPING occurrences of 17 patterns — chosen so
    matches nest ('a' inside 'table' inside... plus suffix overlaps like
    'value'/'alu') and the fail-link traversal is genuinely exercised — in
    ONE pass per document.  The oracle checks every (position, pattern)
    alignment by brute force, so the automaton's output links are verified
    occurrence-exact.  Scale: O(chars) per doc regardless of pattern count
    (the 10k-term PII/contamination blocklist case), automaton broadcast,
    zero shuffle before the final per-doc aggregation."""
    d = table(spark, sf_dir, "documents")
    out = tx.multi_pattern_scan(d, "doc_id", "text", _Q337_PATTERNS)
    return out.orderBy("doc_id", "pattern")


# ---------------------------------------------------------------------------
# q338: kernel two-sample drift on embeddings (quadratic-kernel MMD^2)
# ---------------------------------------------------------------------------


@query(
    "q338_mmd_embedding_drift",
    oracle="""
    WITH q AS (
      SELECT CASE WHEN label < 5 THEN 0 ELSE 1 END AS g,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 512) AS BIGINT)) AS qv
      FROM embeddings),
    pairs AS (
      SELECT g, i.i AS i, j.j AS j, qv[i.i + 1] * qv[j.j + 1] AS prod
      FROM q,
           (SELECT unnest(range(0, 64)) AS i) i,
           (SELECT unnest(range(0, 64)) AS j) j),
    cells AS (
      SELECT g, i, j, CAST(sum(prod) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY g, i, j),
    ab AS (
      SELECT a.i, a.j, a.n AS n_a, b.n AS n_b,
             (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
              - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
             * (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) AS d2
      FROM cells a JOIN cells b ON a.i = b.i AND a.j = b.j
      WHERE a.g = 0 AND b.g = 1)
    SELECT CAST(i AS INT) AS i, n_a, n_b,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                    list(d2 ORDER BY j)),
                       (acc, x) -> acc + x) AS mmd_term
    FROM ab GROUP BY i, n_a, n_b ORDER BY i
    """,
)
def q338_mmd_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel two-sample drift on the embedding column
    (operators/stats.mmd2_terms): quadratic-kernel MMD^2 between the
    label<5 and label>=5 populations.  The V-statistic decomposes exactly —
    MMD^2 = ||Ma - Mb||_F^2 over per-group second-moment matrices — so the
    all-pairs kernel sum costs ONE moment aggregation per group and no
    pairwise join (the drift counterpart of ks_2sample/psi for vector
    columns).  Determinism: floor(x*512) quantization (power-of-two IEEE
    scaling, zero rounding) makes moment sums integer-exact and
    order-independent; the Frobenius fold is an ordered left fold replayed
    by the oracle with the same seed.  Scale: mapInPandas integer einsum
    reduces each Arrow batch to one 4096-cell partial — the only shuffle
    carries n_partitions*2 tiny rows, vectors never shuffle."""
    from .operators.stats import mmd2_terms

    e = table(spark, sf_dir, "embeddings")
    marked = e.select(
        F.when(F.col("label") < 5, 0).otherwise(1).alias("split"), "embedding"
    )
    out = mmd2_terms(marked, "split", "embedding", 64, quant=512)
    return out.select("i", "n_a", "n_b", "mmd_term").orderBy("i")


# ---------------------------------------------------------------------------
# q342: Johnson-Lindenstrauss projection + measured distortion certificate
# ---------------------------------------------------------------------------

_Q342_SIGNS = None


def _q342_signs():
    global _Q342_SIGNS
    if _Q342_SIGNS is None:
        from .operators.similarity import jl_signs

        _Q342_SIGNS = jl_signs(64, 16, seed=7)
    return _Q342_SIGNS


def _q342_oracle() -> str:
    signs = _q342_signs()

    def fold(terms):  # explicit left-nested fold, matching F.aggregate
        expr = "CAST(0.0 AS DOUBLE)"
        for t in terms:
            expr = f"({expr} + {t})"
        return expr

    comps = []
    for j, row in enumerate(signs):
        terms = [
            f"e[{i + 1}] * CAST({row[i]:.1f} AS DOUBLE)" for i in range(64)
        ]
        comps.append(f"{fold(terms)} / 4.0 AS j{j}")
    proj_cols = ",\n             ".join(comps)
    d_orig = fold([f"(a.e[{i + 1}] - b.e[{i + 1}]) * (a.e[{i + 1}] - b.e[{i + 1}])" for i in range(64)])
    d_proj = fold([f"(a.j{j} - b.j{j}) * (a.j{j} - b.j{j})" for j in range(16)])
    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 16),
    proj AS (
      SELECT vec_id, e,
             {proj_cols}
      FROM base)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {d_orig} AS d2_orig,
           {d_proj} AS d2_proj,
           {d_proj} / {d_orig} AS ratio
    FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    ORDER BY id_a, id_b
    """


@query("q342_jl_distortion", oracle=_q342_oracle())
def q342_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64->16 projection
    (operators/similarity.jl_project, Achlioptas ±1 signs) with its
    distance-preservation MEASURED: all 120 pairs of a 16-vector sample get
    (d2_orig, d2_proj, ratio) — the certificate form (q324/q329/q330
    pattern) for the standard pre-ANN compression that works on ANY
    embedding column (vs Matryoshka truncation, which needs MRL-trained
    vectors).  Every output is a chain of ordered left folds and exact
    scalings (sqrt(16) = 4), so the oracle — which replays the same literal
    sign matrix in the same fold order — matches bit-for-bit with no
    rounding.  Scale: the projection is codegen'd elementwise column math
    (no UDF, no shuffle, 4x fewer vector bytes downstream); only the
    bounded 16-vector audit sample is pair-joined."""
    from .operators.similarity import as_double, jl_project

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    proj = jl_project(e, "embedding", _q342_signs(), out_col="y").select(
        "vec_id", as_double(F.col("embedding")).alias("e"), "y"
    )

    def d2(col_a, col_b):
        return F.aggregate(
            F.zip_with(col_a, col_b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, v: s + v,
        )

    a = proj.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("y").alias("ya")
    )
    b = proj.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        d2(F.col("ea"), F.col("eb")).alias("d2_orig"),
        d2(F.col("ya"), F.col("yb")).alias("d2_proj"),
        (d2(F.col("ya"), F.col("yb")) / d2(F.col("ea"), F.col("eb"))).alias("ratio"),
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q347: MMR diversified re-ranking over the ANN shortlist
# ---------------------------------------------------------------------------


def _q347_oracle() -> str:
    def _ssq(v):
        return (
            "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform({v}, x -> x * x)), (x, y) -> x + y))"
        )

    def _cos(a, b):
        dot = (
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), "
            "(x, y) -> x + y)"
        )
        return f"{dot} / ({_ssq(a)} * {_ssq(b)})"

    rounds = []
    prev = "s1"
    for r in range(2, 6):
        rounds.append(
            f"""
    p{r} AS MATERIALIZED (SELECT ca AS cid, max(sim) AS pen
         FROM sims JOIN {prev} ON sims.cb = {prev}.cid GROUP BY 1),
    sc{r} AS MATERIALIZED (SELECT s.vec_id AS cid,
             CAST(0.7 AS DOUBLE) * s.rel
             - (1 - CAST(0.7 AS DOUBLE)) * coalesce(p.pen, CAST(0 AS DOUBLE)) AS score
         FROM short s LEFT JOIN p{r} p ON p.cid = s.vec_id
         WHERE s.vec_id NOT IN (SELECT cid FROM {prev})),
    pick{r} AS MATERIALIZED (SELECT cid, {r} AS rank, score FROM sc{r}
         ORDER BY score DESC, cid LIMIT 1),
    s{r} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{r})"""
        )
        prev = f"s{r}"
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS MATERIALIZED (
      SELECT vec_id AS qid, e AS qv FROM v ORDER BY vec_id LIMIT 1),
    rel0 AS MATERIALIZED (
      SELECT vec_id, e, {_cos('qv', 'e')} AS rel
      FROM v, q WHERE vec_id <> qid),
    short AS MATERIALIZED (
      SELECT * FROM rel0 ORDER BY rel DESC, vec_id LIMIT 20),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS ca, b.vec_id AS cb, {_cos('a.e', 'b.e')} AS sim
      FROM short a JOIN short b ON a.vec_id <> b.vec_id),
    s1 AS MATERIALIZED (
      SELECT vec_id AS cid, 1 AS rank, rel AS score FROM short
      ORDER BY rel DESC, vec_id LIMIT 1),{','.join(rounds)}
    SELECT CAST(cid AS BIGINT) AS cid, CAST(rank AS INT) AS rank,
           floor(score * 1000000) / 1000000 AS score
    FROM s5 ORDER BY rank
    """


@query("q347_mmr_diversify", oracle=_q347_oracle())
def q347_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (operators/similarity.mmr_select,
    lambda=0.7, k=5) over the exact top-20 cosine shortlist for the
    lowest-id query vector — the diversity-aware selection step after
    ANN retrieval (RAG context assembly / diverse subset picks).  The
    greedy rounds run as DataFrame ops on the one-partition shortlist
    (the O(n^2) sim matrix exists only there; relevance against the
    corpus is one broadcast-query scan, knn_join's shape).  Rounds are
    bit-replayable: ordered-fold cosines, a total (score DESC, id ASC)
    argmax, and the 1-lam constant evaluated as an IEEE subtraction on
    both engines — the oracle unrolls the identical 5 picks."""
    from .operators.similarity import mmr_select

    emb = table(spark, sf_dir, "embeddings")
    q = emb.orderBy("vec_id").limit(1)
    cands = emb.join(q.select("vec_id"), "vec_id", "left_anti")
    out = mmr_select(cands, "vec_id", "embedding", q, k=5, lam=0.7, shortlist=20)
    return out.select(
        F.col("cid").cast("bigint").alias("cid"),
        F.col("rank").cast("int").alias("rank"),
        (F.floor(F.col("score") * 1e6) / 1e6).alias("score"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# q355: multinomial Naive Bayes language ID (train + apply + confusion)
# ---------------------------------------------------------------------------


@query(
    "q355_naive_bayes_lid",
    oracle="""
    WITH tr AS MATERIALIZED (
      SELECT lang AS l, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE doc_id % 5 <> 0),
    nl AS MATERIALIZED (
      SELECT l, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1),
    cwl AS MATERIALIZED (
      SELECT l, w, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
    vv AS MATERIALIZED (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS V FROM tr),
    pri AS MATERIALIZED (
      SELECT lang AS l, CAST(count(*) AS BIGINT) AS nd
      FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
    tot AS MATERIALIZED (SELECT CAST(sum(nd) AS BIGINT) AS t FROM pri),
    tt AS MATERIALIZED (
      SELECT doc_id, tl, w, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT doc_id, lang AS tl, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id % 5 = 0)
      GROUP BY 1, 2, 3),
    terms AS MATERIALIZED (
      SELECT tt.doc_id, tt.tl, nl.l AS cl, tt.w,
             tt.cnt * ln((coalesce(cwl.c, 0) + 1) / (nl.n + vv.V)) AS p
      FROM tt CROSS JOIN nl
      LEFT JOIN cwl ON cwl.l = nl.l AND cwl.w = tt.w, vv),
    folded AS MATERIALIZED (
      SELECT doc_id, tl, cl,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY w)),
                         (a, b) -> a + b) AS ll
      FROM terms GROUP BY 1, 2, 3),
    scored AS MATERIALIZED (
      SELECT f.doc_id, f.tl, f.cl,
             ln(CAST(pri.nd AS DOUBLE) / tot.t) + f.ll AS score
      FROM folded f JOIN pri ON pri.l = f.cl, tot),
    pick AS MATERIALIZED (
      SELECT doc_id, tl, cl FROM (
        SELECT doc_id, tl, cl,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cl ASC) AS rn
        FROM scored) WHERE rn = 1)
    SELECT tl AS true_lang, cl AS pred_lang,
           CAST(count(*) AS BIGINT) AS n
    FROM pick GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q355_naive_bayes_lid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language ID, trained on 80% of documents
    and audited as a confusion matrix on the held-out 20%
    (operators/text.multinomial_nb) — the generative classifier family
    next to the hashed-linear scorer (q315) and the bigram LM (q317),
    and the model-based upgrade of q79's stopword-vote language_id.
    Laplace-smoothed word likelihoods + document-frequency priors,
    argmax over the 5 language classes.  The model (vocab × classes) is
    word-keyed and broadcast-joinable; scoring shuffles (doc, class)
    partial scores, never text; the per-doc-class log-score is an
    ordered word-fold so both engines walk identical IEEE paths into
    the argmax."""
    from .operators.text import multinomial_nb

    d = table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 5 != 0)
    test = d.filter(F.col("doc_id") % 5 == 0)
    out = multinomial_nb(
        train, test, id_col="doc_id", label_col="lang", text_col="text"
    )
    return (
        out.groupBy(
            F.col("label").alias("true_lang"), F.col("pred").alias("pred_lang")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# q361: embedding-space health audit (pairwise-cosine distribution)
# ---------------------------------------------------------------------------


def _q361_cos(a: str, b: str) -> str:
    def ssq(v):
        return (
            "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform({v}, x -> x * x)), (x, y) -> x + y))"
        )

    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), "
        "(x, y) -> x + y)"
    )
    return f"{dot} / ({ssq(a)} * {ssq(b)})"


@query(
    "q361_embedding_health",
    oracle=f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    a AS (SELECT vec_id AS ia, e AS ea FROM v WHERE vec_id % 7 = 0),
    b AS (SELECT vec_id AS ib, e AS eb FROM v WHERE vec_id % 7 = 3),
    pairs AS MATERIALIZED (
      SELECT {_q361_cos('ea', 'eb')} AS c FROM a CROSS JOIN b),
    stats AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             round(avg(c), 4) AS mean_cos,
             CAST(sum(CASE WHEN c > 0.9 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high
      FROM pairs)
    SELECT CAST(least(9, floor((c + 1) / 2 * 10)) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           max(s.n_pairs) AS n_pairs,
           max(s.mean_cos) AS mean_cos,
           max(s.n_high) / max(s.n_pairs) AS high_sim_share
    FROM pairs, stats s GROUP BY 1 ORDER BY 1
    """,
)
def q361_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health audit: the pairwise-cosine distribution over
    a deterministic residue-class pair sample — the corpus-level check
    that catches EMBEDDING COLLAPSE (mean cosine drifting toward 1,
    mass piling into the top bin) before it silently breaks semantic
    dedup (q126) and ANN recall (q329): a collapsed space makes
    everything a near-dup.  10-bin histogram over [-1, 1] + mean cosine
    + share above 0.9.  The pair set is two id-residue slices crossed
    (bounded by the slice product, engine-replayable; at corpus scale
    the slices are fixed-size stratified samples so the audit cost is
    constant).  Cosines are ordered folds — identical doubles land in
    identical bins, so the histogram is exact on both engines; only the
    float MEAN carries the round-4 tolerance."""
    from .operators.similarity import as_double, cosine

    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    a = v.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("ia"), F.col("e").alias("ea")
    )
    b = v.filter(F.col("vec_id") % 7 == 3).select(
        F.col("vec_id").alias("ib"), F.col("e").alias("eb")
    )
    pairs = a.crossJoin(b).select(cosine(F.col("ea"), F.col("eb")).alias("c"))
    pairs = pairs.persist()
    stats = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg("c"), 4).alias("mean_cos"),
        F.sum(F.when(F.col("c") > 0.9, 1).otherwise(0))
        .cast("bigint")
        .alias("n_high"),
    )
    return (
        pairs.crossJoin(F.broadcast(stats))
        .groupBy(
            F.least(F.lit(9), F.floor((F.col("c") + 1) / 2 * 10))
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("n_pairs").alias("n_pairs"),
            F.max("mean_cos").alias("mean_cos"),
            (F.max("n_high").cast("double") / F.max("n_pairs")).alias(
                "high_sim_share"
            ),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q362: source-ablation (leave-one-out) mixture readout
# ---------------------------------------------------------------------------


@query(
    "q362_source_ablation",
    oracle="""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(chars) AS BIGINT) AS ct
      FROM per
    )
    SELECT source, n AS n_docs,
           floor(CAST(ct AS DOUBLE) / nt * 1000000) / 1000000 AS mean_all,
           floor(CAST(ct - chars AS DOUBLE) / (nt - n) * 1000000) / 1000000
             AS mean_without,
           floor((CAST(ct - chars AS DOUBLE) / (nt - n)
                  - CAST(ct AS DOUBLE) / nt) * 1000000) / 1000000
             AS loo_delta
    FROM per, tot ORDER BY source
    """,
)
def q362_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out source ablation: for every corpus source, the change
    in the corpus mean document length if that source were dropped — the
    cheapest data-valuation readout (which sources pull the quality
    proxy up or down) that sits under the mixture-rate calculator
    (q323): compute LOO deltas on a metric, then rebalance.  ONE
    grouped aggregate gives per-source integer sums; the total is a
    1-row broadcast; every LOO mean is closed-form integer algebra
    ((ct-chars)/(nt-n)) — no second scan per source, which is the whole
    trick (naive ablation re-scans the corpus |sources| times).  All
    inputs are exact integers; floor-at-6 on the single-division
    outputs."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("chars").cast("bigint").alias("ct"),
    )
    mean_all = F.col("ct").cast("double") / F.col("nt")
    mean_wo = (F.col("ct") - F.col("chars")).cast("double") / (
        F.col("nt") - F.col("n")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            (F.floor(mean_all * 1e6) / 1e6).alias("mean_all"),
            (F.floor(mean_wo * 1e6) / 1e6).alias("mean_without"),
            (F.floor((mean_wo - mean_all) * 1e6) / 1e6).alias("loo_delta"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q363: LSH banding parameter planner (analytic S-curve certificate)
# ---------------------------------------------------------------------------


@query(
    "q363_lsh_param_planner",
    oracle="""
    WITH grid AS (
      SELECT b.b, r.r
      FROM (SELECT unnest([4, 8, 16, 32]) AS b) b
      CROSS JOIN (SELECT unnest([2, 4, 8]) AS r) r
      WHERE b.b * r.r <= 128
    )
    SELECT CAST(b AS INT) AS bands, CAST(r AS INT) AS rows_per_band,
           CAST(b * r AS INT) AS signature_len,
           round(pow(1.0 / b, 1.0 / r), 6) AS s_star,
           round(1 - pow(1 - pow(CAST(0.5 AS DOUBLE), r), b), 6) AS p_at_50,
           round(1 - pow(1 - pow(CAST(0.7 AS DOUBLE), r), b), 6) AS p_at_70,
           round(1 - pow(1 - pow(CAST(0.8 AS DOUBLE), r), b), 6) AS p_at_80,
           round(1 - pow(1 - pow(CAST(0.9 AS DOUBLE), r), b), 6) AS p_at_90
    FROM grid ORDER BY bands, rows_per_band
    """,
)
def q363_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter planner: the analytic candidate-probability
    S-curve 1-(1-s^r)^b over a (bands, rows) grid with the threshold
    approximation s* = (1/b)^(1/r) — the DESIGN-side companion of
    q330's MEASURED precision/recall certificate (q330 audits one
    (b, r) choice against ground truth; this tabulates the curve that
    picks the choice, MMDS §3.4 shape).  Pure bounded-grid scalar
    algebra (pow at round-6, the ln convention); the data-sized cost of
    acting on it lives in minhash_signature/lsh_candidate_pairs, whose
    b and r arguments this query's rows parameterize."""
    # the (b, r) grid is a bounded LITERAL — enumerate it driver-side
    # rather than cross-joining two literal frames (a 4x3 CartesianProduct
    # node that the catalog-wide plan lint would rightly have to allowlist)
    grid = _lrd(spark, 
        [(b, r) for b in (4, 8, 16, 32) for r in (2, 4, 8) if b * r <= 128],
        ["b", "r"],
    )

    def _p(s: float):
        return F.round(
            1
            - F.pow(
                1 - F.pow(F.lit(s).cast("double"), F.col("r")), F.col("b")
            ),
            6,
        )

    return grid.select(
        F.col("b").cast("int").alias("bands"),
        F.col("r").cast("int").alias("rows_per_band"),
        (F.col("b") * F.col("r")).cast("int").alias("signature_len"),
        F.round(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 6).alias("s_star"),
        _p(0.5).alias("p_at_50"),
        _p(0.7).alias("p_at_70"),
        _p(0.8).alias("p_at_80"),
        _p(0.9).alias("p_at_90"),
    ).orderBy("bands", "rows_per_band")
