"""Catalog extension: crawl-ingestion + incremental-corpus operators
(operators/text.strip_markup / inverse_frequency_score,
operators/dedup.lsh_band_index / incremental_near_dups) — the steps between
"raw crawl" and "dedup-ready corpus" that the reference's frame-verb surface
(it stops at tables) never reaches but a 100 TB training pipeline runs daily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .catalog import load_events, query, table
from .catalog_llm import _SH_SQL, _mh_sql
from .operators import dedup as dd
from .operators import text as tx

# ---------------------------------------------------------------------------
# q159: corpus-LM quality proxy (log-free fixed-point surprisal)
# ---------------------------------------------------------------------------


@query(
    "q159_surprisal_score",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
    n AS (SELECT count(*) AS total FROM toks),
    scored AS (SELECT t.doc_id,
                      CAST(floor(n.total * 1000.0 / v.cnt) AS BIGINT) AS surp
               FROM toks t JOIN vocab v USING (w) CROSS JOIN n)
    SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           CAST(sum(surp) AS BIGINT) AS surprisal_milli,
           floor(sum(surp) * 1.0 / count(*) / 1000.0 * 1000000) / 1000000 AS avg_surprisal
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q159_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality filter (operators/text.inverse_frequency_score —
    the CCNet perplexity-filter shape, log-free): per-token surprisal
    N/count(token) accumulated per doc in fixed-point so the sum is an
    integer — associative, bit-identical under any partitioning, comparable
    across engines without float-order hazards.  One explode + two
    map-side-combined aggs; vocabulary joins on the token."""
    d = table(spark, sf_dir, "documents")
    return tx.inverse_frequency_score(d, "doc_id", "text", scale=1000).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# q160: markup stripping (crawl-text normalization)
# ---------------------------------------------------------------------------

# deterministic pseudo-HTML built identically on both engines, so the oracle
# checks the STRIP pipeline, not the synthesis
_Q160_WRAP_SQL = (
    "'<div class=\"doc\">' || "
    "replace(text, ' value ', ' <b>value</b> &amp; ') || '</div>'"
)


@query(
    "q160_strip_markup",
    oracle=f"""
    WITH html AS (SELECT doc_id, {_Q160_WRAP_SQL} AS h FROM documents),
    s1 AS (SELECT doc_id, regexp_replace(h, '<[^>]*>', ' ', 'g') AS t FROM html),
    s2 AS (SELECT doc_id,
                  replace(replace(replace(replace(replace(t,
                      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                      '&#39;', ''''), '&amp;', '&') AS t
           FROM s1),
    s3 AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS t FROM s2)
    SELECT doc_id, md5(t) AS clean_fp, CAST(length(t) AS INT) AS n_chars
    FROM s3 ORDER BY doc_id
    """,
)
def q160_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping (operators/text.strip_markup): tags out, XML entities
    decoded, whitespace collapsed — the crawl-text normalization pass.  The
    query wraps each document in deterministic pseudo-HTML on BOTH engines,
    then each engine runs its own strip implementation; md5 of the cleaned
    text is value-compared.  Elementwise regex/replace chain: codegen'd,
    shuffle-free, scan-bound at 100 TB."""
    d = table(spark, sf_dir, "documents")
    html = d.select(
        "doc_id",
        F.concat(
            F.lit('<div class="doc">'),
            F.replace(
                F.col("text"), F.lit(" value "), F.lit(" <b>value</b> &amp; ")
            ),
            F.lit("</div>"),
        ).alias("text"),
    )
    clean = tx.strip_markup(html, "doc_id", "text")
    return clean.select(
        "doc_id",
        F.md5(F.col("text")).alias("clean_fp"),
        F.length(F.col("text")).cast("int").alias("n_chars"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q161: incremental ingestion dedup (new batch vs existing corpus index)
# ---------------------------------------------------------------------------


def _q161_with_clause() -> str:
    """Shared CTE chain: new-batch vs old-corpus verified pairs (>= 0.8)."""

    def bands_sql(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"md5(mh{4 * b} || '|' || mh{4 * b + 1} || '|' || mh{4 * b + 2} || '|' || mh{4 * b + 3}) AS bh "
            f"FROM {src}"
            for b in range(4)
        )

    mh16 = ", ".join(f"{_mh_sql(i)} AS mh{i}" for i in range(16))
    return f"""
    old_c AS (SELECT doc_id, text FROM documents),
    new_c AS (SELECT doc_id + 100000 AS doc_id,
                     regexp_replace(text, '\\s+\\S+$', '') AS text
              FROM documents WHERE doc_id < 50),
    sh_old AS (SELECT doc_id, {_SH_SQL} AS sh FROM old_c),
    sh_new AS (SELECT doc_id, {_SH_SQL} AS sh FROM new_c),
    sig_old AS (SELECT doc_id, sh, {mh16} FROM sh_old),
    sig_new AS (SELECT doc_id, sh, {mh16} FROM sh_new),
    bands_old AS ({bands_sql('sig_old')}),
    bands_new AS ({bands_sql('sig_new')}),
    cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
             FROM bands_new n JOIN bands_old o
             ON n.band = o.band AND n.bh = o.bh),
    pairs AS (
      SELECT new_id, old_id,
             round(len(list_filter(sn.sh, x -> list_contains(so.sh, x))) * 1.0
                   / len(list_distinct(list_concat(sn.sh, so.sh))), 6) AS jaccard
      FROM cand
      JOIN sh_new sn ON sn.doc_id = new_id
      JOIN sh_old so ON so.doc_id = old_id
      WHERE len(list_filter(sn.sh, x -> list_contains(so.sh, x))) * 1.0
            / len(list_distinct(list_concat(sn.sh, so.sh))) >= 0.8)
    """


def _q161_oracle() -> str:
    return f"""
    WITH {_q161_with_clause()}
    SELECT new_id, old_id, jaccard FROM pairs ORDER BY new_id, old_id
    """


@query("q161_incremental_dedup", oracle=_q161_oracle())
def q161_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup (operators/dedup.incremental_near_dups):
    a simulated daily batch (50 docs, last word dropped, shifted ids) probes
    the existing corpus's LSH band index (operators/dedup.lsh_band_index) —
    the old corpus is never self-joined or re-shingled, so per-batch cost is
    O(batch + collisions), the posture that keeps daily dedup affordable
    when the accumulated corpus is 1000x the batch.  Candidates are verified
    with exact n-gram Jaccard >= 0.8 against the matched old docs only."""
    d = table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"\s+\S+$", "").alias("text"),
    )
    out = dd.incremental_near_dups(
        new, d, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4, threshold=0.8
    )
    return out.orderBy("new_id", "old_id")


# ---------------------------------------------------------------------------
# q162: greedy subword tokenization (WordPiece matching rule)
# ---------------------------------------------------------------------------

_Q162_VOCAB = [
    # single chars (full coverage of the synthetic corpus's a-z words)
    *[chr(c) for c in range(ord("a"), ord("z") + 1)],
    # multi-char pieces, max length 3 (bounds the oracle's walk fan-out)
    "th", "he", "in", "er", "an", "re", "on", "at", "st", "or",
    "val", "ue", "tab", "le", "row", "key", "agg", "sca", "fas",
    "slo", "lin", "sor", "win", "dow", "par", "has",
]


def _q162_oracle() -> str:
    vocab_sql = ", ".join(f"'{p}'" for p in _Q162_VOCAB)
    return f"""
    WITH RECURSIVE
    vocab AS (SELECT unnest([{vocab_sql}]) AS p),
    words AS (
      SELECT doc_id, parts[o] AS w, o AS pos
      FROM (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS o
            FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents))),
    dw AS (SELECT DISTINCT w FROM words),
    positions AS (
      SELECT w, unnest(range(1, length(w) + 1)) AS cpos FROM dw),
    best AS (
      SELECT pp.w, pp.cpos,
             (SELECT p FROM vocab v
              WHERE substr(pp.w, pp.cpos, length(v.p)) = v.p
              ORDER BY length(v.p) DESC, v.p LIMIT 1) AS piece
      FROM positions pp),
    walk(w, cpos, toks) AS (
      SELECT w, 1, []::VARCHAR[] FROM dw
      UNION ALL
      SELECT walk.w, walk.cpos + coalesce(length(b.piece), 1),
             list_append(walk.toks, coalesce(b.piece, '[UNK]'))
      FROM walk JOIN best b ON b.w = walk.w AND b.cpos = walk.cpos
      WHERE walk.cpos <= length(walk.w)),
    done AS (SELECT w, toks FROM walk WHERE cpos > length(w)),
    per_word AS (
      SELECT ww.doc_id, ww.pos, d.toks FROM words ww JOIN done d ON d.w = ww.w)
    SELECT doc_id,
           CAST(sum(len(toks)) AS BIGINT) AS n_pieces,
           CAST(sum(len(list_filter(toks, t -> t = '[UNK]'))) AS BIGINT) AS n_unk,
           md5(string_agg(array_to_string(toks, '|'), '|' ORDER BY pos)) AS pieces_fp
    FROM per_word GROUP BY doc_id ORDER BY doc_id
    """


@query("q162_wordpiece", oracle=_q162_oracle())
def q162_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match subword tokenization
    (operators/text.wordpiece_tokenize): the WordPiece matching rule over a
    literal vocabulary, tokenizing each DISTINCT word once (Heaps'-law
    bounded Python work, Arrow-batched) and joining pieces back to the
    corpus.  The oracle replays the same greedy walk as a recursive CTE, so
    the per-character matching semantics — not just counts — are
    value-checked (md5 of the piece stream per document)."""
    d = table(spark, sf_dir, "documents")
    toks = tx.wordpiece_tokenize(d, "doc_id", "text", _Q162_VOCAB)
    per_doc = toks.groupBy("doc_id").agg(
        F.sum(F.size("pieces")).cast("bigint").alias("n_pieces"),
        F.sum(F.size(F.filter(F.col("pieces"), lambda t: t == "[UNK]")))
        .cast("bigint")
        .alias("n_unk"),
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
    return per_doc.orderBy("doc_id")


# ---------------------------------------------------------------------------
# q163/q164: exact k-NN join + hard-negative mining
# ---------------------------------------------------------------------------

_KNN_CTES = """
    e AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 8),
    p AS (SELECT q.vec_id AS query_id, q.label AS ql,
                 c.vec_id AS neighbor_id, c.label AS neighbor_label,
                 round(list_dot_product(q.emb, c.emb)
                       / (sqrt(list_dot_product(q.emb, q.emb))
                          * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos_sim
          FROM e c CROSS JOIN q
          WHERE c.vec_id != q.vec_id)
"""


@query(
    "q163_knn_join",
    oracle=f"""
    WITH {_KNN_CTES},
    r AS (SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM p)
    SELECT query_id, rank, neighbor_id, cos_sim
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q163_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join (operators/similarity.knn_join): 8 query vectors x the
    full corpus, top-5 neighbors each by cosine.  Query side broadcasts;
    corpus vectors never shuffle — only (query, neighbor, sim) triples enter
    the per-query top-k window.  Ranks order on round(cos, 6) with an id
    tie-break, so they are retry- and engine-deterministic.  The exact
    verify counterpart of the IVF/SRP approximate family (which is the
    documented path when the query side is corpus-sized)."""
    from .operators import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = sim.knn_join(q, e, "vec_id", "embedding", k=5)
    return out.orderBy("query_id", "rank")


@query(
    "q164_hard_negatives",
    oracle=f"""
    WITH {_KNN_CTES},
    r AS (SELECT query_id, neighbor_id, neighbor_label, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM p WHERE neighbor_label != ql)
    SELECT query_id, rank, neighbor_id, cos_sim, neighbor_label
    FROM r WHERE rank <= 3 ORDER BY query_id, rank
    """,
)
def q164_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/similarity.knn_join with exclude_same_label): each anchor's 3
    nearest neighbors of a DIFFERENT class — the pairs that teach a
    contrastive model the most.  Same broadcast-query / window-top-k shape
    as q163 with the label filter applied before ranking."""
    from .operators import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = sim.knn_join(
        q, e, "vec_id", "embedding", k=3,
        label_col="label", exclude_same_label=True,
    )
    return out.orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# q165: STREAMING ingest dedup — file stream probes the static corpus index
# ---------------------------------------------------------------------------


def _q165_oracle() -> str:
    return f"""
    WITH {_q161_with_clause()}
    SELECT new_id, CAST(count(*) AS BIGINT) AS n_dups, max(jaccard) AS max_jaccard
    FROM pairs GROUP BY new_id ORDER BY new_id
    """


@query("q165_stream_index_probe", oracle=_q165_oracle())
def q165_stream_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental dedup: the daily-ingest batch arrives as a file
    stream, is band-hashed in-flight (lsh_band_index is stateless narrow
    ops, so it runs unchanged on the stream), probes the STATIC corpus band
    index with a stream-static join, verifies candidates with exact Jaccard
    against the static corpus texts, and aggregates per new doc.  State:
    the stream-static joins are stateless; only the pair-dedup and final
    aggregate hold state, both bounded by the batch's collision count.
    availableNow output must equal the batch q161 pipeline (the oracle
    aggregates the same verified pairs)."""
    import os

    from .catalog_sources import _scratch
    from .streaming import ops as st

    d = table(spark, sf_dir, "documents")
    # static side: the persisted corpus index + texts (built batch-side once)
    old_idx = dd.lsh_band_index(d, "doc_id", "text").select(
        F.col("doc_id").alias("old_id"), "band", "bh"
    )
    old_txt = d.select(F.col("doc_id").alias("old_id"), F.col("text").alias("__tb"))

    # the "daily batch" materialized once, then consumed as a file stream
    path = _scratch("stream_newbatch", sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.regexp_replace(F.col("text"), r"\s+\S+$", "").alias("text"),
        ).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    stream = st.read_stream_parquet(spark, path, schema)

    s_idx = dd.lsh_band_index(stream, "doc_id", "text", carry_cols=["text"]).select(
        F.col("doc_id").alias("new_id"), F.col("text").alias("__ta"), "band", "bh"
    )
    jac = dd.shingle_jaccard(F.col("__ta"), F.col("__tb"), 3)
    verified = (
        s_idx.join(old_idx, ["band", "bh"])  # stream-static: stateless
        .join(old_txt, "old_id")
        .select("new_id", "old_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
        .dropDuplicates(["new_id", "old_id"])  # collapse multi-band collisions
    )
    agg = verified.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )
    out = st.run_available_now(agg, "q165_sink", output_mode="complete")
    return out.orderBy("new_id")


# ---------------------------------------------------------------------------
# q166: embedding mean-pooling (chunk -> document aggregation)
# ---------------------------------------------------------------------------


@query(
    "q166_mean_pool",
    oracle="""
    WITH e AS (SELECT vec_id // 10 AS gid,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
    dims AS (SELECT gid, d AS dim, emb[d + 1] AS v
             FROM (SELECT gid, emb, unnest(range(0, len(emb))) AS d FROM e)),
    per_dim AS (SELECT gid, dim, avg(v) AS m, count(*) AS n
                FROM dims GROUP BY gid, dim),
    pooled AS (SELECT gid, CAST(max(n) AS INT) AS n_vecs,
                      list(m ORDER BY dim) AS p
               FROM per_dim GROUP BY gid)
    SELECT gid, n_vecs,
           round(p[1], 6) AS d0, round(p[2], 6) AS d1,
           round(p[3], 6) AS d2, round(p[4], 6) AS d3,
           round(sqrt(list_dot_product(p, p)), 6) AS l2
    FROM pooled ORDER BY gid
    """,
)
def q166_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-to-document embedding pooling (operators/similarity.mean_pool):
    every 10 consecutive vectors form a pseudo-document; their element-wise
    mean is the document embedding.  The shuffle carries (group, dim,
    partial) triples — never whole vectors — and float32 inputs summed in
    double are exact, so pooled vectors are bit-identical under any
    partitioning (checked: the oracle recomputes them single-node)."""
    from .operators import similarity as sim

    e = table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") / 10).cast("bigint").alias("gid"), "embedding"
    )
    pooled = sim.mean_pool(e, "gid", "embedding")
    p = F.col("pooled")
    return pooled.select(
        "gid",
        "n_vecs",
        F.round(p[0], 6).alias("d0"),
        F.round(p[1], 6).alias("d1"),
        F.round(p[2], 6).alias("d2"),
        F.round(p[3], 6).alias("d3"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(p, lambda x: x * x), F.lit(0.0), lambda s, v: s + v
                )
            ),
            6,
        ).alias("l2"),
    ).orderBy("gid")


# ---------------------------------------------------------------------------
# q167: robust outlier detection (Tukey fences) / q168: linear interpolation
# ---------------------------------------------------------------------------


@query(
    "q167_tukey_outliers",
    oracle="""
    WITH b AS (SELECT event_type,
                      quantile_cont(value, 0.25) AS p25,
                      quantile_cont(value, 0.75) AS p75
               FROM events GROUP BY event_type),
    f AS (SELECT event_type, p25 - 1.5 * (p75 - p25) AS lo,
                 p75 + 1.5 * (p75 - p25) AS hi FROM b),
    j AS (SELECT e.event_type, e.value, f.lo, f.hi,
                 (e.value < f.lo OR e.value > f.hi) AS is_out
          FROM events e JOIN f USING (event_type))
    SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(min(lo), 6) AS lo, round(max(hi), 6) AS hi,
           round(min(CASE WHEN is_out THEN value END), 4) AS min_out,
           round(max(CASE WHEN is_out THEN value END), 4) AS max_out
    FROM j GROUP BY event_type ORDER BY event_type
    """,
)
def q167_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection (operators/observability.
    tukey_outliers): values outside [p25 - 1.5*IQR, p75 + 1.5*IQR] per event
    type.  Quantile fences, not z-scores, on purpose: exact percentiles are
    pure functions of the sorted data, so the outlier SET is bit-identical
    across engines/retries (a mean/stddev fence floats with accumulation
    order).  One tiny grouped-percentile agg broadcast back + one codegen
    filter."""
    from .catalog import load_events
    from .operators import observability as ob

    e = load_events(spark, sf_dir)
    out = ob.tukey_outliers(e, "value", group_cols=["event_type"])
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.min("lo"), 6).alias("lo"),
            F.round(F.max("hi"), 6).alias("hi"),
            F.round(F.min(F.when(F.col("is_outlier"), F.col("value"))), 4).alias("min_out"),
            F.round(F.max(F.when(F.col("is_outlier"), F.col("value"))), 4).alias("max_out"),
        )
        .orderBy("event_type")
    )


@query(
    "q168_interpolate",
    oracle="""
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t,
                      CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
               FROM events WHERE user_id < 50),
    w AS (SELECT event_id, user_id, t, v,
            last_value(v IGNORE NULLS) OVER fw AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER fw AS pt,
            last_value(v IGNORE NULLS) OVER bw AS nv,
            last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER bw AS nt
          FROM e
          WINDOW fw AS (PARTITION BY user_id ORDER BY t, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 bw AS (PARTITION BY user_id ORDER BY t DESC, event_id DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id, (v IS NULL) AS was_masked,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      WHEN nt = pt THEN pv
                      ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END, 6) AS v_interp
    FROM w ORDER BY user_id, event_id
    """,
)
def q168_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation (operators/temporal.interpolate_linear): every
    7th event's value is masked, then rebuilt as the time-weighted blend of
    the nearest known neighbors (edge gaps fall back to nearest-fill).  Two
    single-pass IGNORE-NULLS running windows per series, one shuffle on the
    series key — forward_fill's cost envelope with strictly better
    estimates.  The oracle replays the identical window algebra."""
    from .catalog import load_events
    from .operators import temporal as tp

    e = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id") < 50)
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts")).alias("t"),
            F.when(F.col("event_id") % 7 != 0, F.col("value")).alias("v"),
        )
    )
    out = tp.interpolate_linear(
        e, "v", "t", partition_cols=["user_id"], order_cols=["t", "event_id"],
        out_col="v_interp",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("v").isNull().alias("was_masked"),
        F.round(F.col("v_interp"), 6).alias("v_interp"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# q171: the flagship END-TO-END training-data pipeline, one lazy plan
# ---------------------------------------------------------------------------

_E2E_SALT = "e2e"
_E2E_MAX_SURP = 40_000   # per-token fixed-point surprisal ceiling (milli)
_E2E_MIN_TOKENS = 20
_E2E_BUDGET = 15_000     # token budget of the final selection


@query(
    "q171_pipeline_e2e",
    oracle=f"""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    d AS (SELECT doc.* FROM documents doc JOIN keep USING (doc_id)),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM d),
    vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
    n AS (SELECT count(*) AS total FROM toks),
    sc AS (SELECT t.doc_id, CAST(floor(n.total * 1000.0 / v.cnt) AS BIGINT) AS surp
           FROM toks t JOIN vocab v USING (w) CROSS JOIN n),
    doc_sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(sum(surp) AS BIGINT) AS sm
               FROM sc GROUP BY doc_id),
    qual AS (
      SELECT s.doc_id, d.source, d.n_chars, s.n_tokens, s.sm
      FROM doc_sc s JOIN d USING (doc_id)
      WHERE s.n_tokens >= {_E2E_MIN_TOKENS}
        AND s.sm <= {_E2E_MAX_SURP} * s.n_tokens),
    st AS (SELECT source, sum(n_chars) AS src_chars FROM qual GROUP BY source),
    r AS (SELECT source,
                 CAST((SELECT min(src_chars) FROM st) AS DOUBLE)
                   / CAST(src_chars AS DOUBLE) AS rate
          FROM st),
    bal AS (
      SELECT q.* FROM qual q JOIN r USING (source)
      WHERE ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR) || '{_E2E_SALT}'), 1, 8))::UBIGINT
              / 4294967296.0 < r.rate),
    o AS (SELECT doc_id, source, n_tokens,
                 (10000000000 - (sm * 1000 // n_tokens)) * 10000000 + doc_id AS ord
          FROM bal),
    c AS (SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY ord
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_tokens
          FROM o)
    SELECT doc_id, source, n_tokens, cum_tokens FROM c
    WHERE cum_tokens <= {_E2E_BUDGET} ORDER BY doc_id
    """,
)
def q171_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data pipeline as ONE lazy Spark plan: exact
    dedup (md5 digests, keep-min) -> corpus-LM quality gate (fixed-point
    surprisal per token, integer compare — no float boundary) -> character-
    budget source balancing (md5 coin) -> token-budget selection ordered by
    surprisal density (integer `div` priority, distributed prefix sum).
    Every stage is an operator exercised alone elsewhere (q70/q159/q157/
    q158); this query pins their COMPOSITION: one submit, Catalyst sees the
    whole pipeline, and every intermediate stays distributed — no
    checkpoint-to-driver between stages.  All stage decisions are integer/
    digest arithmetic, so the selected set is bit-reproducible across
    engines, retries, and partitionings."""
    from .operators import dedup as dd
    from .operators import text as tx
    from .operators import training as tr

    d = table(spark, sf_dir, "documents")
    keep = dd.exact_dedup(d, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    kept = d.join(keep, "doc_id")
    scored = tx.inverse_frequency_score(kept, "doc_id", "text", scale=1000)
    enriched = scored.join(kept.select("doc_id", "source", "n_chars"), "doc_id")
    qual = enriched.filter(
        (F.col("n_tokens") >= _E2E_MIN_TOKENS)
        & (F.col("surprisal_milli") <= _E2E_MAX_SURP * F.col("n_tokens"))
    )
    st = qual.groupBy("source").agg(F.sum("n_chars").alias("src_chars"))
    m = st.agg(F.min("src_chars").alias("min_chars"))
    rates = st.crossJoin(F.broadcast(m)).select(
        "source", (F.col("min_chars") / F.col("src_chars")).alias("rate")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_E2E_SALT))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 32))
    )
    bal = qual.join(F.broadcast(rates), "source").filter(u < F.col("rate"))
    ordered = bal.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (
            (F.lit(10000000000) - F.expr("surprisal_milli * 1000 div n_tokens"))
            * F.lit(10000000)
            + F.col("doc_id")
        ).alias("__ord"),
    )
    c = tr.global_cumsum(ordered, "__ord", "n_tokens", out_col="cum_tokens")
    return (
        c.filter(F.col("cum_tokens") <= _E2E_BUDGET)
        .select(
            "doc_id", "source", F.col("n_tokens").cast("int").alias("n_tokens"),
            "cum_tokens",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q172: Unicode NFC normalization (multilingual corpus hygiene)
# ---------------------------------------------------------------------------

# decomposed combining sequences appended identically on both engines; the
# STRIP under test is each engine's own NFC implementation
_Q172_SUFFIX = ' café Å end'


@query(
    "q172_nfc_normalize",
    oracle=f"""
    WITH t AS (SELECT doc_id, text || '{_Q172_SUFFIX}' AS raw FROM documents),
    n AS (SELECT doc_id, raw, nfc_normalize(raw) AS clean FROM t)
    SELECT doc_id,
           CAST(length(raw) AS INT)   AS len_raw,
           CAST(length(clean) AS INT) AS len_nfc,
           md5(clean)                 AS nfc_fp
    FROM n ORDER BY doc_id
    """,
)
def q172_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (operators/text.nfc_normalize): combining
    sequences (e + U+0301, A + U+030A) composed to single codepoints —
    without this pass, multilingual dedup digests and tokenizer vocabularies
    silently split on encoding form.  Spark side is stdlib unicodedata via
    an Arrow-batched Pandas UDF (no builtin exists); the oracle is DuckDB's
    native nfc_normalize — two independent NFC implementations must agree
    byte-for-byte (md5 of the normalized text)."""
    d = table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id", F.concat(F.col("text"), F.lit(_Q172_SUFFIX)).alias("text")
    )
    lens_raw = raw.select("doc_id", F.length("text").alias("len_raw"), "text")
    clean = tx.nfc_normalize(lens_raw, "doc_id", "text")
    return clean.select(
        "doc_id",
        F.col("len_raw").cast("int").alias("len_raw"),
        F.length("text").cast("int").alias("len_nfc"),
        F.md5("text").alias("nfc_fp"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q173/q174: outer explode + map explode (null/empty-preserving unnest family)
# ---------------------------------------------------------------------------


@query(
    "q173_explode_outer",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN NULL
                  WHEN doc_id % 5 = 1 THEN []::VARCHAR[]
                  ELSE string_split(text, ' ')[1:3] END AS arr
      FROM documents WHERE doc_id < 50),
    lat AS (SELECT doc_id,
                   CASE WHEN arr IS NULL OR len(arr) = 0
                        THEN [NULL]::VARCHAR[] ELSE arr END AS a2
            FROM t),
    ex AS (SELECT doc_id, unnest(a2) AS w FROM lat)
    SELECT doc_id, w FROM ex ORDER BY doc_id, w
    """,
)
def q173_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with NULL or empty arrays survive as a single
    null-element row instead of vanishing — the semantics difference that
    silently drops documents in an inner explode pipeline (every 5th doc
    here has a null or empty array).  The oracle emulates outer semantics
    with a CASE-to-[NULL] rewrite before unnest."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    words = F.split(F.col("text"), " ")
    arr = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("array<string>"))
        .when(F.col("doc_id") % 5 == 1, F.array().cast("array<string>"))
        .otherwise(F.slice(words, 1, 3))
    )
    t = d.select("doc_id", arr.alias("arr"))
    return t.select("doc_id", F.explode_outer("arr").alias("w")).orderBy(
        "doc_id", "w"
    )


@query(
    "q174_map_explode",
    oracle="""
    SELECT doc_id, 'chars' AS k, CAST(n_chars AS BIGINT) AS v
    FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id, 'id' AS k, doc_id AS v
    FROM documents WHERE doc_id < 50
    ORDER BY doc_id, k
    """,
)
def q174_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode over a MapType column -> one (key, value) row per entry — the
    map counterpart of array explode (rounds out the §2.9 unnest family with
    q61/q67/q119/q173).  The oracle replays the two fixed entries as a
    UNION ALL."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    m = F.create_map(
        F.lit("chars"), F.col("n_chars").cast("bigint"),
        F.lit("id"), F.col("doc_id"),
    )
    return (
        d.select("doc_id", F.explode(m).alias("k", "v"))
        .orderBy("doc_id", "k")
    )


# ---------------------------------------------------------------------------
# q175: STREAMING Python DataSource (completes the custom-connector matrix)
# ---------------------------------------------------------------------------

_Q175_N = 2000
_Q175_BATCH = 500


@query(
    "q175_python_stream_source",
    oracle=f"""
    SELECT count(*)                AS n,
           sum(id)                 AS sum_id,
           round(sum(sqrt(id)), 4) AS sum_val
    FROM generate_series(0, {_Q175_N - 1}) t(id)
    """,
)
def q175_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source (Spark 4 SimpleDataSourceStreamReader,
    sources/python_source.GraftRangeStreamReader): the same pluggable
    source that serves batch reads (q105), filter pushdown, and the
    manifest-commit write path (q150) now feeds Structured Streaming —
    offsets are plain dicts and the row set is a pure function of the
    offset range, so restarts/replays are exactly-once by construction.
    This run consumes {_Q175_N} rows across {_Q175_N // _Q175_BATCH}
    genuine micro-batches (complete-mode agg, memory sink), then the final
    aggregate is value-checked against the full closed-form range."""
    import time

    from .sources import python_source

    python_source.register(spark)
    sdf = (
        spark.readStream.format("graft_range")
        .option("n", _Q175_N)
        .option("batch_rows", _Q175_BATCH)
        .load()
    )
    agg = sdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("sum_id"),
        F.round(F.sum("val"), 4).alias("sum_val"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("q175_sink")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            rows = spark.table("q175_sink").collect()
            if rows and rows[0]["n"] == _Q175_N:
                break
            time.sleep(0.3)
        else:
            raise TimeoutError("q175 stream did not drain within 120s")
    finally:
        q.stop()
    return spark.table("q175_sink")


# ---------------------------------------------------------------------------
# q176-q178: skew mitigation, driver-visible (salting is result-transparent,
# so the oracle is the PLAIN join/agg — equality proves the transparency)
# ---------------------------------------------------------------------------


@query(
    "q176_salted_join",
    oracle="""
    SELECT o.o_orderstatus, count(*) AS n,
           CAST(sum(l.l_linenumber) AS BIGINT) AS ln_sum
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def q176_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted (hot-key-replicated) join (operators/skew.salted_join): the big
    side gets a deterministic per-row salt, the small side is exploded once
    per salt, the join key becomes (key, salt) — each hot key spreads over
    n_salts reducers.  Salting is RESULT-transparent, which is exactly what
    the oracle proves: the aggregate of the salted join equals the plain
    join.  The salt is xxhash64-deterministic (not rand()), so task retries
    reproduce identical output."""
    from .operators import skew as sk

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    j = sk.salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        "k",
        n_salts=8,
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_linenumber").cast("bigint").alias("ln_sum"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q177_salted_agg",
    oracle="""
    SELECT l_returnflag AS key, count(*) AS count
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q177_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted count (operators/skew.salted_agg_count): (key, salt)
    partial then key final — the hot key reaches the final reducer as
    n_salts partial rows instead of every raw row.  Oracle = the plain
    groupBy count (salting must not change any count)."""
    from .operators import skew as sk

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("key")
    )
    return sk.salted_agg_count(li, "key", n_salts=8).orderBy("key")


@query(
    "q178_hot_keys",
    oracle="""
    SELECT l_orderkey AS key, count(*) AS n_rows
    FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 6
    ORDER BY key
    """,
)
def q178_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection (operators/skew.hot_keys): the cheap pre-pass that
    decides WHERE salting is worth its replication cost — one
    partial-aggregated count with a threshold (here >= 6 line items per
    order; at 100 TB run on a sample with a scaled threshold)."""
    from .operators import skew as sk

    li = table(spark, sf_dir, "lineitem")
    out = sk.hot_keys(li, "l_orderkey", min_rows=6)
    return out.select(
        F.col("l_orderkey").alias("key"), F.col("n_rows").cast("bigint").alias("n_rows")
    ).orderBy("key")


# ---------------------------------------------------------------------------
# q181/q182: the batch Pandas-API surfaces (grouped-map + cogroup)
# ---------------------------------------------------------------------------


@query(
    "q181_grouped_map",
    oracle="""
    WITH m AS (SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
    d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
          FROM events e JOIN m USING (event_type))
    SELECT event_type, count(*) AS n,
           round(min(med), 6) AS med,
           round(median(dev), 6) AS mad
    FROM d GROUP BY event_type ORDER BY event_type
    """,
)
def q181_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (operators/observability.robust_group_stats):
    per event type, median + MAD computed with each group materialized as
    ONE pandas frame (Arrow both ways) — the batch Pandas-API surface that
    completes the scalar-UDF / Pandas-UDF / UDAF / UDTF / mapInPandas /
    stateful-streaming family.  pandas' interpolated median equals DuckDB's
    median(), so values cross-check exactly.  The docstring (and the 100 TB
    note in the operator) is explicit that two percentile passes are the
    scale form; grouped-map is for genuinely procedural per-group logic."""
    from .catalog import load_events
    from .operators import observability as ob

    e = load_events(spark, sf_dir)
    out = ob.robust_group_stats(e, "value", group_cols=["event_type"])
    return out.select(
        "event_type",
        "n",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
    ).orderBy("event_type")


@query(
    "q182_cogroup",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view' AND user_id < 200),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase' AND user_id < 200),
    keys AS (SELECT DISTINCT user_id FROM (SELECT user_id FROM v UNION ALL SELECT user_id FROM p)),
    fv AS (SELECT user_id, min(ts) AS first_view_ts FROM v GROUP BY user_id),
    lag AS (SELECT p.user_id,
                   CAST(min(epoch_us(p.ts)) - min(epoch_us(fv.first_view_ts)) AS BIGINT) AS lag_us
            FROM p JOIN fv USING (user_id)
            WHERE p.ts >= fv.first_view_ts GROUP BY p.user_id)
    SELECT k.user_id,
           CAST(coalesce((SELECT count(*) FROM v WHERE v.user_id = k.user_id), 0) AS BIGINT) AS n_views,
           CAST(coalesce((SELECT count(*) FROM p WHERE p.user_id = k.user_id), 0) AS BIGINT) AS n_purchases,
           CAST(fv.first_view_ts AS VARCHAR) AS first_view_ts,
           lag.lag_us
    FROM keys k
    LEFT JOIN fv ON fv.user_id = k.user_id
    LEFT JOIN lag ON lag.user_id = k.user_id
    ORDER BY k.user_id
    """,
)
def q182_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup().applyInPandas (operators/events.cogroup_view_purchase): both
    sides of each user key arrive together as two pandas frames — per-user
    view/purchase attribution (first purchase at-or-after the first view)
    as procedural merge logic.  The oracle recomputes the same answer with
    joins+aggregates, which is also the documented scale form; cogroup
    exists for merges that are genuinely programmatic."""
    from .catalog import load_events
    from .operators import events as ev

    e = load_events(spark, sf_dir).filter(F.col("user_id") < 200)
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    out = ev.cogroup_view_purchase(views, buys, "user_id")
    return out.select(
        "user_id",
        "n_views",
        "n_purchases",
        F.col("first_view_ts").cast("string").alias("first_view_ts"),
        "lag_us",
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q360: golden-record survivorship merge (field-level latest-non-null)
# ---------------------------------------------------------------------------


@query(
    "q360_golden_record",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE user_id < 100
    ),
    latest AS (SELECT * FROM ranked WHERE rn = 1),
    spans AS (
      SELECT user_id, CAST(min(ts) AS VARCHAR) AS first_seen,
             CAST(max(ts) AS VARCHAR) AS last_seen,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events WHERE user_id < 100 GROUP BY 1
    )
    SELECT s.user_id,
           round(max(CASE WHEN l.event_type = 'click' THEN l.value END), 4)
             AS last_click_value,
           round(max(CASE WHEN l.event_type = 'view' THEN l.value END), 4)
             AS last_view_value,
           round(max(CASE WHEN l.event_type = 'purchase' THEN l.value END), 4)
             AS last_purchase_value,
           max(s.first_seen) AS first_seen,
           max(s.last_seen) AS last_seen,
           max(s.n_events) AS n_events
    FROM spans s LEFT JOIN latest l ON l.user_id = s.user_id
    GROUP BY s.user_id ORDER BY s.user_id
    """,
)
def q360_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship merge — the field-level MDM step after
    entity resolution (q253) and canonical-row picks (q138 takes ONE
    row; this builds the BEST row): for each user, the most recent value
    PER FIELD (event type), plus first/last-seen span and event count.
    Survivorship rule = latest-by-(ts, event_id) per (entity, field) — a
    keyed window (entity×field partitions, never global), then a pivot
    to one row per entity.  Both engines replay the same total order, so
    the merged record is deterministic — the property that makes
    re-runs idempotent (q305's discipline) at the field level."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "value")
    )
    spans = ev.groupBy("user_id").agg(
        F.min("ts").cast("string").alias("first_seen"),
        F.max("ts").cast("string").alias("last_seen"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    pick = lambda t: F.round(  # noqa: E731
        F.max(F.when(F.col("event_type") == t, F.col("value"))), 4
    )
    return (
        spans.join(latest, "user_id", "left")
        .groupBy("user_id")
        .agg(
            pick("click").alias("last_click_value"),
            pick("view").alias("last_view_value"),
            pick("purchase").alias("last_purchase_value"),
            F.max("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
            F.max("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )
