"""Structured Streaming helpers (SURVEY §2.11 — beyond reference scope).

The reference has no streaming at all; its only "window" is the SQL
window-function spec.  These helpers give the engine the streaming shapes a
training-data pipeline needs, reusing the *same* batch expressions from the
catalog (F.window / session_window), which is the point of Structured
Streaming: one query shape for both.

Scale posture: event-time + watermark bounds state; tumbling/sliding windows
shuffle on (window, keys); state-store size is O(open windows x keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "read_stream_parquet",
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "stateful_running_counts",
    "stateful_running_counts_tws",
    "stream_ewma",
    "stream_cusum",
    "stream_holt",
    "stream_dedup",
    "enrich_stream",
    "interval_join",
    "stream_near_dup_candidates",
    "foreach_batch_parquet",
    "run_available_now",
]


def read_stream_parquet(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream over a parquet directory (schema required for
    streaming reads)."""
    return spark.readStream.schema(schema).parquet(path)


def tumbling_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("win_start"), key_col, "n_events", "value_sum")
    )


def sliding_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping buckets."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), key_col, "n_events")
    )


def session_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (dynamic gap-based) per key — the built-in form of
    custom stateful sessionization."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            key_col,
            "n_events",
        )
    )


def stateful_running_counts(events: DataFrame, *, key_col: str = "user_id") -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``: a
    per-key event counter that accumulates across micro-batches.

    The built-in windowed aggs cover time-bucketed state; this is the escape
    hatch for state the built-ins can't express (running dedup sets, ML
    feature decay, per-entity session machines).  State here is one long per
    key; each micro-batch emits the key's new cumulative total (update mode).

    Scale: state lives in the state store partitioned by key — the shuffle is
    on ``key_col`` only, and Arrow batches keep the Python hop vectorized.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [total]})

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} int, n_events long",
        stateStructType="n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_running_counts_tws(events: DataFrame, *, key_col: str = "user_id") -> DataFrame:
    """Per-key running event counter via ``transformWithStateInPandas`` —
    Spark 4's successor to ``applyInPandasWithState`` (same semantics as
    :func:`stateful_running_counts`, newer API).

    Differences that matter at scale: state is typed and composable (value /
    list / map states per processor instead of one tuple), timers replace the
    single timeout conf, and the state store must be RocksDB
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...state.RocksDBStateStoreProvider``) — which is also what you want at
    100 TB: state spills to disk per partition instead of living on the heap.

    Environment note: the TWS Python runner needs ``google.protobuf``, which
    this container lacks — the test suite skips execution when the import
    fails and pins behavior via :func:`stateful_running_counts` instead.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class RunningCount(StatefulProcessor):
        def init(self, handle):
            self.count = handle.getValueState("count", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            total = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                total += len(pdf)
            self.count.update((total,))
            yield pd.DataFrame({key_col: [key[0]], "n_events": [total]})

        def close(self):
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType=f"{key_col} int, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )


def stream_dedup(
    events: DataFrame,
    *,
    id_cols: tuple[str, ...] = ("user_id", "ts"),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication via ``dropDuplicatesWithinWatermark`` —
    the streaming half of the batch `q70_exact_dedup` operator.

    Rows are emitted immediately (dedup filters, it never buffers); state
    holds one entry per key seen within the watermark horizon and is evicted
    as the watermark advances.  That bound is the reason to prefer this over
    plain ``dropDuplicates`` on a stream, whose key set grows forever — at
    100 TB/day of events, unbounded dedup state is an OOM on a timer.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(id_cols)
    )


def stream_near_dup_candidates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidates: each arriving document
    is checked against every document seen so far *in its LSH buckets*, across
    micro-batch boundaries.

    Composition: the signature stage is the exact batch expression pipeline
    (``operators/dedup.shingle`` + ``minhash_signature`` — same hash family,
    codegen'd, elementwise, so it streams untouched); banding
    (``operators/pairs.band_hashes``, the batch band keys) explodes each
    doc into ``bands`` bucket keys; the stateful hop keys on the bucket and
    keeps the id list seen per bucket, emitting (id_a, id_b) for every
    new-vs-seen co-occupant.

    Output is a *candidate multiset* (a pair sharing b bands is emitted up to
    b times, like the batch ``lsh_candidate_pairs`` before its distinct) —
    dedup + Jaccard-verify downstream in batch, where the texts live.

    Scale: state per bucket is an id list — ids only, never text or
    signatures.  Unlike the watermarked ops, LSH state has no time bound; in
    production cap it with a timeout (GroupStateTimeout) or periodic state
    rebuild, and expect hot buckets under exact-dup-heavy input — the batch
    collapse lesson (SCALE.md q72) applies upstream: exact-dedup the stream
    first (``stream_dedup`` on a text digest).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import minhash_signature, shingle
    from ..operators.pairs import band_hashes

    hashes = band_hashes(F.col("sig"), num_hashes, bands)
    sig = docs.select(
        F.col(id_col),
        minhash_signature(shingle(F.col(text_col), shingle_n), num_hashes).alias("sig"),
    )
    band_keys = F.array(*[F.concat(F.lit(f"{b}#"), h) for b, h in enumerate(hashes)])
    banded = sig.select(F.col(id_col), F.explode(band_keys).alias("bucket"))

    def update(key, pdf_iter, state):
        seen = list(state.get[0]) if state.exists else []
        pairs: list[tuple[int, int]] = []
        for pdf in pdf_iter:
            for nid in pdf[id_col].tolist():
                nid = int(nid)
                pairs.extend((min(o, nid), max(o, nid)) for o in seen if o != nid)
                seen.append(nid)
        state.update((seen,))
        yield pd.DataFrame(
            {
                "id_a": pd.Series([p[0] for p in pairs], dtype="int64"),
                "id_b": pd.Series([p[1] for p in pairs], dtype="int64"),
            }
        )

    return banded.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType="id_a long, id_b long",
        stateStructType="ids array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on: str, *, how: str = "left") -> DataFrame:
    """Stream-static join: enrich each micro-batch with a dimension table —
    the lookup/enrichment step of every event pipeline (user -> segment,
    doc -> source metadata).  The static side is re-read per micro-batch
    (so dimension updates flow in without restarting) and broadcast: no
    state store, no watermark needed, the stream side never shuffles.

    At 100 TB-of-stream the dim must stay broadcast-sized; for big dims,
    pre-bucket both sides on the key instead and drop the hint."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    *,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    tolerance: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join, event-time bounded: match rows sharing
    ``key_col`` with right.ts in [left.ts, left.ts + tolerance] — the
    impression->click attribution shape.  BOTH sides carry watermarks and
    the join predicate bounds event-time distance, which is what lets the
    state store evict: without the interval condition a stream-stream join
    must keep every row forever.  State per key is O(rows within
    watermark + tolerance); output is append-mode.

    ``how='left_outer'`` adds the no-match rows: a left row whose join
    window closes unmatched emits once with nulls on the right — but ONLY
    when the watermark has advanced past ``l.ts + tolerance``, i.e. outer
    results trail the watermark by design (Spark can't know "no match ever"
    until late data is ruled out).  A drained availableNow run therefore
    holds back unmatched rows from the final watermark window — the test
    feeds a later batch to flush them, which is also the production shape
    (continuous streams always have a next batch).

    Returns columns ``key, l_ts, r_ts`` plus left/right values prefixed
    ``l_``/``r_``."""
    from pyspark.sql import functions as F

    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {tolerance}"))
    )
    lcols = [F.col(f"l.{c}").alias(f"l_{c}") for c in left.columns if c != key_col]
    rcols = [F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns if c != key_col]
    if how not in ("inner", "left_outer", "right_outer", "full_outer"):
        raise ValueError(f"unsupported stream-stream join type: {how!r}")
    return l.join(r, cond, how).select(F.col(f"l.{key_col}").alias(key_col), *lcols, *rcols)


def foreach_batch_parquet(stream_df: DataFrame, path: str, *, checkpoint: str):
    """Idempotent parquet sink via ``foreachBatch``: each micro-batch lands in
    its own ``_batch_id=N`` partition with dynamic partition overwrite, so a
    replayed batch (restart between sink-write and checkpoint-commit)
    overwrites its own partition instead of duplicating rows — exactly-once
    output from an at-least-once retry loop.  Returns the started query.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, *, output_mode: str = "complete", **read_opts
) -> DataFrame:
    """Execute a streaming query over all currently-available input
    (Trigger.AvailableNow), collect results from the memory sink, stop.

    The batch-parity harness: lets tests assert streaming output equals the
    batch catalog query on the same files.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False on timeout without raising —
    # reading the memory sink then would silently return a partial table.
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(f"availableNow query {query_name!r} did not finish within 120s")
    spark = stream_df.sparkSession
    out = spark.table(query_name)
    q.stop()
    return out


def stream_ewma(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.25,
) -> DataFrame:
    """Streaming one-pass EWMA — the UNBOUNDED-history path the batch
    operator (operators/temporal.ewma) routes long histories to: state per
    key is ONE double (the last smoothed value), each micro-batch folds its
    rows in event-time order and emits per-event EWMA rows.

    Versus the batch fold (O(history^2) per key), this is O(rows) total with
    O(1) state — the recurrence ``y = alpha*x + (1-alpha)*y_prev`` is
    exactly pandas ``ewm(adjust=False)``, which vectorizes the in-batch fold
    (state seeds the series as a virtual first element).

    Ordering contract: rows are sorted by ``ts_col`` WITHIN each micro-batch
    and state carries across batches in arrival order — correct when
    ingestion is per-key monotone (log files, CDC).  For out-of-order
    sources put a watermarked sort in front or the recurrence is
    order-of-arrival, same as any streaming fold.

    Scale: state store shuffles on ``key_col`` only; Arrow batches keep the
    Python hop vectorized (one pandas ewm call per key per batch).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    a = float(alpha)

    def update(key, pdf_iter, state):
        prev = state.get[0] if state.exists else None
        rows = pd.concat(list(pdf_iter))
        if len(rows) == 0:
            return
        rows = rows.sort_values(ts_col, kind="mergesort")
        vals = rows[value_col].astype("float64")
        # Explicit fold with the exact op sequence of the batch operator's
        # lambda (v*alpha + s*(1-alpha)) — pandas ewm(adjust=False) computes
        # the same recurrence through a different weighted form whose IEEE
        # roundings differ in the last ulp, which the oracle gate catches.
        one_minus_a = 1.0 - a
        y = prev
        out = []
        for x in vals:
            y = x if y is None else x * a + y * one_minus_a
            out.append(y)
        state.update((float(y),))
        # floor-at-6 (math.floor(v*1e6)/1e6), matching the batch operator
        # and the DuckDB oracle exactly: all three floor the SAME double,
        # so there is no tie to break.  (The previous HALF_UP-on-shortest-
        # repr dance matched Spark's F.round but still split from DuckDB's
        # round on .xxxxxx5 values — caught by the sf0.1 full-catalog gate.)
        import math

        yield pd.DataFrame(
            {
                key_col: rows[key_col].values,
                ts_col: rows[ts_col].values,
                value_col: vals.values,
                "ewma": [math.floor(float(v) * 1e6) / 1e6 for v in out],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} int, {ts_col} timestamp, {value_col} double, ewma double",
        stateStructType="last_ewma double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cusum(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    target: float,
    slack: float,
    threshold: float | None = None,
) -> DataFrame:
    """Streaming one-sided CUSUM — the one-pass O(1)-state form of
    operators/temporal.cusum (same pairing as stream_ewma/ewma): state per
    key is the single running statistic, each micro-batch folds its rows in
    event-time order via ``s = max(0, s + x - (target + slack))`` and emits
    per-event rows (plus ``alarm`` when a threshold is given).  This is the
    shape a 100 TB monitoring pipeline actually runs: the batch fold is the
    backtest, this is production.

    Ordering contract and rounding semantics identical to stream_ewma
    (per-batch event-time sort, state in arrival order across batches,
    shortest-repr HALF_UP rounding to match F.round)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    drift = float(target) + float(slack)

    def update(key, pdf_iter, state):
        s = state.get[0] if state.exists else 0.0
        rows = pd.concat(list(pdf_iter))
        if len(rows) == 0:
            return
        rows = rows.sort_values(ts_col, kind="mergesort")
        vals = rows[value_col].astype("float64")
        out = []
        for x in vals:
            s = max(0.0, s + x - drift)
            out.append(s)
        state.update((float(s),))
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        rounded = [
            float(Decimal(repr(float(v))).quantize(q6, rounding=ROUND_HALF_UP))
            for v in out
        ]
        frame = {
            key_col: rows[key_col].values,
            ts_col: rows[ts_col].values,
            value_col: vals.values,
            "cusum": rounded,
        }
        if threshold is not None:
            frame["alarm"] = [v > threshold for v in rounded]
        yield pd.DataFrame(frame)

    out_schema = f"{key_col} int, {ts_col} timestamp, {value_col} double, cusum double"
    if threshold is not None:
        out_schema += ", alarm boolean"
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_holt(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.5,
    beta: float = 0.25,
) -> DataFrame:
    """Streaming one-pass Holt linear-trend smoothing — the O(1)-state form
    of operators/temporal.holt_linear (two doubles per key: level and
    trend), completing the recursive-statistics family's batch/streaming
    symmetry (ewma/stream_ewma, cusum/stream_cusum, holt/stream_holt).

    Ordering contract and HALF_UP shortest-repr rounding identical to
    stream_ewma; the level expression is spelled twice exactly as in the
    batch fold so replicated arithmetic rounds identically.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    a = float(alpha)
    one_a = 1.0 - a
    b = float(beta)
    one_b = 1.0 - b

    def update(key, pdf_iter, state):
        if state.exists:
            l, t, started = state.get[0], state.get[1], True
        else:
            l, t, started = 0.0, 0.0, False
        rows = pd.concat(list(pdf_iter))
        if len(rows) == 0:
            return
        rows = rows.sort_values(ts_col, kind="mergesort")
        vals = rows[value_col].astype("float64")
        out = []
        for x in vals:
            if not started:
                l, t, started = float(x), 0.0, True
            l_new = a * x + one_a * (l + t)
            t = b * ((a * x + one_a * (l + t)) - l) + one_b * t
            l = l_new
            out.append((l, t))
        state.update((float(l), float(t)))
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")

        def r6(v):
            return float(Decimal(repr(float(v))).quantize(q6, rounding=ROUND_HALF_UP))

        yield pd.DataFrame(
            {
                key_col: rows[key_col].values,
                ts_col: rows[ts_col].values,
                value_col: vals.values,
                "level": [r6(l_) for l_, _ in out],
                "trend": [r6(t_) for _, t_ in out],
                "forecast_1": [r6(l_ + t_) for l_, t_ in out],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} int, {ts_col} timestamp, {value_col} double,"
            " level double, trend double, forecast_1 double"
        ),
        stateStructType="l double, t double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_binned_histogram(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 day",
    watermark: str = "2 days",
    lo: float = 0.0,
    hi: float = 500.0,
    nbins: int = 10,
) -> DataFrame:
    """Per-tumbling-window binned value histogram — the streaming half of a
    drift monitor: each window emits its (bin → count) distribution, which a
    batch (or foreachBatch) post-step compares against a static reference
    (TVD / PSI — operators/stats).  Bin rule shared with the batch operators
    (operators/stats._binned), so streaming and batch monitors agree
    bit-for-bit.  State per window is nbins+2 counters."""
    from ..operators.stats import _binned

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("w"),
            _binned(F.col(value_col), lo, hi, nbins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "bin", "n")
    )


def stream_heavy_hitters(
    tokens: DataFrame,
    *,
    token_col: str = "token",
    k: int = 8,
    nshards: int = 4,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters — the bounded-state streaming twin
    of operators/sketches.misra_gries (q340): tokens shard by md5 hash, each
    shard's state is ONE k-counter MG summary that folds every micro-batch
    in sequence, so after any number of batches the per-shard guarantee

        true - N_shard/(k+1)  <=  est  <=  true

    holds over the shard's ENTIRE history (batch boundaries are invisible to
    the fold).  State is <= k (token, count) pairs per shard — fixed bytes
    regardless of stream length, the property the state-size test pins.

    Emits the full current summary each batch as (shard, token, est, ver);
    consumers take the max-``ver`` rows per shard for the latest summary.
    Sharding by token hash both distributes state-store load AND tightens
    the bound (N_shard < N), the standard parallel-MG construction.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if k < 1 or nshards < 1:
        raise ValueError("need k >= 1 and nshards >= 1")
    shard = (
        F.conv(F.substring(F.md5(F.col(token_col)), 1, 8), 16, 10).cast("bigint")
        % nshards
    ).cast("int")
    sharded = tokens.select(F.col(token_col).alias("token"), shard.alias("shard"))

    def update(key, pdf_iter, state):
        if state.exists:
            toks, cnts, ver = state.get
            counters = dict(zip(toks, cnts))
        else:
            counters, ver = {}, 0
        for pdf in pdf_iter:
            for t in pdf["token"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    dead = []
                    for key2 in counters:
                        counters[key2] -= 1
                        if counters[key2] == 0:
                            dead.append(key2)
                    for key2 in dead:
                        del counters[key2]
        ver += 1
        state.update(
            (list(counters), [int(c) for c in counters.values()], ver)
        )
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(counters),
                "token": list(counters),
                "est": [int(c) for c in counters.values()],
                "ver": [ver] * len(counters),
            }
        )

    return sharded.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="shard int, token string, est bigint, ver int",
        stateStructType="tokens array<string>, counts array<bigint>, ver int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
