"""Structured Streaming operators for continuous ingest pipelines.

The reference is batch-only (SURVEY.md §2.2: no streaming anywhere), but a
training-data engine ingesting a live firehose needs the streaming versions
of its core hygiene operators:

  * streaming exact dedup — ``dropDuplicates`` on the content hash with an
    event-time watermark bounding the dedup state (without the watermark the
    state grows forever; with it, Spark evicts keys older than the horizon).
  * watermarked windowed aggregation — per-window event counts tolerant of
    late data up to the watermark delay.

Both are pure Structured Streaming graphs: readStream -> transform ->
writeStream, restart-safe via checkpointLocation. Tested against file
sources with the memory and parquet sinks
(tests/test_streaming_multimodal.py, tests/test_stateful_streaming.py).

The stateful operators below add per-key state with timeouts; the
stream-static joins (incremental blocking, decontamination) run the batch
operators' own kernels — LSH signatures, the scan's pair cosine, the
winnowing kernel — so a streamed pair equals its batch twin and this
module owns no scoring or fingerprint logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepblocker_spark.operators.bc_registry import tracked_persist


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Keep the first occurrence of each content hash within the watermark
    horizon. State is bounded: keys older than the watermark are evicted."""
    return (
        stream.withColumn("content_hash", F.sha2(F.col(text_col), 256))
        # event-time columns must be TIMESTAMP (ntz is rejected); with the
        # session pinned to UTC the cast is deterministic
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def stateful_sessionizer(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_seconds: int = 1800,
    state_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key session tracking with a gap rule. Emits a row per CLOSED session
    (closed by a later event beyond the gap, or by state timeout). This is
    the pattern for stateful logic Spark's built-ins can't express —
    arbitrary per-key state carried across micro-batches, with timeouts
    bounding state size.

    Trigger contract: the state timeout is a processing-time timeout, so
    Spark keeps scheduling no-data micro-batches to fire it and a query
    started with ``trigger(availableNow=True)`` never terminates. Run it
    with ``trigger(once=True)`` or a processing-time trigger
    (``trigger(processingTime=...)``, stopped by the caller).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start_epoch", DoubleType()),
            StructField("session_end_epoch", DoubleType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_epoch", DoubleType()),
            StructField("last_epoch", DoubleType()),
            StructField("n", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        closed = []
        if state.hasTimedOut:
            if state.exists:
                s, e, n = state.get
                closed.append((user_id, s, e, n))
                state.remove()
        else:
            events = pd.concat(list(pdfs))
            epochs = (
                events[ts_col].astype("datetime64[us]").astype("int64") / 1e6
            ).sort_values()
            if state.exists:
                s, e, n = state.get
            else:
                s = e = None
                n = 0
            for ep in epochs:
                if s is None:
                    s = e = float(ep)
                    n = 1
                elif ep - e > gap_seconds:
                    closed.append((user_id, s, e, n))
                    s = e = float(ep)
                    n = 1
                else:
                    e = float(ep)
                    n += 1
            state.update((s, e, n))
            state.setTimeoutDuration(state_timeout_ms)
        import pandas as pd  # noqa: F811 — worker-side import

        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start_epoch", "session_end_epoch", "n_events"],
        )

    return (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event counts per (window, key) with late-data tolerance up to the
    watermark delay; output mode 'append' emits finalized windows only."""
    return (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def streaming_minhash_neardup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n_bands: int = 4,
    min_est_jaccard: float = 0.5,
    max_state_docs: int = 256,
    state_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Streaming near-duplicate detection: incoming docs are minhash-banded
    (same JVM signature expressions as the batch operator,
    operators/dedup.minhash_signature_cols) and each (band, key) bucket
    carries its recently-seen docs as ``applyInPandasWithState`` state. A
    new doc colliding with a stored one emits
    (new_id, seen_id, est_jaccard) where est_jaccard is the fraction of
    agreeing minhash components — the standard unbiased Jaccard estimate.

    State discipline (the 100 TB concern): per-bucket state is capped at
    ``max_state_docs`` most-recent docs (hot boilerplate buckets stay
    bounded) and idle buckets are evicted by processing-time timeout. The
    same pair can surface via several bands or micro-batches — consumers
    dedup downstream (`dropDuplicates(["new_id", "seen_id"])` in the sink
    query or at read time).

    Trigger contract: as for :func:`stateful_sessionizer`, the
    processing-time state timeout keeps no-data micro-batches running, so
    ``trigger(availableNow=True)`` never terminates; use
    ``trigger(once=True)`` or a processing-time trigger.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from deepblocker_spark.functions.tokenizer import tokens_col
    from deepblocker_spark.operators.dedup import _band_keys, minhash_signature_cols

    band_keys = _band_keys(num_hashes, n_bands)
    toks = tokens_col(text_col)
    sigs = stream.select(
        F.col(id_col).cast("string").alias("_id"),
        *minhash_signature_cols(toks, num_hashes),
    ).filter(F.col("mh0").isNotNull())
    sig_str = F.concat_ws("|", *[F.col(f"mh{i}") for i in range(num_hashes)])
    banded = (
        sigs.withColumn("_sig", sig_str)
        .withColumn("_bk", F.explode(band_keys))
        .select("_id", "_sig", F.col("_bk.band").alias("band"), F.col("_bk.key").alias("key"))
    )

    out_schema = StructType(
        [
            StructField("new_id", StringType()),
            StructField("seen_id", StringType()),
            StructField("est_jaccard", DoubleType()),
            StructField("band", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(StringType())),
            StructField("sigs", ArrayType(StringType())),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np

        band, _bucket = key
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=["new_id", "seen_id", "est_jaccard", "band"])
            return

        def sig_matrix(sig_strs) -> np.ndarray:
            # components are hash strings; a fixed-width numpy string array
            # keeps the equality comparisons below vectorized in C
            if not len(sig_strs):
                return np.empty((0, num_hashes), dtype="U1")
            return np.array([s.split("|") for s in sig_strs])

        if state.exists:
            stored_ids, stored_sigs = state.get
            ids = list(stored_ids)
            sigs_stored = sig_matrix(stored_sigs)
            stored_strs = list(stored_sigs)
        else:
            ids, stored_strs = [], []
            sigs_stored = np.empty((0, num_hashes), dtype=np.int64)

        batch = pd.concat(list(pdfs)).sort_values("_id")  # deterministic order
        new_ids = batch["_id"].to_numpy()
        new_strs = list(batch["_sig"])
        sigs_new = sig_matrix(new_strs)

        # Vectorized collision estimates ("no per-row Python" discipline —
        # input_hint): fraction of agreeing minhash components, the standard
        # unbiased Jaccard estimate, as two matrix comparisons.
        frames = []
        if len(sigs_stored) and len(sigs_new):
            # new vs stored state
            est = (sigs_new[:, None, :] == sigs_stored[None, :, :]).mean(axis=2)
            seen_arr = np.asarray(ids, dtype=object)
            hit = (est >= min_est_jaccard) & (new_ids[:, None] != seen_arr[None, :])
            i, j = np.nonzero(hit)
            if len(i):
                frames.append(pd.DataFrame(
                    {"new_id": new_ids[i], "seen_id": seen_arr[j],
                     "est_jaccard": est[i, j]}
                ))
        if len(sigs_new) > 1:
            # intra-batch: doc i sees only earlier docs j < i (arrival order)
            est = (sigs_new[:, None, :] == sigs_new[None, :, :]).mean(axis=2)
            lower = np.tri(len(sigs_new), k=-1, dtype=bool)
            hit = lower & (est >= min_est_jaccard) & (
                new_ids[:, None] != new_ids[None, :]
            )
            i, j = np.nonzero(hit)
            if len(i):
                frames.append(pd.DataFrame(
                    {"new_id": new_ids[i], "seen_id": new_ids[j],
                     "est_jaccard": est[i, j]}
                ))

        # bounded state: keep the most recent max_state_docs
        all_ids = ids + list(new_ids)
        all_strs = stored_strs + new_strs
        state.update((all_ids[-max_state_docs:], all_strs[-max_state_docs:]))
        state.setTimeoutDuration(state_timeout_ms)
        if frames:
            out = pd.concat(frames, ignore_index=True)
            out["band"] = band
            yield out
        else:
            yield pd.DataFrame(columns=["new_id", "seen_id", "est_jaccard", "band"])

    return banded.groupBy("band", "key").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_block_against_index(
    stream: DataFrame,
    index: DataFrame,
    id_col: str = "id",
    emb_col: str = "embedding",
    ts_col: str = "ts",
    dim: int = 300,
    n_bands: int = 8,
    band_bits: int = 12,
    seed: int = 1234,
    min_sim: float = 0.6,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Incremental blocking: records arriving on a stream are LSH-signatured
    with the SAME seeded hyperplanes as a static indexed corpus (the planes
    derive from the seed, so both sides' bucket keys are comparable without
    shipping anything) and STREAM-STATIC joined on (band, bucket); joined
    candidates are exact-cosine scored and pairs >= ``min_sim`` emitted as
    (l_id = stream record, r_id = index record, sim, ts), with the same
    pair found in multiple bands deduped within the watermark horizon.
    This is the continuous-ingest form of the batch dyadic LSH join:
    per-microbatch cost is bounded by the new records' bucket membership —
    the corpus is never rescanned.

    Both sides carry the batch LSH transport (one f32 blob per row; an
    ``array<double>`` embedding is rounded to f32), and the scoring is the
    batch scan's: ``topk._blob_pair_cosine`` decodes
    the blobs in one Arrow kernel and rescores each pair in f64, so a
    streamed pair's ``sim`` equals ``cosine_threshold_join``'s bit for
    bit.

    ``index`` is the static corpus (id + embedding). A stream-static join
    re-evaluates the static side's PLAN every microbatch, so the index
    signature frame is ``.persist()``-ed here (ADVICE r3): the signature
    mapInPandas pass over the corpus runs once on the first microbatch and
    later batches read the cached buckets — without the persist, every
    batch would redo the full corpus scan + hyperplane matmul. The frame
    is registered with ``bc_registry``; release it with
    ``release_tracked()`` once the query has stopped.
    """
    from deepblocker_spark.operators.lsh import signature_buckets
    from deepblocker_spark.operators.topk import _blob_pair_cosine

    s = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    s_sigs = signature_buckets(
        s, id_col=id_col, emb_col=emb_col, dim=dim, n_bands=n_bands,
        band_bits=band_bits, seed=seed, include_emb=True,
        extra_cols=[ts_col],
    ).withColumnsRenamed({id_col: "l_id", "_emb": "_l_emb"})
    i_sigs = tracked_persist(signature_buckets(
        index, id_col=id_col, emb_col=emb_col, dim=dim, n_bands=n_bands,
        band_bits=band_bits, seed=seed, include_emb=True,
    ).withColumnsRenamed({id_col: "r_id", "_emb": "_r_emb"}))
    joined = s_sigs.join(i_sigs, ["band", "bucket"]).filter(
        F.col("l_id") != F.col("r_id")
    ).select("l_id", "r_id", "_l_emb", "_r_emb", ts_col)
    scored = _blob_pair_cosine(joined, dim, min_sim).select(
        "l_id", "r_id", "sim", ts_col
    )
    return scored.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["l_id", "r_id"]
    )


def streaming_bloom_decontam(
    stream: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    n: int = 8,
    threshold: float = 0.0,
    bits_per_item: int = 16,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Continuous-ingest decontamination: documents arriving on a stream
    are checked against a STATIC eval corpus and emitted as
    (train_id, eval_id, n_shared, containment, ts) — the streaming form of
    :func:`~deepblocker_spark.operators.dedup.bloom_decontamination_pairs`
    with the identical containment definition (no hot cap).

    Stream-legal by construction — there is NO streaming aggregation:

      * the Bloom filter over the eval shingles is built ONCE at plan time
        (:func:`build_shingle_bloom`; a pure literal-bitmap expression) and
        prunes each arriving doc's shingle ARRAY in place via a codegen'd
        array ``filter`` — most clean docs die here, before any join;
      * survivors explode only their bloom-passing shingles into a
        stream-static equi-join with the eval postings (exact match —
        bloom false positives cannot reach the output), bounded per batch
        by the new docs' shingle overlap;
      * ``n_shared``/``containment`` come from ``array_intersect`` of the
        two docs' carried shingle arrays — a ROW-LEVEL expression, which
        is why no stateful count is needed; the multi-shingle join
        duplicates collapse via ``dropDuplicatesWithinWatermark`` on the
        pair key (the only state, watermark-bounded).

    The eval side (postings + per-doc shingle arrays) is persisted — a
    stream-static join re-evaluates the static plan each microbatch;
    release via ``bc_registry.release_tracked()`` once the query has
    stopped.
    """
    from deepblocker_spark.functions.tokenizer import tokens_col
    from deepblocker_spark.operators.dedup import (
        build_shingle_bloom,
        token_shingles,
    )

    ev = tracked_persist(
        eval_df.select(
            F.col(id_col).alias("eval_id"),
            token_shingles(tokens_col(text_col), n).alias("_e_sh"),
        )
        .filter(F.size("_e_sh") > 0)
    )
    test = build_shingle_bloom(
        ev.select(F.explode("_e_sh").alias("shingle")), bits_per_item
    )
    e_post = ev.select("eval_id", "_e_sh", F.explode("_e_sh").alias("shingle"))

    s = stream.select(
        F.col(id_col).alias("train_id"),
        F.col(ts_col).cast("timestamp").alias(ts_col),
        token_shingles(tokens_col(text_col), n).alias("_t_sh"),
    )
    pruned = s.withColumn(
        "_hits",
        F.filter("_t_sh", test) if test is not None
        else F.array().cast("array<string>"),
    ).filter(F.size("_hits") > 0)
    cand = pruned.select(
        "train_id", ts_col, "_t_sh", F.explode("_hits").alias("shingle")
    ).join(e_post, "shingle")
    scored = (
        cand.withColumn(
            "n_shared", F.size(F.array_intersect("_t_sh", "_e_sh"))
        )
        .withColumn("containment", F.col("n_shared") / F.size("_e_sh"))
        .filter(F.col("containment") >= threshold)
        .select("train_id", "eval_id", "n_shared", "containment", ts_col)
    )
    return scored.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["train_id", "eval_id"]
    )


def streaming_substring_decontam(
    stream: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    gram_len: int = 25,
    window: int = 5,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Continuous-ingest EXACT-SPAN decontamination: documents arriving on
    a stream are checked against a static eval corpus for shared winnowing
    fingerprints (= shared exact substrings of >= gram_len chars,
    guaranteed detection at >= gram_len + window - 1; see
    operators/substring_dedup.py) and emitted as
    (train_id, eval_id, n_shared, ts) — the streaming form of
    :func:`~deepblocker_spark.operators.substring_dedup.exact_substring_pairs_dyadic`.

    Stream-legal the same way streaming_bloom_decontam is — NO streaming
    aggregation anywhere:

      * fingerprint selection is the batch joins' own Arrow kernel
        (``substring_dedup._winnowed``, a stateless ``mapInPandas``), so it
        runs on the stream as-is and selects exactly the batch set;
      * each arriving doc joins the persisted eval fingerprint postings on
        ONE exploded gram (stream-static equi-join, broadcast-sized);
      * ``n_shared`` is ``array_intersect`` of the two docs' CARRIED
        fingerprint arrays — a row-level expression, no stateful count;
        multi-fingerprint join duplicates collapse via
        ``dropDuplicatesWithinWatermark`` on the pair key (the only state).

    The eval side is persisted like streaming_bloom_decontam's; release
    via ``bc_registry.release_tracked()`` once the query has stopped."""
    from deepblocker_spark.operators.substring_dedup import _winnowed

    ev = tracked_persist(
        _winnowed(eval_df, id_col, text_col, gram_len, window).toDF("eval_id", "_e_fp")
    )
    e_post = ev.select("eval_id", "_e_fp", F.explode("_e_fp").alias("gram"))

    s = _winnowed(stream, id_col, text_col, gram_len, window, (ts_col,)).select(
        F.col("id").alias("train_id"),
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col("grams").alias("_t_fp"),
    )
    cand = s.select(
        "train_id", ts_col, "_t_fp", F.explode("_t_fp").alias("gram")
    ).join(e_post, "gram")
    scored = cand.select(
        "train_id",
        "eval_id",
        F.size(F.array_intersect("_t_fp", "_e_fp")).cast("bigint").alias("n_shared"),
        ts_col,
    )
    return scored.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["train_id", "eval_id"]
    )
