"""applyInPandasWithState sessionizer test (custom stateful streaming)."""

from __future__ import annotations

import datetime as dt

from deepblocker_spark.streaming.dedup_stream import stateful_sessionizer


def test_stateful_sessionizer_closes_sessions_on_gap(spark, tmp_path, await_stream):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two sessions separated by a 2-hour gap
        (1, t0, "a"),
        (1, t0 + dt.timedelta(minutes=5), "b"),
        (1, t0 + dt.timedelta(hours=2, minutes=10), "c"),
        # user 2: one session
        (2, t0 + dt.timedelta(minutes=1), "d"),
        (2, t0 + dt.timedelta(minutes=20), "e"),
    ]
    src = spark.createDataFrame(rows, ["user_id", "ts", "payload"])
    path = str(tmp_path / "sess_in")
    src.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    out = stateful_sessionizer(stream, ts_col="ts", key_col="user_id",
                               gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        # one micro-batch: a processing-time state timeout makes Spark
        # run no-data batches forever, so availableNow never finishes
        .trigger(once=True)
        .start()
    )
    await_stream(q)
    got = spark.sql("select * from sessions").toPandas()
    # only user 1's FIRST session is closed within the batch (a later event
    # beyond the gap closes it); open sessions stay in state
    assert len(got) == 1
    r = got.iloc[0]
    assert r["user_id"] == 1
    assert r["n_events"] == 2
    assert r["session_end_epoch"] - r["session_start_epoch"] == 300.0


def test_streaming_minhash_neardup_finds_cross_batch_pairs(spark, tmp_path, await_stream):
    """Two micro-batches across a query RESTART (same checkpoint): a
    near-duplicate arriving in batch 2 must collide with the batch-1 doc
    held in bucket state; an unrelated doc must not. Parquet sink (memory
    sink cannot recover from a checkpoint)."""
    from deepblocker_spark.streaming.dedup_stream import streaming_minhash_neardup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    neardup = base + " again"
    other = "completely different content about spark structured streaming state"
    b1 = spark.createDataFrame([(100, base), (101, other)], ["doc_id", "text"])
    b2 = spark.createDataFrame([(200, neardup)], ["doc_id", "text"])
    in_path = str(tmp_path / "nd_in")
    out_path = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "ckpt_nd")
    b1.coalesce(1).write.parquet(in_path)

    def run_query():
        q = (
            streaming_minhash_neardup(
                spark.readStream.schema(b1.schema).parquet(in_path),
                num_hashes=16, n_bands=8, min_est_jaccard=0.5,
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            # one micro-batch: a processing-time state timeout makes Spark
            # run no-data batches forever, so availableNow never finishes
            .trigger(once=True)
            .start()
        )
        await_stream(q)

    run_query()
    got1 = spark.read.parquet(out_path).toPandas()
    assert len(got1) == 0  # batch 1: nothing seen yet

    b2.coalesce(1).write.parquet(in_path, mode="append")
    run_query()  # restart from the SAME checkpoint: state must survive
    got = (
        spark.read.parquet(out_path).toPandas()
        .drop_duplicates(["new_id", "seen_id"])
    )
    assert set(zip(got["new_id"], got["seen_id"])) == {("200", "100")}
    assert (got["est_jaccard"] >= 0.5).all()


def test_streaming_batch_minhash_parity(spark, tmp_path, await_stream):
    """VERDICT r2 #7 — streaming<->batch parity gate: the same fixture fed
    through `streaming_minhash_neardup` and the batch `minhash_lsh_pairs`
    (which share the minhash signature expressions and banding) must agree:
    every batch pair (exact Jaccard >= 0.5 after LSH candidate generation)
    is also surfaced by the stream at a lower est-Jaccard threshold (the
    estimate of a >=0.5-Jaccard pair clears 0.3 with margin at 16 hashes;
    both sides are fully deterministic). State cap is left at its default
    (256 >> fixture bucket sizes), so no documented-cap exclusions apply."""
    from deepblocker_spark.operators.dedup import minhash_lsh_pairs
    from deepblocker_spark.streaming.dedup_stream import streaming_minhash_neardup

    rows = []
    for c in range(10):
        # distinct per-cluster vocabulary -> no cross-cluster collisions;
        # variants differ by one trailing token -> high intra-cluster Jaccard
        words = " ".join(f"w{c}x{i}" for i in range(12))
        rows.append((c * 10, words))
        rows.append((c * 10 + 1, words + f" extra{c}"))
        if c % 2 == 0:
            rows.append((c * 10 + 2, words + f" other{c}"))
    rows.append((900, "entirely unrelated singleton document content one"))
    rows.append((901, "another unique text with no duplicate partner at all"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    batch = minhash_lsh_pairs(
        df, num_hashes=16, n_bands=8, jaccard_threshold=0.5
    ).toPandas()
    batch_pairs = {
        tuple(sorted((str(a), str(b)))) for a, b in zip(batch["a"], batch["b"])
    }
    assert len(batch_pairs) >= 10  # the fixture really has near-dups

    in_path = str(tmp_path / "par_in")
    out_path = str(tmp_path / "par_out")
    df.coalesce(1).write.parquet(in_path)
    q = (
        streaming_minhash_neardup(
            spark.readStream.schema(df.schema).parquet(in_path),
            num_hashes=16, n_bands=8, min_est_jaccard=0.3,
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "par_ckpt"))
        # one micro-batch: a processing-time state timeout makes Spark
        # run no-data batches forever, so availableNow never finishes
        .trigger(once=True)
        .start()
    )
    await_stream(q)
    got = spark.read.parquet(out_path).toPandas()
    stream_pairs = {
        tuple(sorted((a, b))) for a, b in zip(got["new_id"], got["seen_id"])
    }
    missing = batch_pairs - stream_pairs
    assert not missing, f"stream missed batch pairs: {missing}"
    # and the stream emits no cross-cluster junk: every streamed pair with a
    # decent estimate shares a cluster (ids within 10 of each other) or is a
    # banding candidate the batch verify rejected — none of the singletons
    for a, b in stream_pairs:
        assert abs(int(a) - int(b)) < 10, (a, b)


def test_streaming_block_against_index(spark, tmp_path, await_stream):
    """Incremental blocking (stream-static LSH join): a streamed record
    identical to an indexed vector shares every band bucket and must emit a
    pair at sim 1.0; a streamed record orthogonal-ish to the corpus must
    emit nothing. The same pair found in several bands is deduped."""
    import datetime as dt

    import numpy as np

    from deepblocker_spark.streaming.dedup_stream import (
        streaming_block_against_index,
    )

    rng = np.random.default_rng(5)
    dim = 16
    corpus = rng.standard_normal((20, dim)).astype("float32")
    index = spark.createDataFrame(
        [(int(i), corpus[i].tolist()) for i in range(20)],
        ["id", "embedding"],
    )
    t0 = dt.datetime(2024, 1, 1)
    new_rows = [
        (100, corpus[3].tolist(), t0),                      # exact dup of id 3
        (101, (-corpus[7]).tolist(), t0),                   # anti-parallel: sim -1
        (102, (corpus[5] + 0.01 * rng.standard_normal(dim).astype("float32")).tolist(), t0),
    ]
    src = spark.createDataFrame(new_rows, ["id", "embedding", "ts"])
    in_path = str(tmp_path / "blk_in")
    src.coalesce(1).write.parquet(in_path)
    stream = spark.readStream.schema(src.schema).parquet(in_path)
    out = streaming_block_against_index(
        stream, index, dim=dim, n_bands=8, band_bits=4, min_sim=0.9,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("blk")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_blk"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    got = spark.sql("select * from blk").toPandas()
    pairs = {(r["l_id"], r["r_id"]) for _, r in got.iterrows()}
    assert (100, 3) in pairs                      # exact dup found
    assert (102, 5) in pairs                      # near dup found (sim ~0.999)
    assert not any(l == 101 for l, _ in pairs)    # anti-parallel filtered
    # multi-band duplicates of the same pair are deduped
    assert len(got) == len(pairs)
    sims = {(r["l_id"], r["r_id"]): r["sim"] for _, r in got.iterrows()}
    assert abs(sims[(100, 3)] - 1.0) < 1e-9
    # scored by the batch scan's Arrow kernel, not a Column-lambda cosine
    plan = q._jsq.explainInternal(False)
    assert "MapInPandas" in plan
    assert "zip_with" not in plan


def test_streaming_block_against_index_parity_with_threshold_join(
    spark, tmp_path, await_stream
):
    """streaming<->batch parity: every streamed pair is a
    cosine_threshold_join pair with the identical f64 sim, and every
    threshold pair whose two rows share a band bucket (same seeded
    hyperplanes) is streamed."""
    import datetime as dt

    import numpy as np

    from deepblocker_spark.operators.lsh import signature_buckets
    from deepblocker_spark.operators.topk import cosine_threshold_join
    from deepblocker_spark.streaming.dedup_stream import (
        streaming_block_against_index,
    )

    rng = np.random.default_rng(11)
    dim, opts = 16, dict(n_bands=6, band_bits=3, seed=99)
    corpus = rng.standard_normal((30, dim)).astype("float32")
    near = corpus[rng.integers(0, 30, 25)] + 0.4 * rng.standard_normal((25, dim))
    schema = "id bigint, embedding array<float>"
    index = spark.createDataFrame(
        [(i, corpus[i].tolist()) for i in range(30)], schema
    )
    t0 = dt.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [(100 + i, v.astype("float32").tolist(), t0) for i, v in enumerate(near)],
        schema + ", ts timestamp",
    )
    in_path = str(tmp_path / "par_in")
    src.coalesce(1).write.parquet(in_path)
    q = (
        streaming_block_against_index(
            spark.readStream.schema(src.schema).parquet(in_path), index,
            dim=dim, min_sim=0.3, **opts,
        )
        .writeStream.format("memory")
        .queryName("blk_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_par"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    streamed = {(r.l_id, r.r_id): r.sim for r in spark.sql("select * from blk_parity").collect()}

    rows = src.drop("ts")
    exact = {
        (r.l_id, r.r_id): r.sim
        for r in cosine_threshold_join(rows, index, 0.3, upper_only=False).collect()
    }
    sigs = [signature_buckets(d, dim=dim, **opts) for d in (rows, index)]
    shared = {
        (r.l, r.r)
        for r in sigs[0].withColumnRenamed("id", "l")
        .join(sigs[1].withColumnRenamed("id", "r"), ["band", "bucket"])
        .select("l", "r").distinct().collect()
    }
    assert streamed and set(exact) - shared  # both sides of the gate occur
    assert {p: exact.get(p) for p in streamed} == streamed
    assert set(exact) & shared == set(streamed)


def test_streaming_block_against_index_restart_dedup_state(spark, tmp_path, await_stream):
    """VERDICT r3 #5 — checkpoint-restart survival for incremental blocking:
    the watermarked pair-dedup state (`dropDuplicatesWithinWatermark`) must
    survive a query restart. Batch 1 emits (100, 3); after a RESTART from the
    same checkpoint, a re-arrival of the same pair inside the watermark must
    NOT re-emit, while a genuinely new record must. Parquet sink (memory sink
    cannot recover from a checkpoint)."""
    import datetime as dt

    import numpy as np

    from deepblocker_spark.streaming.dedup_stream import (
        streaming_block_against_index,
    )

    rng = np.random.default_rng(5)
    dim = 16
    corpus = rng.standard_normal((20, dim)).astype("float32")
    index = spark.createDataFrame(
        [(int(i), corpus[i].tolist()) for i in range(20)],
        ["id", "embedding"],
    )
    t0 = dt.datetime(2024, 1, 1)
    in_path = str(tmp_path / "rblk_in")
    out_path = str(tmp_path / "rblk_out")
    ckpt = str(tmp_path / "rblk_ckpt")
    b1 = spark.createDataFrame(
        [(100, corpus[3].tolist(), t0)], ["id", "embedding", "ts"]
    )
    b1.coalesce(1).write.parquet(in_path)

    def run_query():
        q = (
            streaming_block_against_index(
                spark.readStream.schema(b1.schema).parquet(in_path),
                index, dim=dim, n_bands=8, band_bits=4, min_sim=0.9,
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)

    run_query()
    got1 = spark.read.parquet(out_path).toPandas()
    assert set(zip(got1["l_id"], got1["r_id"])) == {(100, 3)}
    assert len(got1) == 1

    # restart from the SAME checkpoint: the (100, 3) re-arrival is inside the
    # watermark and must be suppressed by recovered state; 110 is new
    b2 = spark.createDataFrame(
        [
            (100, corpus[3].tolist(), t0 + dt.timedelta(minutes=1)),
            (
                110,
                (corpus[5] + 0.01 * rng.standard_normal(dim).astype("float32")).tolist(),
                t0 + dt.timedelta(minutes=1),
            ),
        ],
        ["id", "embedding", "ts"],
    )
    b2.coalesce(1).write.parquet(in_path, mode="append")
    run_query()
    got = spark.read.parquet(out_path).toPandas()
    pair_counts = got.groupby(["l_id", "r_id"]).size()
    assert set(pair_counts.index) == {(100, 3), (110, 5)}
    # the restart boundary did not double-emit: each pair exactly once
    assert (pair_counts == 1).all(), pair_counts


def test_streaming_bloom_decontam_parity_with_batch(spark, tmp_path, await_stream):
    """streaming<->batch parity: the same train/eval fixture through
    streaming_bloom_decontam must emit exactly the batch
    bloom_decontamination_pairs rows (same n_shared/containment; the
    stream adds only the ts column and the watermark pair-dedup)."""
    from deepblocker_spark.operators.dedup import bloom_decontamination_pairs
    from deepblocker_spark.streaming.dedup_stream import streaming_bloom_decontam

    train_rows = [
        (1, "alpha beta gamma delta", "2024-01-01T10:00:00"),
        (2, "beta gamma delta epsilon", "2024-01-01T10:00:01"),
        (3, "zeta eta theta iota", "2024-01-01T10:00:02"),
        (4, "totally disjoint words here", "2024-01-01T10:00:03"),
        # shares shingles with BOTH eval docs
        (5, "alpha beta gamma x y z p q r", "2024-01-01T10:00:04"),
    ]
    eval_rows = [(100, "alpha beta gamma delta epsilon"), (101, "x y z p q r")]
    train = spark.createDataFrame(
        [(i, t) for i, t, _ in train_rows], ["doc_id", "text"]
    )
    ev = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    batch = {
        (r.train_id, r.eval_id): (r.n_shared, round(r.containment, 9))
        for r in bloom_decontamination_pairs(train, ev, n=3).collect()
    }
    assert batch  # fixture really overlaps

    sdf = spark.createDataFrame(train_rows, ["doc_id", "text", "ts"])
    in_path = str(tmp_path / "bd_in")
    out_path = str(tmp_path / "bd_out")
    sdf.coalesce(1).write.parquet(in_path)
    q = (
        streaming_bloom_decontam(
            spark.readStream.schema(sdf.schema).parquet(in_path), ev, n=3
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "bd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    got = spark.read.parquet(out_path).toPandas()
    stream = {
        (r.train_id, r.eval_id): (r.n_shared, round(r.containment, 9))
        for r in got.itertuples()
    }
    assert stream == batch
    # clean doc 4 must have been dropped by the BLOOM gate (no shingle of
    # doc 4 can pass: its vocabulary is disjoint from eval's), and every
    # pair is emitted exactly once despite multi-shingle joins
    assert all(t != 4 for t, _ in stream)
    assert len(got) == len(stream)


def test_stream_decontam_cache_isolated_from_batch_eviction(spark, tmp_path):
    """ADVICE r4: batch bloom_decontamination_pairs calls must never
    unpersist a live stream's eval frame; only the one release point
    (bc_registry.release_tracked) does."""
    from deepblocker_spark.operators import bc_registry
    from deepblocker_spark.operators.dedup import bloom_decontamination_pairs
    from deepblocker_spark.streaming.dedup_stream import streaming_bloom_decontam

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "beta gamma delta epsilon")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, "alpha beta gamma delta")], ["doc_id", "text"])
    sdf = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "2024-01-01T10:00:00")],
        ["doc_id", "text", "ts"],
    )
    in_path = str(tmp_path / "sd_in")
    sdf.write.parquet(in_path)
    held_from = len(bc_registry._FRAMES)
    streaming_bloom_decontam(
        spark.readStream.schema(sdf.schema).parquet(in_path), ev, n=3
    )
    (sentinel,) = bc_registry._FRAMES[held_from:]

    for _ in range(3):
        bloom_decontamination_pairs(train, ev, n=3).count()
    assert sentinel in bc_registry._FRAMES
    assert sentinel.is_cached, "a batch call unpersisted a streaming frame"

    bc_registry.release_tracked()
    assert not bc_registry._FRAMES
    assert not sentinel.is_cached
