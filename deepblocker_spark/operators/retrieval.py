"""Lexical top-k retrieval — Okapi BM25 over an inverted index, pure JVM.

Query-driven blocking: instead of pairing two tables symmetrically
(minhash / LSH / key blocking), rank the corpus against a query set and
keep each query's best k documents — the retrieval shape a training-data
pipeline needs for decontamination lookups, near-dup audits against a
reference set, and search-style candidate generation. The reference has
no retrieval operator (its pairing is embedding top-k,
``/root/reference/vector_pairing_models.py:44-49``); BM25 is the
classical lexical counterpart (Robertson & Walker, SIGIR'94; the
idf variant below is Lucene's, always non-negative).

Spark-first shape — everything is explode + hash aggregations + one
token-keyed join + one window; no UDF, no vocabulary on the driver:

  corpus ──tokenize/explode──► tf(id, token) ──► postings with per-token
    idf and per-doc length norm, i.e. the INVERTED INDEX as a DataFrame
  queries ──tokenize/explode──► distinct (qid, token) probes
  probe ⋈ postings on token     (the index lookup: cost ∝ matching
                                 postings, never |Q|×|C|)
  groupBy (qid, id) sum         (partial aggregation map-side)
  window top-k per qid          (rank on the ROUNDED score so float
                                 summation order can't flip ranks
                                 between engines; ties break on id)

At 100 TB the posting table is the big distributed artifact, keyed by
token; hot tokens (stop words) both skew the join AND contribute ~zero
idf, so ``max_df_ratio`` drops them from the index up front — the same
bounded-hot-key discipline as ``ngram_jaccard_pairs``'s stop-list, and
like there the drop is auditable (it is a plain df filter, not a sample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.tokenizer import tokens_col
from .bc_registry import tracked_persist


def bm25_postings(
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 1.0,
    partition_by: str | None = None,
) -> DataFrame:
    """The inverted index: one row per (token, id) with the fully
    precomputed BM25 contribution ``part`` = idf(token) · tf-saturation ·
    length-norm. Scoring a query is then just sum(part) over its tokens.

    idf = ln(1 + (N − df + ½)/(df + ½)) (Lucene's shifted Robertson—
    Sparck Jones form, ≥ 0 always); tf term = tf·(k1+1)/(tf + k1·(1 − b +
    b·dl/avgdl)). Tokens with df > max_df_ratio·N are dropped from the
    index (stop-word purge — bounded postings, nearly-zero idf anyway).

    ``partition_by`` scopes the whole index to a metadata column (same
    language / tenant / shard — the lexical mirror of the filtered ANN's
    ``lsh_candidates(partition_by=...)``): EVERY corpus statistic (N,
    avgdl, df, the stop-word cap) is computed per partition value, exactly
    as if the index were built independently per slice, and the partition
    column rides the posting rows so the probe join scopes automatically.
    """
    part = [partition_by] if partition_by else []
    toks = corpus.select(
        F.col(id_col).alias("id"),
        *part,
        F.explode(tokens_col(text_col)).alias("token"),
    )
    # tf feeds three branches (doc lengths, document frequencies, the
    # posting join): persisted so the tokenize+count pass runs once
    tf = tracked_persist(
        toks.groupBy("id", *part, "token").agg(F.count("*").alias("tf")),
        StorageLevel.MEMORY_AND_DISK,
    )
    dl = tf.groupBy("id", *part).agg(F.sum("tf").alias("dl"))
    # avgdl averages over the WHOLE collection (token-less docs count as
    # length 0), so it comes from sum(dl)/N, not avg over docs with tokens
    if part:
        n_df = corpus.groupBy(*part).agg(F.count("*").cast("double").alias("n"))
        tot_df = dl.groupBy(*part).agg(F.sum("dl").cast("double").alias("_tot"))
        stats = n_df.join(tot_df, part).select(
            *part, "n", (F.col("_tot") / F.col("n")).alias("avgdl")
        )
    else:
        stats = corpus.select(F.count("*").cast("double").alias("n")).crossJoin(
            dl.select(F.sum("dl").cast("double").alias("_tot"))
        ).select("n", (F.col("_tot") / F.col("n")).alias("avgdl"))
    dft = tf.groupBy(*part, "token").agg(F.count("*").cast("double").alias("df"))
    joined = tf.join(dl, ["id", *part]).join(dft, [*part, "token"])
    joined = (
        joined.join(F.broadcast(stats), part)
        if part
        else joined.crossJoin(F.broadcast(stats))
    )
    return (
        joined
        .filter(F.col("df") <= F.lit(max_df_ratio) * F.col("n"))
        .select(
            "token",
            *part,
            "id",
            (
                F.log(
                    1.0
                    + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part"),
        )
    )


def bm25_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 1.0,
    query_id: str = "qid",
    query_text: str = "qtext",
    id_col: str = "id",
    text_col: str = "text",
    partition_by: str | None = None,
) -> DataFrame:
    """Top-k BM25 retrieval: → (qid, id, bm25, rank), rank 1..≤k per
    query. Query term frequency is binarized (distinct query tokens — the
    standard short-query simplification; a repeated query word scores
    once). Queries with no indexed token return no rows. Ranking uses the
    score rounded to 9 decimals with ties broken on ascending id, so the
    order is reproducible across engines regardless of float summation
    order; the emitted ``bm25`` is rounded to 6.

    ``partition_by`` (a column present on BOTH frames) scopes retrieval to
    matching partition values with per-partition corpus statistics —
    bit-identical to running the un-partitioned operator independently on
    every slice (pytest-locked), with zero extra stages: the partition
    column simply joins alongside the token.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    part = [partition_by] if partition_by else []
    postings = bm25_postings(
        corpus, id_col, text_col, k1, b, max_df_ratio, partition_by
    )
    probes = queries.select(
        F.col(query_id).alias("qid"),
        *part,
        F.explode(tokens_col(query_text)).alias("token"),
    ).distinct()
    scored = (
        probes.join(postings, [*part, "token"])
        .groupBy("qid", "id")
        .agg(F.round(F.sum("part"), 9).alias("_s9"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_s9"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "id",
            F.round("_s9", 6).alias("bm25"),
            "rank",
        )
    )
