"""Tuple-embedding operators (SURVEY.md O12-O16).

Distributed re-expression of the reference's embedding stages:

  * token frequencies (O13): JVM-side tokenize -> explode -> groupBy.count —
    a classic partial+final hash aggregation, never leaves the JVM.
  * SIF weights (O14): derived column on the frequency table; the weight map
    is collected (capped) and broadcast — tokens outside the map default to
    1.0, which matches both the min_freq rule and the fact that rare tokens'
    weights approach 1.0 anyway.
  * average / SIF tuple embedding (O12/O15): mapInPandas over Arrow batches;
    inside a batch everything is vectorized numpy (flat token matrix +
    segment-sum), no per-row Python at the Spark level.
  * principal-component removal (O16): two-pass global op — pass 1
    accumulates per-partition Gram matrices (dim x dim) and sums them on the
    driver (a few hundred KB regardless of row count), the top eigenvector
    is broadcast, pass 2 subtracts the projection. Matches the reference's
    uncentered TruncatedSVD(n_components=1) (tuple_embedding_models.py:134-141)
    exactly in the limit (exact eigh vs 7-iteration randomized SVD).

Empty-token rows (e.g. the null->' ' imputation value) produce a zero vector
by default with an ``_n_tokens`` column for monitoring; 'nan' policy
reproduces the reference's NaN rows (tuple_embedding_models.py:65,130).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    StructField,
    StructType,
)

from deepblocker_spark.functions.tokenizer import basic_english_tokenize, tokens_col
from deepblocker_spark.functions.wordvec import get_provider

from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
    tracked_persist,
)

EMBEDDING = "embedding"
N_TOKENS = "_n_tokens"


# ---------------------------------------------------------------------------
# O13 — token frequency aggregation (JVM-side end to end)
# ---------------------------------------------------------------------------

def token_frequencies(corpus: DataFrame, text_col: str = "_merged_text") -> DataFrame:
    """-> DataFrame(token string, freq long). Catalyst-native hash agg with
    map-side partial aggregation; scan is pruned to the one text column."""
    return (
        corpus.select(F.explode(tokens_col(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def sif_weights_df(
    freq: DataFrame,
    a: float = 1e-3,
    min_freq: int = 0,
) -> DataFrame:
    """O14: w(tok) = a / (a + freq/total) if freq >= min_freq else 1.0
    (tuple_embedding_models.py:113-119). total is the corpus token count."""
    total = freq.agg(F.sum("freq").alias("t"))
    return (
        freq.crossJoin(F.broadcast(total))
        .select(
            "token",
            "freq",
            F.when(
                F.col("freq") >= F.lit(min_freq),
                F.lit(a) / (F.lit(a) + F.col("freq") / F.col("t")),
            )
            .otherwise(F.lit(1.0))
            .alias("weight"),
        )
    )


def collect_sif_weights(
    freq: DataFrame,
    a: float = 1e-3,
    min_freq: int = 0,
    max_vocab: int = 1_000_000,
) -> dict[str, float]:
    """Driver-side weight map from a frequency table in ONE action: the
    ``max_vocab`` most frequent tokens (ties by token) are collected through
    Arrow while the global token total is observed on the same pass over
    every token (``DataFrame.observe``), so ``freq`` is computed once and
    needs no persist. Under the cap that is the whole vocabulary. The
    weight formula (tuple_embedding_models.py:113-119) is applied on the
    driver — identical arithmetic to sif_weights_df, minus a corpus rescan
    and a cross join."""
    # Arrow collect + vectorized weight math: the row-wise .collect() +
    # per-row Python formula was a measurable SERIAL term on the driver at
    # ~10^5-token vocabularies (scaling-protocol profiling, round 2); the
    # toPandas hop and one numpy expression do the same work in bulk.
    observed = Observation()
    pdf = (
        freq.observe(observed, F.sum("freq").alias("t"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(max_vocab)
        .select("token", "freq")
        .toPandas()
    )
    total = int(observed.get["t"] or 0)
    f = pdf["freq"].to_numpy(dtype=np.float64)
    w = a / (a + f / total) if total else np.ones(len(f))
    if min_freq > 0:
        w = np.where(f >= min_freq, w, 1.0)
    return dict(zip(pdf["token"].tolist(), w.tolist()))


# ---------------------------------------------------------------------------
# O12/O15 — tuple embedding via mapInPandas (Arrow-vectorized)
# ---------------------------------------------------------------------------

def _embed_batch(
    texts: pd.Series | None,
    dim: int,
    weights: dict[str, float] | None,
    empty_row_policy: str,
    tok_lists: list | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized batch embedding: flat token lookup + segment mean.
    Returns (n x dim float32 matrix, token counts). ``texts`` is ignored
    (and may be None) when ``tok_lists`` supplies pre-tokenized rows —
    the JVM-tokenized path passes tokens only."""
    # Allocation-lean by design: this sandbox (and many hardened container
    # kernels) makes first-touch page faults on fresh large mmaps extremely
    # slow, while freed same-size blocks are reused cheaply. Everything here
    # stays float32 (fastText precision) and reuses per-batch-shaped buffers
    # via the normal allocator cycle — no float64 copies of the token matrix.
    provider = get_provider(dim)
    if tok_lists is None:
        tok_lists = [basic_english_tokenize(t) for t in texts]
    counts = np.array([len(t) for t in tok_lists], dtype=np.int64)
    n = len(tok_lists)
    flat: list[str] = [t for toks in tok_lists for t in toks]
    sums = np.zeros((n, dim), dtype=np.float32)
    if flat:
        mat = provider.matrix(flat)  # float32, cached per executor
        if weights is not None:
            w = np.fromiter(
                (weights.get(t, 1.0) for t in flat), dtype=np.float32, count=len(flat)
            )
            mat = mat * w[:, None]
        # segment-sum via add.reduceat over each doc's contiguous token
        # slice: identical sequential float32 accumulation order to the
        # previous np.add.at (tokens are laid out doc-major in `flat`), but
        # buffered — add.at's unbuffered scatter was the embed stage's
        # hottest line (~10-30x slower) in the 240k-row scaling profile.
        nz = np.nonzero(counts > 0)[0]
        starts = np.concatenate([[0], np.cumsum(counts[nz])[:-1]])
        sums[nz] = np.add.reduceat(mat, starts, axis=0)
    nonempty = counts > 0
    np.divide(
        sums,
        np.maximum(counts, 1)[:, None].astype(np.float32),
        out=sums,
    )
    if empty_row_policy == "nan":
        sums[~nonempty] = np.nan
    return sums, counts


def _with_embedding_schema(df: DataFrame) -> StructType:
    return StructType(
        list(df.schema.fields)
        + [
            StructField(EMBEDDING, ArrayType(FloatType()), False),
            StructField(N_TOKENS, IntegerType(), False),
        ]
    )


def embed_tuples(
    df: DataFrame,
    text_col: str = "_merged_text",
    dim: int = 300,
    weights: dict[str, float] | None = None,
    empty_row_policy: str = "zero",
    tokens_col: str | None = None,
) -> DataFrame:
    """Average (weights=None, O12) or SIF (weights given, O15) embedding.
    SIF nuance preserved: mean of weighted vectors divides by the token
    count, not by the weight sum (tuple_embedding_models.py:124-130).
    Adds columns: embedding array<float>, _n_tokens int.

    ``tokens_col``: optional pre-tokenized array<string> column (from the
    JVM :func:`tokens_col` expression — parity-locked with the Python
    tokenizer). When given, the pandas kernel skips the per-row regex
    pipeline entirely (token lists arrive through Arrow) and the column is
    dropped from the output — tokenization happens once, JVM-side, in the
    same scan. Token lists, and therefore embeddings, are bit-identical
    either way (tests/test_tokenizer.py three-way parity)."""
    spark = df.sparkSession
    weights_bc = _tracked(spark.sparkContext, weights) if weights is not None else None
    base = df.drop(tokens_col) if tokens_col is not None else df
    out_schema = _with_embedding_schema(base)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = weights_bc.value if weights_bc is not None else None
        for pdf in batches:
            if tokens_col is not None:
                toks = [list(t) if t is not None else [] for t in pdf[tokens_col]]
                mat, counts = _embed_batch(
                    None, dim, w, empty_row_policy, tok_lists=toks
                )
                out = pdf.drop(columns=[tokens_col])
            else:
                mat, counts = _embed_batch(pdf[text_col], dim, w, empty_row_policy)
                out = pdf.copy()
            out[EMBEDDING] = list(mat)
            out[N_TOKENS] = counts.astype("int32")
            yield out

    return df.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# O16 — principal-component removal (two-pass, driver-side eigh on dim x dim)
# ---------------------------------------------------------------------------

def compute_top_principal_component(df: DataFrame, emb_col: str = EMBEDDING, dim: int = 300) -> np.ndarray:
    """Pass 1: per-partition Gram matrices X^T X summed on the driver; top
    eigenvector = top right-singular vector of the (uncentered) embedding
    matrix, matching TruncatedSVD semantics."""
    gram_schema = StructType([StructField("gram", ArrayType(DoubleType()), False)])

    def gram_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros((dim, dim), dtype=np.float64)
        seen = False
        for pdf in batches:
            if len(pdf):
                x = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
                x = np.nan_to_num(x)
                acc += x.T @ x
                seen = True
        if seen:
            yield pd.DataFrame({"gram": [acc.ravel()]})

    parts = df.select(emb_col).mapInPandas(gram_part, gram_schema).collect()
    gram = np.zeros((dim, dim), dtype=np.float64)
    for r in parts:
        gram += np.asarray(r["gram"], dtype=np.float64).reshape(dim, dim)
    _, vecs = np.linalg.eigh(gram)
    return vecs[:, -1].copy()  # top eigenvector


def remove_principal_component(df: DataFrame, emb_col: str = EMBEDDING, dim: int = 300) -> DataFrame:
    """Pass 2: X - (X . pc) pc with the broadcast pc. Refits per call, like
    the reference (each get_tuple_embedding call refits SVD,
    deep_blocker.py:61-63 -> tuple_embedding_models.py:134-141).

    The input is persisted: it is consumed twice (Gram pass + subtract
    pass), and without a barrier the upstream embedding UDF would recompute.
    """
    df = tracked_persist(df)
    pc = compute_top_principal_component(df, emb_col, dim)
    spark = df.sparkSession
    pc_bc = _tracked(spark.sparkContext, pc)
    schema = df.schema

    def subtract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = pc_bc.value
        for pdf in batches:
            if len(pdf):
                x = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
                x = x - np.outer(x @ v, v)
                out = pdf.copy()
                out[emb_col] = list(x.astype(np.float32))
                yield out
            else:
                yield pdf

    return df.mapInPandas(subtract, schema)
