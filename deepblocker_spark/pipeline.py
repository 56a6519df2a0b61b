"""Pipeline driver (SURVEY.md O31) — the DeepBlocker public API, Spark-native.

Mirrors the reference lifecycle (/root/reference/deep_blocker.py:48-74):
validate -> preprocess both tables -> corpus union -> model.preprocess ->
embed left/right -> index right / query left -> candidate pair table.
Every stage is a lazy DataFrame transform; driver<->executor crossings
happen only at the documented barriers (corpus aggregation, model-weight
broadcast, right-embedding broadcast).

Embedding model classes keep the reference's two-seam extension API
(ABCTupleEmbedding, tuple_embedding_models.py:17-34) with DataFrame
signatures: ``preprocess(corpus_df)`` then ``embed(df) -> df+embedding``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepblocker_spark.config import BlockerConfig, DEFAULT_CONFIG
from deepblocker_spark.operators import embed as E
from deepblocker_spark.operators import encoders as enc
from deepblocker_spark.operators.bc_registry import tracked_persist
from deepblocker_spark.operators.preprocess import (
    MERGED_TEXT,
    build_corpus,
    preprocess_table,
)
from deepblocker_spark.operators.pairing import pairing_for


# ---------------------------------------------------------------------------
# Driver-side SIF embedding of a *bounded* text sample (used only to build
# training matrices for AE/CTT — O17/O19/O20 are driver-side by design,
# SURVEY.md O19 decision). Reuses the exact batch kernel the executors run.
# ---------------------------------------------------------------------------

def sif_embed_matrix(
    texts: list[str],
    dim: int,
    weights: dict[str, float] | None,
    remove_pc: bool = True,
) -> np.ndarray:
    mat, _ = E._embed_batch(pd.Series(texts), dim, weights, "zero")
    x = mat.astype(np.float64)
    if remove_pc and len(x) >= 2:
        gram = x.T @ x
        _, vecs = np.linalg.eigh(gram)
        pc = vecs[:, -1]
        x = x - np.outer(x @ pc, pc)
    return x


class SparkAverageEmbedding:
    """O12 — mean of token vectors (tuple_embedding_models.py:39-66).
    No preprocessing, no PC removal."""

    def __init__(self, config: BlockerConfig = DEFAULT_CONFIG):
        self.cfg = config

    def preprocess(self, corpus: DataFrame) -> None:
        pass

    def embed(self, df: DataFrame, text_col: str = MERGED_TEXT) -> DataFrame:
        return E.embed_tuples(
            df, text_col, self.cfg.emb_dim, None, self.cfg.empty_row_policy
        )


class SparkSIFEmbedding:
    """O13-O16 — frequency-weighted mean with per-call PC removal
    (tuple_embedding_models.py:76-142)."""

    def __init__(self, config: BlockerConfig = DEFAULT_CONFIG):
        self.cfg = config
        self.weights: dict[str, float] | None = None

    def preprocess(self, corpus: DataFrame, text_col: str = MERGED_TEXT) -> None:
        # One corpus scan, one action: the capped frequency-ordered collect
        # observes the corpus token total on the way (sif_weights_df's
        # total-join form stays as the oracle-checkable relational variant)
        self.weights = E.collect_sif_weights(
            E.token_frequencies(corpus, text_col),
            self.cfg.sif_weighting_param,
            self.cfg.sif_min_freq,
            self.cfg.sif_max_vocab_broadcast,
        )

    def embed(self, df: DataFrame, text_col: str = MERGED_TEXT) -> DataFrame:
        if self.weights is None:
            raise RuntimeError("preprocess(corpus) must run before embed()")
        # Tokenize JVM-side in the same scan (codegen'd regexp pipeline,
        # parity-locked with the Python tokenizer) and hand the token lists
        # to the embed kernel through Arrow — the pandas worker does numpy
        # only, no per-row regex. Bit-identical embeddings either way.
        from deepblocker_spark.functions.tokenizer import tokens_col as _tc

        with_toks = df.withColumn("_jvm_toks", _tc(text_col))
        out = E.embed_tuples(
            with_toks, text_col, self.cfg.emb_dim, self.weights,
            self.cfg.empty_row_policy, tokens_col="_jvm_toks",
        )
        if self.cfg.remove_pc:
            out = E.remove_principal_component(out, E.EMBEDDING, self.cfg.emb_dim)
        return out


def _sample_texts(
    corpus: DataFrame,
    cap: int,
    text_col: str = MERGED_TEXT,
    rows_hint: int | None = None,
) -> list[str]:
    """Deterministic bounded sample for driver-side training, content-
    defined (xxhash64 of the text) so it is partition-order-independent.

    Replaces round 1's ``orderBy(text).limit(cap)``: at 100 TB that ordered
    every merged-text row to pick 50k training rows (VERDICT r1 #4). Here a
    hash filter keeps ~2*cap survivors at pure scan cost, and only that
    small survivor set is ordered (by hash, then text for duplicate-text
    ties) to pick exactly ``cap`` — the corpus itself is never sorted.

    ``rows_hint`` (VERDICT r3 #6): an approximate corpus row count — e.g.
    from a checkpoint manifest's recorded rows, or ``spark.read`` metadata —
    sizes the hash-filter modulus WITHOUT the up-front count scan; at 100 TB
    that count is a full extra pass over the corpus just to pick a modulus.
    The hint only shifts how many survivors the filter keeps (~2*cap), never
    which rows win (hash order decides), so any hint within ~2x of the truth
    yields the same sample cost profile; the exact sample changes only as it
    would under any modulus change."""
    n = rows_hint if rows_hint is not None else corpus.select(text_col).count()
    if n == 0:
        return []
    p = max(1, n // max(1, 2 * cap))
    rows = (
        corpus.select(F.col(text_col).alias("_t"), F.xxhash64(text_col).alias("_h"))
        .filter(F.pmod(F.col("_h"), F.lit(p)) == 0)
        .orderBy("_h", "_t")
        .limit(cap)
        .collect()
    )
    return [r["_t"] for r in rows]


class SparkAutoEncoderEmbedding:
    """O17/O18 — SIF aggregate then a driver-trained autoencoder; executors
    apply the encoder as numpy (tuple_embedding_models.py:148-178)."""

    def __init__(self, config: BlockerConfig = DEFAULT_CONFIG):
        self.cfg = config
        self.sif = SparkSIFEmbedding(config)
        self.model: enc.NumpyAutoEncoder | None = None

    def preprocess(
        self,
        corpus: DataFrame,
        text_col: str = MERGED_TEXT,
        rows_hint: int | None = None,
    ) -> None:
        cfg = self.cfg
        self.sif.preprocess(corpus, text_col)
        texts = _sample_texts(corpus, cfg.train_sample_rows, text_col, rows_hint)
        x = sif_embed_matrix(texts, cfg.emb_dim, self.sif.weights, cfg.remove_pc)
        self.model = enc.NumpyAutoEncoder(
            cfg.emb_dim, (2 * cfg.ae_emb_dim, cfg.ae_emb_dim), seed=cfg.random_seed
        )
        self.model.train(x, cfg.num_epochs, cfg.batch_size, cfg.learning_rate)

    def embed(self, df: DataFrame, text_col: str = MERGED_TEXT) -> DataFrame:
        if self.model is None:
            raise RuntimeError("preprocess(corpus) must run before embed()")
        sif_df = self.sif.embed(df, text_col)
        return enc.apply_mlp(sif_df, self.model.encoder_layers(), E.EMBEDDING)


class SparkCTTEmbedding:
    """O19-O21 — trains the CTT siamese model on synthetic perturbation
    pairs. Mode 'as_written' reproduces the reference quirk: inference
    returns the SIF embedding, the trained model is never applied
    (tuple_embedding_models.py:271-273). Mode 'paper' applies the trained
    summarizer as the VLDB'21 paper describes."""

    def __init__(self, config: BlockerConfig = DEFAULT_CONFIG, mode: str | None = None):
        self.cfg = config
        self.mode = mode or config.ctt_mode
        self.sif = SparkSIFEmbedding(config)
        self.model: enc.NumpyCTTModel | None = None

    def preprocess(
        self,
        corpus: DataFrame,
        text_col: str = MERGED_TEXT,
        rows_hint: int | None = None,
    ) -> None:
        cfg = self.cfg
        self.sif.preprocess(corpus, text_col)
        texts = _sample_texts(corpus, cfg.train_sample_rows, text_col, rows_hint)
        lt, rt, y = enc.generate_synthetic_training_data(
            texts,
            cfg.synth_tuples_per_tuple,
            cfg.pos_to_neg_ratio,
            cfg.max_perturbation,
            cfg.random_seed,
        )
        le = sif_embed_matrix(lt, cfg.emb_dim, self.sif.weights, cfg.remove_pc)
        re_ = sif_embed_matrix(rt, cfg.emb_dim, self.sif.weights, cfg.remove_pc)
        self.model = enc.NumpyCTTModel(
            cfg.emb_dim, (2 * cfg.ae_emb_dim, cfg.ae_emb_dim), seed=cfg.random_seed
        )
        self.model.train(le, re_, np.asarray(y), cfg.num_epochs, cfg.batch_size, cfg.learning_rate)

    def embed(self, df: DataFrame, text_col: str = MERGED_TEXT) -> DataFrame:
        sif_df = self.sif.embed(df, text_col)
        if self.mode == "as_written":
            return sif_df
        if self.model is None:
            raise RuntimeError("preprocess(corpus) must run before embed()")
        return enc.apply_mlp(sif_df, self.model.summarizer_layers(), E.EMBEDDING)


class SparkHybridEmbedding:
    """O22 — CTT over autoencoder aggregation; same as-written quirk
    (inference returns the AE embedding, tuple_embedding_models.py:319-321)."""

    def __init__(self, config: BlockerConfig = DEFAULT_CONFIG, mode: str | None = None):
        self.cfg = config
        self.mode = mode or config.ctt_mode
        self.ae = SparkAutoEncoderEmbedding(config)
        self.model: enc.NumpyCTTModel | None = None

    def preprocess(
        self,
        corpus: DataFrame,
        text_col: str = MERGED_TEXT,
        rows_hint: int | None = None,
    ) -> None:
        cfg = self.cfg
        self.ae.preprocess(corpus, text_col, rows_hint)
        texts = _sample_texts(corpus, cfg.train_sample_rows, text_col, rows_hint)
        lt, rt, y = enc.generate_synthetic_training_data(
            texts,
            cfg.synth_tuples_per_tuple,
            cfg.pos_to_neg_ratio,
            cfg.max_perturbation,
            cfg.random_seed,
        )

        def ae_matrix(texts_: list[str]) -> np.ndarray:
            x = sif_embed_matrix(texts_, cfg.emb_dim, self.ae.sif.weights, cfg.remove_pc)
            return self.ae.model.encode(x)

        le, re_ = ae_matrix(lt), ae_matrix(rt)
        self.model = enc.NumpyCTTModel(
            cfg.ae_emb_dim, (2 * cfg.ae_emb_dim, cfg.ae_emb_dim), seed=cfg.random_seed
        )
        self.model.train(le, re_, np.asarray(y), cfg.num_epochs, cfg.batch_size, cfg.learning_rate)

    def embed(self, df: DataFrame, text_col: str = MERGED_TEXT) -> DataFrame:
        ae_df = self.ae.embed(df, text_col)
        if self.mode == "as_written":
            return ae_df
        if self.model is None:
            raise RuntimeError("preprocess(corpus) must run before embed()")
        return enc.apply_mlp(ae_df, self.model.summarizer_layers(), E.EMBEDDING)


EMBEDDING_MODELS = {
    "average": SparkAverageEmbedding,
    "sif": SparkSIFEmbedding,
    "autoencoder": SparkAutoEncoderEmbedding,
    "ctt": SparkCTTEmbedding,
    "hybrid": SparkHybridEmbedding,
}


class DeepBlocker:
    """Spark-native counterpart of the reference's DeepBlocker class
    (deep_blocker.py:7-74). ``block_datasets`` returns the candidate pair
    table (l_id, r_id, sim, rank) keyed by the tables' durable id column —
    replacing the reference's positional-id invariant (SURVEY.md §1.3)."""

    def __init__(
        self,
        tuple_embedding_model=None,
        vector_pairing_model=None,
        config: BlockerConfig = DEFAULT_CONFIG,
    ):
        self.cfg = config
        self.embedding = tuple_embedding_model or SparkSIFEmbedding(config)
        self.pairing = vector_pairing_model or pairing_for(
            "exact", config.top_k, config
        )

    def block_datasets(
        self,
        left: DataFrame,
        right: DataFrame,
        cols_to_block: list[str],
        id_col: str = "id",
    ) -> DataFrame:
        left_pre = preprocess_table(left, cols_to_block, id_col)
        right_pre = preprocess_table(right, cols_to_block, id_col)
        corpus = build_corpus(left_pre, right_pre)
        self.embedding.preprocess(corpus)
        # Persist the embedded tables: the pairing stage consumes each side
        # more than once (index collect + query scan), and the embedding UDF
        # chain is the expensive part of the lineage. On the real cluster
        # this is the parquet/Iceberg checkpoint barrier (plans/checkpoint).
        left_emb = tracked_persist(self.embedding.embed(left_pre))
        right_emb = tracked_persist(self.embedding.embed(right_pre))
        self.pairing.index(right_emb, r_id=id_col)
        return self.pairing.query(left_emb, l_id=id_col)

    def block_self(self, df: DataFrame, cols_to_block: list[str], id_col: str = "id") -> DataFrame:
        """Self-dedup blocking: left == right, self-pairs excluded."""
        pre = preprocess_table(df, cols_to_block, id_col)
        corpus = pre.select(MERGED_TEXT)
        self.embedding.preprocess(corpus)
        emb = tracked_persist(self.embedding.embed(pre))
        self.pairing.index(emb, r_id=id_col)
        return self.pairing.query(emb, l_id=id_col, mode="self")
