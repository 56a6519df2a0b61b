"""Exact-substring duplicate detection via winnowing fingerprints.

Training-corpus dedup à la Lee et al., "Deduplicating Training Data Makes
Language Models Better" (ACL 2022): two documents are duplicates when they
share a long EXACT character span (Lee et al. use a 50-BPE-token span and a
suffix array). A suffix array is a single-machine structure; the
distributed re-expression here is winnowing (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS fingerprinter): slide a ``gram_len``-char window
over the text, then within every run of ``window`` consecutive grams select
the lexicographically smallest one. Winnowing's guarantee makes the
candidate join LOSSLESS for long spans: any two documents sharing an exact
substring of length >= gram_len + window - 1 select at least one identical
fingerprint (the shared span contains a full gram-window, and the min of
identical windows is identical), while only ~2/(window+1) of all grams are
kept. Selection is content-defined, so it needs no cross-document
coordination — a per-row kernel, no shuffle until the fingerprint
equi-join.

Scale shape (the 100 TB plan): fingerprint extraction is one Arrow
``mapInPandas`` pass (``_winnowed``: a numpy sliding min per document),
shared by the batch joins and the streaming decontamination operator;
the only shuffle is the shared-fingerprint count
(``dedup._shared_counts``, self or dyadic), identical to the minhash band
join in dedup.minhash_lsh_pairs. Boilerplate spans (license headers,
generated code) produce hot fingerprints whose postings square in the
pair join — ``max_gram_df`` drops them with a broadcast anti-join before
that join (counted over both sides in dyadic mode), same discipline as
ngram_jaccard_pairs' ``max_shingle_df`` (VERDICT r1 #8);
``hot_fingerprints`` exposes exactly what was purged. Lowering selection
density for bigger corpora is the ``window`` knob (guarantee degrades
gracefully: min shared-span length is gram_len + window - 1).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepblocker_spark.operators.bc_registry import tracked_persist
from deepblocker_spark.operators.dedup import _drop_hot, _hot_keys, _shared_counts


def _winnow_selected(s: str, gram_len: int, window: int) -> "np.ndarray":
    """Distinct winnowing fingerprints of one text (len >= gram_len +
    window - 1): lexicographic min over every ``window`` consecutive
    ``gram_len``-char grams, deduplicated. Python ``str`` comparison is
    code-point order == UTF8String byte order, so the selected set is
    identical to SQL's ``array_min`` over the same windows."""
    import numpy as np

    grams = np.array(
        [s[i : i + gram_len] for i in range(len(s) - gram_len + 1)],
        dtype=object,
    )
    m = grams[: len(grams) - window + 1].copy()
    for j in range(1, window):
        np.minimum(m, grams[j : j + len(m)], out=m)
    return np.unique(m)


def _winnowed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int,
    window: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """-> (id, *extra_cols, grams array<string>): each document's distinct
    selected winnowing fingerprints (sorted) as ONE array, from an Arrow
    ``mapInPandas`` kernel — one sliding ``np.minimum`` pass over the
    per-row gram array. Stateless per row, so it runs on a stream as-is.
    Documents shorter than gram_len + window - 1 chars are dropped.

    Python, not Catalyst lambdas: ``transform``/``slice``/``array_min``
    over a materialized gram array holds ~25x the text bytes per row and
    evaluates the O(n*w) sliding min interpreted, ~8x slower end to end on
    sf0.1 substring_dup_pairs with the same fingerprints (VERDICT r5 #6).
    The DuckDB oracle of substring_dup_pairs checks the selection in SQL."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    text = F.col(text_col)
    staged = df.filter(F.length(text) >= gram_len + window - 1).select(
        F.col(id_col).alias("id"), *extra_cols, text.alias("_t")
    )
    out_schema = StructType(
        [StructField("id", df.schema[id_col].dataType, True)]
        + [df.schema[c] for c in extra_cols]
        + [StructField("grams", ArrayType(StringType(), False), False)]
    )

    def run(batches):
        for pdf in batches:
            if len(pdf):
                pdf["grams"] = [
                    _winnow_selected(s, gram_len, window) for s in pdf.pop("_t")
                ]
                yield pdf

    return staged.mapInPandas(run, out_schema)


def winnowed_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 25,
    window: int = 5,
) -> DataFrame:
    """-> (id, gram): one row per selected winnowing fingerprint per
    document — the exploded output of the winnowing kernel (``_winnowed``,
    which the streaming decontamination path calls directly). Two tests
    hold the selection fixed: ``test_winnow_fingerprints_match_python_twin``
    (this frame vs a pure-Python twin, tests/test_substring_semdedup.py)
    and ``test_streaming_substring_decontam_parity_with_batch`` (the
    streaming operator vs the batch dyadic join)."""
    return _winnowed(df, id_col, text_col, gram_len, window).select(
        "id", F.explode("grams").alias("gram")
    )


def hot_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 25,
    window: int = 5,
    max_gram_df: int = 1000,
) -> DataFrame:
    """-> (gram, doc_freq) for fingerprints selected by more than
    ``max_gram_df`` documents — the boilerplate stop-list
    ``exact_substring_pairs`` purges, exposed for auditing."""
    fp = winnowed_fingerprints(df, id_col, text_col, gram_len, window)
    return _hot_keys(fp, "gram", max_gram_df)


def _substring_pairs(
    sides: list[tuple[DataFrame, str]],
    text_col: str,
    gram_len: int,
    window: int,
    max_gram_df: int | None,
) -> DataFrame:
    """-> (a, b, n_shared) over one (self) or two (dyadic) ``(frame,
    id_col)`` sides: each side's fingerprints, the joint hot-gram purge,
    then the shared-gram count (a from the first side, b from the last)."""
    fps = [winnowed_fingerprints(d, i, text_col, gram_len, window) for d, i in sides]
    if len(fps) == 1 or max_gram_df is not None:
        fps = [tracked_persist(fp, StorageLevel.MEMORY_AND_DISK) for fp in fps]
    if max_gram_df is not None:
        fps = _drop_hot("gram", max_gram_df, *fps)
    return _shared_counts(
        fps[0].select(F.col("id").alias("a"), "gram"),
        fps[-1].select(F.col("id").alias("b"), "gram"),
        "gram", "n_shared", self_mode=len(fps) == 1,
    )


def exact_substring_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 25,
    window: int = 5,
    max_gram_df: int | None = None,
) -> DataFrame:
    """-> (a, b, n_shared): unordered document pairs sharing >=1 winnowing
    fingerprint, with the count of distinct shared fingerprints.

    Lossless for spans of length >= gram_len + window - 1: every such
    shared exact substring puts the pair in the output (winnowing
    guarantee), and because fingerprints ARE gram_len-char substrings of
    both texts, every emitted pair genuinely shares an exact
    gram_len-char substring — no hash step, so no false positives to
    verify away. n_shared is a span-length proxy (a shared span of length
    s selects ~2(s - gram_len)/(window + 1) fingerprints).

    ``max_gram_df``: purge fingerprints selected by more than this many
    docs (license headers / generated boilerplate) before the self-join,
    bounding its worst term at max_gram_df^2 per fingerprint. None = no
    purge (exact semantics; the right setting for oracle-checked runs).

    The fingerprint frame is persisted: the selection pass (O(chars * w)
    string mins — by far the dominant cost) would otherwise run once per
    join side (2x, or 4x with the purge's frequency agg + anti-join).
    Release with ``bc_registry.release_tracked()`` after the action."""
    return _substring_pairs(
        [(df, id_col)], text_col, gram_len, window, max_gram_df
    )


def exact_substring_pairs_dyadic(
    left: DataFrame,
    right: DataFrame,
    l_id: str = "doc_id",
    r_id: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 25,
    window: int = 5,
    max_gram_df: int | None = None,
) -> DataFrame:
    """-> (l_id, r_id, n_shared): cross-corpus exact-substring candidates —
    the decontamination shape of the winnowing join (Lee et al. ACL'22
    report train/eval leakage as long exact spans; this finds every
    train-eval pair sharing a span >= gram_len + window - 1 chars, with
    zero false positives, without the two corpora ever self-joining).

    Scale shape: the eval side is typically tiny next to the training
    corpus — its fingerprint set broadcasts, so the training corpus is
    ONE scan + fingerprint projection with no shuffle at all (Catalyst
    picks the broadcast automatically under the size threshold; at equal
    sizes the join degrades to the banded hash join, same as the self
    variant). ``max_gram_df`` purges boilerplate fingerprints by their
    JOINT document frequency, mirroring key_blocking's dyadic purge.

    Persist rule: a side's fingerprint frame is persisted only when the
    plan reads it twice, i.e. when ``max_gram_df`` is set (the joint
    frequency count and the anti-join both read it). Without the purge
    each side's kernel output feeds the pair join once and nothing is
    persisted, so the training corpus still streams through one pass.
    Release with ``bc_registry.release_tracked()`` after the action."""
    return _substring_pairs(
        [(left, l_id), (right, r_id)], text_col, gram_len, window, max_gram_df
    ).toDF("l_id", "r_id", "n_shared")
