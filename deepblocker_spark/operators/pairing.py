"""The one candidate-generator interface (the reference's
vector_pairing_models.py:7-18 seam: ``index`` the right table, then
``query`` it with the left one -> the top-k pair table), the one ``auto``
routing rule, and the one mapping from ``BlockerConfig`` to a pairing.

This module imports none of the pairing modules at import time;
``pairing_for`` imports the one it builds."""

from __future__ import annotations

from pyspark.sql import DataFrame

from deepblocker_spark.operators.embed import EMBEDDING

PAIRING_MODES = ("auto", "exact", "lsh", "ivf", "ivfpq")


class VectorPairing:
    """Base of ExactTopKVectorPairing, LSHVectorPairing, IVFVectorPairing
    and PQVectorPairing: ``index(right)`` then ``query(left)`` ->
    (l_id, r_id, sim, rank), the top-k right rows per left row, whatever
    the route. Subclasses supply the search (``_search``) and their
    manifest entry (``params``)."""

    _right: DataFrame | None = None

    def index(self, right: DataFrame, r_id: str = "id", emb_col: str = EMBEDDING,
              rows: int | None = None):
        """Index ``right``. ``rows`` is its row count when the caller knows
        it (e.g. from a checkpoint manifest): it skips the search's sizing
        count job."""
        self._right, self._r_id, self._emb, self._rows = right, r_id, emb_col, rows
        return self

    def query(self, left: DataFrame, l_id: str = "id",
              emb_col: str | None = None, mode: str = "auto") -> DataFrame:
        """``mode``: 'self' (left IS the indexed table — dedup semantics,
        l_id == r_id pairs excluded), 'dyadic' (two tables), or 'auto'.
        Auto falls back to OBJECT IDENTITY with the indexed DataFrame — an
        equal-but-distinct frame of the same table (e.g. re-read from a
        checkpoint) runs dyadic and keeps self-pairs (ADVICE r2); pass
        mode='self' explicitly in that case."""
        if mode not in ("auto", "self", "dyadic"):
            raise ValueError(f"unknown query mode: {mode!r}")
        if self._right is None:
            raise RuntimeError("call index(right_df) before query(left_df)")
        if mode == "self" or (mode == "auto" and left is self._right):
            return self._search(None, self._r_id, emb_col or self._emb)
        return self._search(left, l_id, emb_col or self._emb)

    def _search(self, left: DataFrame | None, l_id: str, emb_col: str) -> DataFrame:
        """The pair table of ``left`` against the index; ``left=None`` is
        the self-join of the indexed table."""
        raise NotImplementedError

    def params(self) -> dict:
        """This pairing's entry in the candidates manifest params."""
        return {}


def shared_id_type(left: DataFrame | None, right: DataFrame, l_id: str,
                   r_id: str, search: str):
    """The id type of ``right``. A dyadic search (``left`` not None) needs
    the same type on ``left``: its union frame carries ONE ``_id`` column,
    so differing types would miscast silently (ADVICE r2). Raises
    TypeError, before any Spark job, when they differ."""
    id_type = right.select(r_id).schema.fields[0].dataType
    l_type = id_type if left is None else left.select(l_id).schema.fields[0].dataType
    if l_type != id_type:
        raise TypeError(
            f"dyadic {search} search requires matching id types on both sides "
            f"(got {l_type.simpleString()} vs {id_type.simpleString()}); "
            "cast one side's id column first"
        )
    return id_type


def resolve_pairing(pairing: str, n_rows: int | None, cfg) -> str:
    """The one ``auto`` routing rule. An explicit mode ('exact', 'lsh',
    'ivf', 'ivfpq') passes through and ``n_rows`` is not read; 'auto'
    picks from the indexed table's row count ``n_rows``:

      * 'exact' (chunk-broadcast exact top-K, the recall oracle) while
        ``n_rows <= cfg.pairing_lsh_threshold_rows``;
      * above it, 'lsh' (random-hyperplane buckets, bounded shuffle) while
        the raw f32 embedding matrix, ``n_rows * cfg.emb_dim * 4`` bytes,
        is at most ``cfg.pairing_ivfpq_min_bytes``;
      * 'ivfpq' (IVFADC) beyond that, where m-byte PQ codes beat carrying
        n_bands vector copies through the LSH kernel exchange (VERDICT r5
        #5).

    An unknown mode raises ValueError."""
    if pairing not in PAIRING_MODES:
        raise ValueError(f"unknown pairing mode: {pairing!r}")
    if pairing != "auto":
        return pairing
    if n_rows <= cfg.pairing_lsh_threshold_rows:
        return "exact"
    if n_rows * cfg.emb_dim * 4 <= cfg.pairing_ivfpq_min_bytes:
        return "lsh"
    return "ivfpq"


def pairing_for(mode: str, k: int, cfg) -> VectorPairing:
    """The pairing of resolved ``mode`` with top-``k`` and the knobs of
    ``cfg``. ``cfg.ivf_n_cells=None`` lets IVF and IVFADC size their cell
    count to ~sqrt(N); ``cfg.lsh_emb_dtype`` is also the IVF probed-cell
    exchange's transport precision."""
    if mode == "exact":
        from deepblocker_spark.operators.topk import ExactTopKVectorPairing

        return ExactTopKVectorPairing(k=k, max_broadcast_rows=cfg.max_broadcast_rows)
    if mode == "lsh":
        from deepblocker_spark.operators.lsh import LSHVectorPairing

        return LSHVectorPairing(
            k=k, dim=cfg.emb_dim, n_bands=cfg.lsh_n_bands,
            band_bits=cfg.lsh_band_bits, seed=cfg.random_seed,
            max_bucket_rows=cfg.lsh_max_bucket_rows,
            emb_dtype=cfg.lsh_emb_dtype, gather=cfg.lsh_gather,
            gather_max_bytes=cfg.lsh_gather_max_bytes,
        )
    if mode == "ivf":
        from deepblocker_spark.operators.ann import IVFVectorPairing

        return IVFVectorPairing(k=k, n_cells=cfg.ivf_n_cells, nprobe=cfg.ivf_nprobe,
                                seed=cfg.random_seed, emb_dtype=cfg.lsh_emb_dtype)
    if mode == "ivfpq":
        from deepblocker_spark.operators.pq import PQVectorPairing

        return PQVectorPairing(k=k, n_cells=cfg.ivf_n_cells, nprobe=cfg.ivf_nprobe,
                               m=cfg.pq_m, n_codes=cfg.pq_n_codes,
                               seed=cfg.random_seed)
    raise ValueError(f"unknown pairing mode: {mode!r}")
