"""Physical-plan audit (SURVEY.md §4): capture .explain('formatted') for the
headline queries and check the plan properties that matter at scale —
column pruning reaching the parquet scan, predicate pushdown, broadcast hash
joins for small sides, whole-stage codegen coverage, partial aggregation.

Writes PLANS.md. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    import __spark_entry__ as m
    from deepblocker_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=4)
    qs = m.queries()
    audits = {
        # query -> (plan properties that must hold, rationale)
        "token_freq": (
            ["HashAggregate", "ReadSchema: struct<text:string>"],
            "partial+final hash agg; scan pruned to the single text column",
        ),
        "q1_pricing": (
            ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
             "partial_sum", "HashAggregate"],
            "filter pushed into the parquet scan; map-side partial aggregation",
        ),
        "mktsegment_orders": (
            ["BroadcastHashJoin", "BroadcastExchange"],
            "small dimension broadcast, no shuffle of the fact side",
        ),
        "brand_top_parts": (
            ["Window", "WindowGroupLimit"],
            "window top-k with group-limit pushdown (no full sort of all rows)",
        ),
        "minhash_sig": (
            ["Project", "ReadSchema: struct<doc_id:bigint,text:string>"],
            "pure projection pipeline: signatures are column expressions",
        ),
        "bm25_topk": (
            ["HashAggregate", "WindowGroupLimit", "InMemoryRelation",
             "!CartesianProduct", "!SortMergeJoin",
             "ReadSchema: struct<doc_id:bigint,text:string>"],
            "inverted-index build is partial+final hash aggs over a "
            "PERSISTED tf frame (tokenize pass runs once, not per branch); "
            "top-k per query is window group-limit (no full sort); scans "
            "pruned to (doc_id, text); no cartesian — the 1-row stats "
            "frame broadcasts",
        ),
        "bloom_decontam": (
            ["getbit", "xxhash64", "!BatchEvalPython", "!ArrowEvalPython",
             "!SortMergeJoin", "BroadcastHashJoin", "HashAggregate"],
            "Bloom prune is pure codegen (seeded xxhash64 + literal-bitmap "
            "getbit tests) on the train scan — no Python eval node anywhere; "
            "verification join broadcasts the small eval side; no "
            "sort-merge join",
        ),
        "bm25_topk_filtered": (
            ["HashAggregate", "WindowGroupLimit", "InMemoryRelation",
             "!CartesianProduct", "!SortMergeJoin",
             "ReadSchema: struct<doc_id:bigint,text:string,lang:string>",
             "ReadSchema: struct<lang:string>"],
            "filtered retrieval keeps the bm25_topk plan shape — the lang "
            "key joins alongside the token with zero extra stages; scans "
            "pruned to (doc_id, text, lang), and the per-partition doc "
            "count reads lang ALONE",
        ),
        "canopy_pairs": (
            ["InMemoryRelation", "!CartesianProduct"],
            "pair emission reuses canopy_blocking's PERSISTED assignment "
            "frame for both sides of the center self-join (no "
            "re-execution of the canopy pair join); equi-join on center, "
            "never a cartesian",
        ),
        "preprocess_merge": (
            ["ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>"],
            "scan pruned to exactly the blocked columns",
        ),
    }

    # Partition pruning: write a lang-partitioned copy of documents, filter
    # on the partition column, and require the scan to prune at planning time.
    import tempfile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    part_dir = tempfile.mkdtemp(prefix="plan-audit-part-") + "/docs_by_lang"
    docs.write.partitionBy("lang").mode("overwrite").parquet(part_dir)
    pruned = spark.read.parquet(part_dir).filter("lang = 'en'").select("doc_id", "n_chars")
    audits["partition_pruning"] = (
        ["PartitionFilters: [isnotnull(lang", "ReadSchema: struct<doc_id:bigint,n_chars:bigint>"],
        "partition filter applied at scan planning; only lang=en files read",
    )
    qs = dict(qs)
    qs["partition_pruning"] = lambda *_: pruned

    # VERDICT r1 #9: the FLAGSHIP path itself must prune partitions — a
    # lang-filtered blocking run over a lang/source-partitioned source table
    # (the Iceberg-shaped layout of sources/repo_files.py) must push the
    # partition filter to scan planning and prune columns through the
    # preprocess projection.
    from deepblocker_spark.operators.preprocess import preprocess_table

    part2_dir = tempfile.mkdtemp(prefix="plan-audit-part2-") + "/docs_by_lang_source"
    docs.write.partitionBy("lang", "source").mode("overwrite").parquet(part2_dir)
    flag_pre = preprocess_table(
        spark.read.parquet(part2_dir).filter("lang = 'en'"),
        ["text", "source"], id_col="doc_id",
    )
    audits["flagship_partition_pruned"] = (
        ["PartitionFilters: [isnotnull(lang", " = en)]",
         "ReadSchema: struct<doc_id:bigint,text:string>"],
        "lang-filtered flagship preprocess: partition filter applied at scan "
        "planning (only lang=en directories read); column pruning through "
        "the merge projection (text read, n_chars not)",
    )
    qs["flagship_partition_pruned"] = lambda *_: flag_pre

    # LSH candidate generation (the 100 TB scale path): signatures carry the
    # embedding so there is NO shuffle join back to the source table — only
    # the tiny oversized-bucket list is joined, broadcast. A needle starting
    # with "!" asserts ABSENCE.
    from deepblocker_spark.operators.lsh import lsh_candidates

    emb_tbl = spark.read.parquet(f"{SF}/embeddings.parquet")
    lsh_plan_df = lsh_candidates(
        emb_tbl, id_col="vec_id", emb_col="embedding", dim=64, k=5,
        n_bands=8, band_bits=8, seed=3,
    )
    audits["lsh_candidates"] = (
        ["!SortMergeJoin", "!BroadcastHashJoin", "!Sort (",
         "InMemoryRelation", "1:InMemoryFileIndex",
         "hashpartitioning(band", "hashpartitioning(l_id",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        "single signature pass: ONE source scan (1:InMemoryFileIndex) into a "
        "persisted frame (InMemoryRelation) consumed by both the bucket-size "
        "agg and the candidate kernel; healthy path (no oversized buckets) "
        "has NO join of any kind; exactly the two required exchanges "
        "(bucket key, then l_id); scan pruned to (id, embedding); NO JVM "
        "Sort anywhere — the bucket exchange is a bare repartition and the "
        "kernel runner lexsorts int keys python-side (round 4: the Tungsten "
        "sort of wide rows was the kernel stage's dominant, "
        "bus-contended JVM CPU)",
    )
    qs["lsh_candidates"] = lambda *_: lsh_plan_df

    # IVF-flat ANN: the per-cell search and the fused dedup+top-K merge are
    # both sort-based grouped maps (MapInPandas after a hash repartition) —
    # NO per-group applyInPandas (FlatMapGroupsInPandas) and no join at all;
    # the only wide operations are the two hash exchanges (cell, l_id).
    from deepblocker_spark.operators.ann import ivf_topk

    ivf_plan_df = ivf_topk(
        emb_tbl, k=5, id_col="vec_id", emb_col="embedding",
        n_cells=8, nprobe=3, seed=3,
    )
    audits["ivf_topk"] = (
        ["MapInPandas", "!FlatMapGroupsInPandas", "!SortMergeJoin",
         "!BroadcastHashJoin", "!Sort (", "InMemoryRelation",
         "1:InMemoryFileIndex",
         "hashpartitioning(cell",
         "hashpartitioning(l_id",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        "both grouped stages are python-sort grouped maps (bare repartition "
        "+ numpy lexsort of int keys inside the runner — no JVM Sort of "
        "wide rows, round 4); no joins anywhere; ONE source scan into a "
        "persisted assignment frame consumed by both the cell-size agg and "
        "the search kernel; exactly the two hash exchanges (cell, then "
        "l_id) that the algorithm requires; scan pruned to (id, embedding)",
    )
    qs["ivf_topk"] = lambda *_: ivf_plan_df

    # PQ driver-collect gate (VERDICT r4 #3): above max_driver_code_rows
    # pq_topk must DELEGATE to the nothing-collects IVFADC path — the plan
    # is then the two-exchange grouped-map shape (cell, l_id), not the
    # exhaustive chunked-broadcast shape whose per-query merge is a Window
    # over a union (and whose build would have collected the code table).
    from deepblocker_spark.operators.pq import pq_topk

    pq_gate_df = pq_topk(emb_tbl, k=5, m=8, n_codes=64, max_driver_code_rows=10)
    audits["pq_gate_delegates"] = (
        ["MapInPandas", "hashpartitioning(cell", "hashpartitioning(l_id",
         "!Window", "!SortMergeJoin", "!BroadcastHashJoin",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        "above the max_driver_code_rows gate the plan is IVFADC: two hash "
        "exchanges (cell, then l_id), grouped-map kernels, no Window "
        "merge, no joins — and no driver collect of the full code table",
    )
    qs["pq_gate_delegates"] = lambda *_: pq_gate_df

    # The chunk-broadcast scan (operators/topk.py) behind the exact top-K
    # and PQ brute-force joins: one MapInPandas per index chunk over the
    # query side; the index travels as broadcasts, never through a shuffle.
    # One chunk is final in the kernel (no Window); n chunks union into ONE
    # (sim desc, r_id asc) window merge.
    from deepblocker_spark.operators.topk import exact_topk_join

    scan_args = dict(k=5, l_id="vec_id", r_id="vec_id", exclude_self=True)
    exact_one_df = exact_topk_join(emb_tbl, emb_tbl, **scan_args)
    audits["exact_topk_single_chunk"] = (
        ["1:MapInPandas (", "!Window", "!Exchange",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        "index side fits one broadcast chunk: one kernel over the query "
        "scan ranks the final top-K itself — no window, no exchange",
    )
    qs["exact_topk_single_chunk"] = lambda *_: exact_one_df
    emb_rows = emb_tbl.count()
    chunk_rows = emb_rows // 3
    n_chunks = -(-emb_rows // chunk_rows)
    exact_multi_df = exact_topk_join(
        emb_tbl, emb_tbl, max_broadcast_rows=chunk_rows, **scan_args
    )
    audits["exact_topk_multi_chunk"] = (
        [f"{n_chunks}:MapInPandas (", "Union", "1:Window (",
         "1:hashpartitioning(l_id"],
        f"max_broadcast_rows={chunk_rows} splits the {emb_rows}-row index "
        f"into {n_chunks} broadcast chunks: one kernel per chunk, a union, "
        "and one window merge over a single l_id exchange",
    )
    qs["exact_topk_multi_chunk"] = lambda *_: exact_multi_df
    pq_one_df = pq_topk(emb_tbl, k=5, m=8, n_codes=64)
    audits["pq_topk_single_chunk"] = (
        ["1:MapInPandas (", "!Window", "!Exchange",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        "below max_driver_code_rows and one chunk of PQ codes: the ADC "
        "kernel ranks the final top-K itself — no window, no exchange",
    )
    qs["pq_topk_single_chunk"] = lambda *_: pq_one_df

    # Meta-blocking: the 1-row scalars (block total, mean weight) must join
    # as broadcast nested-loop crosses, never a CartesianProduct; the shared
    # filtered/weighted frames are persisted (InMemoryTableScan) so the
    # blocking+filtering subtree is not recomputed per consumer; block sizes
    # come from a hash agg (map-side combine + AQE-skew-joinable), and the
    # scan prunes to exactly (doc_id, text).
    audits["meta_blocking"] = (
        ["!CartesianProduct", "BroadcastNestedLoopJoin", "InMemoryTableScan",
         "HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>"],
        "1-row scalars broadcast (no cartesian); persisted shared frames "
        "(filtered collection ×5 consumers, weighted pairs ×2 pruning "
        "passes); block sizes via hash agg not a hot-key window; scan "
        "pruned to (doc_id, text)",
    )
    qs["meta_blocking"] = m.queries()["meta_blocking"]

    # Prefix-filtered Jaccard join (round 4): the inverted index must hold
    # only prefixes (row_number window over the per-doc rarity order), the
    # shingle frequency comes from a hash agg (map-side combine), candidate
    # verification joins arrays per candidate pair — and nothing in the
    # plan is a cartesian product. Scan pruned to (doc_id, text).
    audits["prefix_jaccard"] = (
        ["!CartesianProduct", "Window", "HashAggregate",
         "ReadSchema: struct<doc_id:bigint,text:string>"],
        "prefix selection is a per-doc window over (doc_freq, shingle); "
        "global shingle frequencies via partial+final hash agg; candidate "
        "join + array_intersect verification only — no cartesian anywhere; "
        "scan pruned to (doc_id, text)",
    )
    qs["prefix_jaccard"] = m.queries()["prefix_jaccard"]

    # Weighted AllPairs join (round 4): prefix postings are a per-doc
    # window (suffix bound) over the maxweight order; tf/df/maxweight are
    # hash aggs; candidate generation + verification are equi-joins on
    # token / (a, b) — no cartesian product anywhere in the plan.
    audits["tfidf_join"] = (
        ["!CartesianProduct", "Window", "HashAggregate",
         "ReadSchema: struct<doc_id:bigint,text:string>"],
        "suffix-bound prefix selection is one per-doc window; tf/df/"
        "maxweight via partial+final hash aggs; token-keyed candidate and "
        "verification equi-joins only — no cartesian; scan pruned to "
        "(doc_id, text)",
    )
    qs["tfidf_join"] = m.queries()["tfidf_join"]

    # Phonetic blocking (round 4): the soundex key is a pure expression
    # chain (whole-stage codegen Project, no UDF anywhere — no python
    # runner nodes), pair generation is a co-partitioned equi self-join on
    # the key, block sizes via hash agg. Scan pruned to (p_partkey, p_name).
    audits["phonetic_blocking"] = (
        ["!CartesianProduct", "!BatchEvalPython", "!MapInPandas",
         "!ArrowEvalPython", "HashAggregate",
         "ReadSchema: struct<p_partkey:bigint,p_name:string>"],
        "soundex is JVM codegen expressions (no Python nodes); intra-block "
        "pairs via key equi-join; block sizes via hash agg; scan pruned to "
        "(p_partkey, p_name)",
    )
    qs["phonetic_blocking"] = m.queries()["phonetic_blocking"]

    # One-to-one matching round 1 (round 4): the symmetric-best filter is
    # one node-keyed window over the doubled edge list plus a count==2
    # hash agg on the edge key — no join back to any table, no cartesian.
    audits["mutual_best_match"] = (
        ["!CartesianProduct", "Window", "HashAggregate", "Union"],
        "directed view is a union (no shuffle), per-node best via a single "
        "node-keyed window exchange, mutual check via count==2 hash agg on "
        "the edge key — no join back to the source table",
    )
    qs["mutual_best_match"] = m.queries()["mutual_best_match"]

    # Edit-distance threshold join (round 4): both pigeonhole key
    # generators are JVM sequence/transform/substring expression chains (no
    # Python runner nodes), candidate generation is one equi-join on
    # (slot, length, segment), verification is codegen levenshtein on the
    # deduplicated candidates — no cartesian product or nested-loop join
    # anywhere, scan pruned to (p_partkey, p_name).
    audits["edit_join"] = (
        ["!CartesianProduct", "!BroadcastNestedLoopJoin", "!BatchEvalPython",
         "!MapInPandas", "!ArrowEvalPython", "HashAggregate",
         "ReadSchema: struct<p_partkey:bigint,p_name:string>"],
        "PassJoin postings/probe keys are pure JVM expressions (no Python "
        "nodes); one (slot, length, segment) equi-join generates "
        "candidates; dedup via hash agg; codegen levenshtein verification; "
        "scan pruned to (p_partkey, p_name)",
    )
    qs["edit_join"] = m.queries()["edit_join"]

    # The text joins that share dedup's candidate-then-verify helpers
    # (_candidate_pairs: key equi-join + pair dedup; _verify_pairs: payload
    # equi-joins + measure filter): the shared verify must stay JVM-only
    # and keyed on (a, b) — never a cross product or nested-loop join —
    # with the pair dedup a hash agg and the scans pruned.
    shared_verify = ["!CartesianProduct", "!BroadcastNestedLoopJoin",
                     "!ArrowEvalPython", "!BatchEvalPython", "HashAggregate"]
    doc_cols = ("doc_id:bigint,text:string", "(doc_id, text)")
    part_cols = ("p_partkey:bigint,p_name:string", "(p_partkey, p_name)")
    for name, (schema, cols), what in (
        ("minhash_pairs", doc_cols, "(band, key) self-join, exact Jaccard"),
        ("minhash_pairs_dyadic", doc_cols,
         "cross-side (band, key) join, exact Jaccard"),
        ("edit_join_dyadic", part_cols, "right-indexed PassJoin, levenshtein"),
        ("prefix_cosine", doc_cols, "t² prefix self-join, set cosine"),
    ):
        audits[name] = (
            shared_verify + [f"ReadSchema: struct<{schema}>"],
            f"{what}: candidate equi-join, pair dedup via hash agg, payload "
            "equi-joins on (a, b) for verification — JVM only, no cartesian "
            f"or nested-loop join; scan pruned to {cols}",
        )
        qs[name] = m.queries()[name]

    # Suffix-array blocking (round 4): suffix postings are JVM
    # transform/substring (no Python nodes), the block-size cap is a hash
    # agg + equi-join on suffix (no window over a global sort), pair
    # dedup + longest-suffix selection is one hash agg — no cartesian.
    audits["suffix_blocking"] = (
        ["!CartesianProduct", "!BatchEvalPython", "!MapInPandas",
         "!ArrowEvalPython", "!Window", "HashAggregate",
         "ReadSchema: struct<p_partkey:bigint,p_name:string>"],
        "suffix postings via JVM expressions; max-block purge via hash agg "
        "+ suffix equi-join; per-pair longest suffix via struct-max hash "
        "agg (no window, no sort); scan pruned to (p_partkey, p_name)",
    )
    qs["suffix_blocking"] = m.queries()["suffix_blocking"]

    # Stratified hash sampling (round 4): the per-stratum cutoff is a
    # broadcast join + JVM md5/substring compare — no shuffle exchange, no
    # Python nodes; scan pruned to exactly the selected columns.
    audits["stratified_sample"] = (
        ["BroadcastHashJoin", "!Exchange hashpartitioning",
         "!BatchEvalPython", "!MapInPandas", "!ArrowEvalPython",
         "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"],
        "rates table broadcast; sampling predicate is a codegen md5/substr "
        "string compare riding the scan — NO shuffle anywhere; scan pruned "
        "to (doc_id, lang, n_chars)",
    )
    qs["stratified_sample"] = m.queries()["stratified_sample"]

    # Progressive best-first emission (round 4): the budget compiles to
    # TakeOrderedAndProject (bounded per-partition heaps + driver merge) —
    # never a global Sort exchange over the full pair set.
    audits["progressive_pairs"] = (
        ["TakeOrderedAndProject", "!CartesianProduct"],
        "orderBy+limit is TakeOrderedAndProject (bounded heaps), not a "
        "global sort-shuffle of all weighted pairs",
    )
    qs["progressive_pairs"] = m.queries()["progressive_pairs"]

    # Cluster-level evaluation (round 4): one id equi-join is the only
    # row-scale operation; everything downstream is hash aggs over the
    # contingency table; the three 1-row aggregate frames cross as
    # broadcast nested loops, never a CartesianProduct.
    audits["cluster_eval"] = (
        ["!CartesianProduct", "BroadcastNestedLoopJoin", "HashAggregate"],
        "row-scale work is one id equi-join + hash agg to the contingency "
        "table; 1-row frames (sums, ai, aj) cross via broadcast nested "
        "loop; no cartesian",
    )
    qs["cluster_eval"] = m.queries()["cluster_eval"]

    # Group linkage (round 4): overlap + size frames are hash aggs; joins
    # are equi-joins on the cluster keys — no cartesian (zero-overlap
    # cluster pairs never materialize).
    audits["group_linkage"] = (
        ["!CartesianProduct", "HashAggregate"],
        "member-overlap and cluster-size frames via hash aggs; cluster-key "
        "equi-joins only — zero-overlap pairs never materialize",
    )
    qs["group_linkage"] = m.queries()["group_linkage"]

    # Sequence packing (round 4): one hash exchange on the scatter group,
    # FFD inside a sort-based grouped map (MapInPandas, never
    # FlatMapGroupsInPandas), no join, scan pruned to (doc_id, text).
    audits["pack_docs"] = (
        ["MapInPandas", "!FlatMapGroupsInPandas", "!CartesianProduct",
         "hashpartitioning(_grp", "ReadSchema: struct<doc_id:bigint,text:string>"],
        "scatter-pack: one _grp hash exchange feeds the FFD grouped map; "
        "validity summary is hash aggs; scan pruned to (doc_id, text)",
    )
    qs["pack_docs"] = m.queries()["pack_docs"]

    # Quality bands (round 4): one global percentile aggregate, 1-row
    # broadcast nested-loop cross back, codegen comparison chain — no
    # cartesian, no Python nodes, scan pruned to (doc_id, n_chars).
    audits["quality_bands"] = (
        ["BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython",
         "!MapInPandas", "!ArrowEvalPython",
         "ReadSchema: struct<doc_id:bigint,n_chars:bigint>"],
        "percentile boundaries as a 1-row broadcast cross; band assignment "
        "is a codegen comparison chain; scan pruned to (doc_id, n_chars)",
    )
    qs["quality_bands"] = m.queries()["quality_bands"]

    # Monge-Elkan / soft TF-IDF (round 4): candidate pairs equi-join their
    # token (+weight) arrays, the JW cross-product runs inside ONE Arrow
    # kernel — no cartesian product, no per-group applyInPandas.
    audits["monge_elkan"] = (
        ["!CartesianProduct", "!FlatMapGroupsInPandas", "MapInPandas",
         "HashAggregate"],
        "token arrays attach via id equi-joins; the token cross-product "
        "lives inside the Arrow kernel, never in the plan",
    )
    qs["monge_elkan"] = m.queries()["monge_elkan"]

    audits["soft_tfidf"] = (
        ["!CartesianProduct", "!FlatMapGroupsInPandas", "MapInPandas",
         "HashAggregate"],
        "tf-idf weights are hash aggs; sorted (token, weight) arrays "
        "attach via id equi-joins; JW cross + argmax inside the kernel",
    )
    qs["soft_tfidf"] = m.queries()["soft_tfidf"]

    # Decontamination: pure column-expression shingling (no python runner
    # at all), inverted-index equi-join on the shingle key, partial+final
    # hash aggs for the stop list / eval sizes / shared counts — no
    # cartesian, no window; scan pruned to (doc_id, text).
    audits["decontam_overlap"] = (
        ["!CartesianProduct", "!ArrowEvalPython", "!BatchEvalPython",
         "!MapInPandas", "HashAggregate",
         "ReadSchema: struct<doc_id:bigint,text:string>"],
        "shingles are JVM transform/slice expressions; train-eval overlap "
        "is a shingle-keyed equi-join + hash aggs; zero python in the "
        "plan; scan pruned to (doc_id, text)",
    )
    qs["decontam_overlap"] = m.queries()["decontam_overlap"]

    # Fellegi-Sunter gammas + pattern table: the only python in the plan is
    # the Arrow-batched JW kernel (ArrowEvalPython, never a row-at-a-time
    # BatchEvalPython); the gamma CASE ladders are codegen'd Projects; the
    # contingency table is a partial+final hash agg whose output is bounded
    # by prod(levels) rows regardless of pair count; scan pruned to the
    # four compared columns.
    audits["fs_patterns"] = (
        ["ArrowEvalPython", "!BatchEvalPython", "!CartesianProduct",
         "HashAggregate",
         "ReadSchema: struct<doc_id:bigint,text:string,source:string,n_chars:bigint>"],
        "gammas are JVM CASE ladders + one Arrow JW kernel; pattern "
        "counts via partial+final hash agg (<= 18 rows out); modulus "
        "block self-join is an equi-join, no cartesian; scan pruned to "
        "(doc_id, text, source, n_chars)",
    )
    qs["fs_patterns"] = m.queries()["fs_patterns"]

    # Fixed-params FS scoring: weight/probability are CASE-literal
    # arithmetic over the gamma ints — pure codegen Project, no second
    # python runner beyond the JW kernel and NO aggregation or extra
    # exchange added on top of the gamma plan.
    audits["fs_scores_fixed"] = (
        ["ArrowEvalPython", "!BatchEvalPython", "!CartesianProduct",
         "!HashAggregate",
         "ReadSchema: struct<doc_id:bigint,text:string,source:string,n_chars:bigint>"],
        "scoring adds zero plan weight: CASE-literal multiplies/adds in "
        "the same codegen Project as the gammas — no agg, no extra "
        "exchange, no python beyond the one Arrow JW kernel",
    )
    qs["fs_scores_fixed"] = m.queries()["fs_scores_fixed"]

    # Term-frequency adjustment (round 5): the tf table must arrive by
    # BROADCAST (vocabulary-bounded), and the adjusted scoring stays
    # CASE-literal codegen — no new aggregation over the PAIRS (the only
    # hash agg is the tiny tf/count build) and no extra python runner.
    audits["fs_tf_adjusted"] = (
        ["ArrowEvalPython", "!BatchEvalPython", "!CartesianProduct",
         "BroadcastHashJoin", "BroadcastExchange", "!SortMergeJoin"],
        "tf table broadcast-joined onto the pair frame (never a shuffle "
        "of the pairs on the tf key); the u_agree/tf factor and adjusted "
        "posterior are CASE-literal arithmetic in the same codegen "
        "Project as the gammas",
    )
    qs["fs_tf_adjusted"] = m.queries()["fs_tf_adjusted"]

    # Otsu threshold (round 5): the data is touched by ONE hash
    # aggregation down to the <=32-row histogram; the windows (cumulative
    # moments, argmax rank) run over that bounded frame only — they must
    # appear AFTER the aggregate, and nothing joins back to the pairs.
    audits["fs_otsu_threshold"] = (
        ["ArrowEvalPython", "!BatchEvalPython", "!CartesianProduct",
         "HashAggregate", "Window", "!SortMergeJoin"],
        "one partial+final hash agg reduces the scored pairs to the "
        "bounded bin histogram; cumulative moments and the argmax rank "
        "are windows over <=32 rows (single partition by construction, "
        "bounded); min/max range and totals arrive by broadcast",
    )
    qs["fs_otsu_threshold"] = m.queries()["fs_otsu_threshold"]

    # As-of join (round 4): union+window — the plan must contain NO join of
    # any kind (the naive formulation is a per-key range join that Catalyst
    # can only run as a nested loop), exactly one window over one exchange,
    # and both event_type filters pushed into the parquet scans.
    audits["asof_click_purchase"] = (
        ["!Join", "Union", "Window",
         "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]",
         "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"],
        "as-of = union of two pushed-filter scans + ONE key-partitioned "
        "window — join-free, one shuffle, no pair explosion",
    )
    qs["asof_click_purchase"] = m.queries()["asof_click_purchase"]

    # Canopy blocking (round 4): the assignment frame is persisted
    # (InMemoryRelation) so the coverage anti-join does NOT re-execute the
    # inverted-index join; shingling is JVM expressions (no Python nodes);
    # the md5 center filter prunes the index side BEFORE the shingle join;
    # no cartesian; scan pruned to (doc_id, text).
    audits["canopy_blocking"] = (
        ["InMemoryRelation", "!CartesianProduct", "!ArrowEvalPython",
         "!BatchEvalPython", "!MapInPandas", "md5",
         "ReadSchema: struct<doc_id:bigint,text:string>"],
        "assignment persisted — coverage anti-join reads the cache instead "
        "of recomputing the pair join; center side md5-filtered before the "
        "shingle equi-join; all-JVM expressions; scan pruned to (doc_id, "
        "text)",
    )
    qs["canopy_blocking"] = m.queries()["canopy_blocking"]

    # Filtered (partitioned) LSH ANN (round 4): same invariants as the
    # global lsh_candidates — single signature pass, no join on the healthy
    # path, exactly the two required exchanges — plus the partition fold-in
    # (xxhash64 of the label into the bucket) visible as a plain Project,
    # and the label read in the same single scan.
    from pyspark.sql import functions as F

    lsh_part_df = lsh_candidates(
        emb_tbl.withColumn("_part", F.col("vec_id") % 4),
        id_col="vec_id", emb_col="embedding", dim=64, k=5,
        n_bands=8, band_bits=8, seed=3, partition_by="_part",
    )
    audits["lsh_partitioned"] = (
        ["!SortMergeJoin", "!BroadcastHashJoin", "!Sort (",
         "InMemoryRelation", "1:InMemoryFileIndex", "xxhash64",
         "hashpartitioning(band", "hashpartitioning(l_id",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        "partition_by adds ZERO stages to the LSH plan: the label folds "
        "into the bucket via one codegen xxhash64 Project on top of the "
        "persisted signature frame; still one source scan, no joins, the "
        "same two exchanges (bucket key, then l_id)",
    )
    qs["lsh_partitioned"] = lambda *_: lsh_part_df

    # Dyadic LSH runs the self path's driver over two sides: on the healthy
    # path (no oversized bucket) each side is ONE persisted signature frame
    # and the plan has no join of any kind and no explode (the grid
    # replication only appears for oversized buckets).
    from deepblocker_spark.operators.lsh import lsh_candidates_dyadic

    even = F.col("vec_id") % 2 == 0
    lsh_dyadic_df = lsh_candidates_dyadic(
        emb_tbl.filter(even), emb_tbl.filter(~even), l_id="vec_id",
        r_id="vec_id", emb_col="embedding", dim=64, k=5, n_bands=8,
        band_bits=8, seed=3,
    )
    audits["lsh_candidates_dyadic"] = (
        ["!Join", "!Generate", "!Sort (", "2:InMemoryRelation (",
         "hashpartitioning(band", "hashpartitioning(l_id",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        "one signature pass per side: exactly one persisted frame "
        "(InMemoryRelation) per side, unioned into the bucket exchange; "
        "healthy path has NO join of any kind and NO Generate (explode); "
        "the same two exchanges as the self path (bucket key, then l_id); "
        "no JVM Sort anywhere",
    )
    qs["lsh_candidates_dyadic"] = lambda *_: lsh_dyadic_df

    # Interval/range join (round 4): the range predicate must NOT execute
    # as a nested loop — bins meet in a hash equi-join (explode = Generate)
    # with the containment filter as codegen; both event_type filters
    # pushed into the scans.
    audits["interval_join_events"] = (
        ["!BroadcastNestedLoopJoin", "!CartesianProduct", "Generate",
         "EqualTo(event_type,purchase)", "EqualTo(event_type,error)"],
        "range join via bin explode + hash equi-join on (user, bin) + "
        "codegen containment filter — never a BroadcastNestedLoop; "
        "event_type filters pushed to both scans",
    )
    qs["interval_join_events"] = m.queries()["interval_join_events"]

    # Exact-substring dedup (round 6): winnowing selection is ONE Arrow
    # mapInPandas kernel riding the pruned scan into a persisted frame
    # (the interpreted transform/slice/array_min lambda chain — 25x text
    # bytes of transient row width — was the query's dominant cost,
    # OPTIMIZATION_r06.md #1); the fingerprint self-join is a hash
    # equi-join of that frame with itself feeding a partial+final count
    # agg. Never a cartesian, never a generate-per-window re-expansion.
    audits["substring_dup_pairs"] = (
        ["MapInPandas", "InMemoryRelation", "HashAggregate",
         "partial_count", "!array_min(slice(",
         "!CartesianProduct", "!BroadcastNestedLoopJoin",
         "ReadSchema: struct<doc_id:bigint,text:string>"],
        "winnowing selection is one Arrow kernel (sliding np.minimum over "
        "the per-row gram array) into a persisted fingerprint frame "
        "consumed by both join sides; fingerprint hash self-join + "
        "map-side partial count — the minhash-band-join shape; scan "
        "pruned to (doc_id, text)",
    )
    qs["substring_dup_pairs"] = m.queries()["substring_dup_pairs"]

    # Dyadic winnowing decontamination (round 6): same kernel selection per
    # side; the pair join must never be a cartesian, and the training
    # corpus must not pay a pre-join sort of its text rows. (The eval-side
    # broadcast is a SIZE decision: static stats over a mapInPandas child
    # are unknown, so the static plan may show a shuffle join that AQE
    # rewrites to broadcast at runtime from the actual tiny eval side —
    # the static needle asserts the absence of the bad shapes rather than
    # the presence of the runtime-chosen one.)
    audits["substring_decontam"] = (
        ["MapInPandas", "HashAggregate", "!array_min(slice(",
         "!CartesianProduct", "!BroadcastNestedLoopJoin",
         "ReadSchema: struct<doc_id:bigint,text:string>"],
        "per-side kernel fingerprint projections joined on the "
        "fingerprint; no cartesian, no nested-loop; AQE broadcasts the "
        "tiny eval side at runtime; scan pruned to (doc_id, text)",
    )
    qs["substring_decontam"] = m.queries()["substring_decontam"]

    # SemDeDup (round 5): both grouped stages are python-sort grouped maps
    # (assignment MapInPandas, then the per-(cell, salt) verdict kernel);
    # the verdict frame is persisted so the three report consumers (two
    # pair endpoints + totals) reuse ONE execution — exactly one
    # hashpartitioning(id, cell) exchange in the whole plan; the 1-row
    # aggregate cross is a broadcast nested loop, never a CartesianProduct.
    semdedup_df = m.queries()["semantic_dedup"](spark, SF)
    semdedup_plan = plan_of(semdedup_df)
    audits["semantic_dedup"] = (
        ["MapInPandas", "hashpartitioning(cell",
         "InMemoryTableScan", "!CartesianProduct", "!SortMergeJoin",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        "cell-scoped verdict kernel over grid-salted grouped maps; "
        "persisted verdict frame consumed 3x via InMemoryTableScan "
        f"(verdict exchange appears "
        f"{semdedup_plan.count('hashpartitioning(id')}x — must be 1); "
        "scans pruned to (vec_id, embedding)",
    )
    qs["semantic_dedup"] = lambda *_: semdedup_df
    if semdedup_plan.count("hashpartitioning(id") != 1:
        # inject an unsatisfiable needle so the audit goes red when the
        # verdict subtree is executed more than once
        audits["semantic_dedup"] = (
            audits["semantic_dedup"][0]
            + ["SEMDEDUP_VERDICT_EXCHANGE_MUST_BE_SINGLE"],
            audits["semantic_dedup"][1],
        )

    # Pipeline verify join (plans.checkpoint._verify_join): both sides of
    # a candidate pair probe ONE token table, so the plan builds one
    # broadcast and the second join reuses it. Planned with AQE off, where
    # exchange reuse is a planning rule; with AQE on the stage cache makes
    # the same reuse at run time.
    from deepblocker_spark.operators.preprocess import MERGED_TEXT
    from deepblocker_spark.plans.checkpoint import _verify_join

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_part = 4
    vj_emb = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("text").alias(MERGED_TEXT),
    ).withColumn("_part", F.pmod(F.xxhash64("id"), F.lit(n_part)).cast("int"))
    vj_cands = vj_emb.select(
        F.col("id").alias("l_id"),
        (F.col("id").cast("long") + 1).cast("string").alias("r_id"),
        F.lit(1.0).alias("sim"),
        "_part",
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        vj_df = _verify_join(vj_cands, vj_emb, "id", n_part, None, 0.4)
        plan_of(vj_df)  # plans now: explain below reuses this plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    audits["pipeline_verify_join"] = (
        ["1:BroadcastExchange (", "ReusedExchange", "!CartesianProduct"],
        "the tl and tr probes share one token table: one broadcast "
        "exchange tokenizes each row once and the second join reuses it; "
        "no cartesian",
    )
    qs["pipeline_verify_join"] = lambda *_: vj_df

    report = ["# PLANS — physical-plan audit of headline queries",
              "",
              "Generated by tools/explain_audit.py; re-run after plan-affecting",
              "changes. Each section lists the scale-relevant properties asserted",
              "by the audit, then the full formatted plan.", ""]
    failures = []
    for name, (must_contain, why) in audits.items():
        df = qs[name](spark, SF)
        plan = plan_of(df)
        checks = []
        for needle in must_contain:
            if needle.startswith("!"):
                ok = needle[1:] not in plan
            elif needle.split(":", 1)[0].isdigit():
                # count needle "N:text": the text must occur EXACTLY N times
                # (e.g. one "Location: InMemoryFileIndex" line per scan node
                # proves a single source scan feeds the whole plan)
                n, text = needle.split(":", 1)
                ok = plan.count(text) == int(n)
            else:
                ok = needle in plan
            checks.append((needle, ok))
            if not ok:
                failures.append((name, needle))
        report.append(f"## {name}")
        report.append(f"*{why}*")
        report.append("")
        for needle, ok in checks:
            report.append(f"- {'✅' if ok else '❌'} `{needle}`")
        report.append("")
        report.append("```\n" + plan.strip() + "\n```")
        report.append("")

    with open("PLANS.md", "w") as f:
        f.write("\n".join(report))
    for name, needle in failures:
        print(f"MISSING in {name}: {needle}")
    print(f"audited {len(audits)} plans, {len(failures)} failed checks -> PLANS.md")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
