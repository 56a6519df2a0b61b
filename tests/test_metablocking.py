"""Meta-blocking (block filtering + ECBS/CBS/JS weighting + WEP pruning) —
hand-computed small cases plus cross-checks against an independent pure-
Python recomputation of the Papadakis formulas."""

from __future__ import annotations

import math

from deepblocker_spark.operators.metablocking import (
    block_filtering,
    meta_blocking_pairs,
    token_blocks,
)


def _blocks_df(spark, rows):
    return spark.createDataFrame(rows, "id long, block_key string")


def test_token_blocks_distinct_tokens(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta, gamma!")], "doc_id long, text string"
    )
    got = {(r["id"], r["block_key"]) for r in token_blocks(df).collect()}
    # tokenizer pads punctuation -> ',' and '!' become their own tokens
    assert got == {
        (1, "alpha"),
        (1, "beta"),
        (2, "beta"),
        (2, "gamma"),
        (2, ","),
        (2, "!"),
    }


def test_block_filtering_keeps_smallest_half(spark):
    # entity 1 sits in 4 blocks with sizes 3,2,2,1 -> ratio 0.5 keeps
    # ceil(2.0)=2: the size-1 block and the size-2 block with the smaller key
    rows = [
        (1, "hot"), (2, "hot"), (3, "hot"),
        (1, "wa"), (2, "wa"),
        (1, "wb"), (3, "wb"),
        (1, "solo"),
    ]
    kept = block_filtering(_blocks_df(spark, rows), ratio=0.5).collect()
    kept1 = {(r["block_key"], r["block_size"]) for r in kept if r["id"] == 1}
    assert kept1 == {("solo", 1), ("wa", 2)}
    # entities 2 and 3 have 2 blocks each -> keep ceil(1.0)=1 smallest
    assert {(r["id"], r["block_key"]) for r in kept if r["id"] != 1} == {
        (2, "wa"),
        (3, "wb"),
    }


def test_block_filtering_ratio_one_keeps_all(spark):
    rows = [(1, "x"), (1, "y"), (2, "x")]
    kept = block_filtering(_blocks_df(spark, rows), ratio=1.0).collect()
    assert len(kept) == 3


def _python_meta(rows, ratio, scheme):
    """Independent recomputation: filtering + weighting, driver-side."""
    from collections import defaultdict

    sizes = defaultdict(int)
    for _, k in rows:
        sizes[k] += 1
    per_ent = defaultdict(list)
    for e, k in rows:
        per_ent[e].append(k)
    kept = []
    for e, keys in per_ent.items():
        keys = sorted(set(keys), key=lambda k: (sizes[k], k))
        kept.extend((e, k) for k in keys[: math.ceil(ratio * len(keys))])
    blocks = defaultdict(set)
    for e, k in kept:
        blocks[k].add(e)
    nb = defaultdict(int)
    for e, _ in kept:
        nb[e] += 1
    total = float(len(blocks))
    cbs = defaultdict(int)
    for members in blocks.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                cbs[(a, b)] += 1
    out = {}
    for (a, b), c in cbs.items():
        if scheme == "CBS":
            w = float(c)
        elif scheme == "ECBS":
            w = c * math.log(total / nb[a]) * math.log(total / nb[b])
        else:
            w = c / (nb[a] + nb[b] - c)
        out[(a, b)] = (c, round(w, 9))
    return out


EX_ROWS = [
    (1, "rare"), (2, "rare"),
    (1, "mid"), (2, "mid"), (3, "mid"),
    (1, "hot"), (2, "hot"), (3, "hot"), (4, "hot"),
    (3, "other"), (4, "other"),
    (4, "solo"),
]


def test_weighting_schemes_match_independent_recomputation(spark):
    df = _blocks_df(spark, EX_ROWS)
    for scheme in ("CBS", "ECBS", "JS"):
        got = {
            (r["a"], r["b"]): (r["cbs"], r["weight"])
            for r in meta_blocking_pairs(
                df, ratio=1.0, scheme=scheme, prune="none"
            ).collect()
        }
        want = _python_meta(EX_ROWS, 1.0, scheme)
        assert got == want, scheme


def test_wep_prunes_below_mean(spark):
    df = _blocks_df(spark, EX_ROWS)
    unpruned = _python_meta(EX_ROWS, 1.0, "ECBS")
    mean = sum(w for _, w in unpruned.values()) / len(unpruned)
    want = {k: v for k, v in unpruned.items() if v[1] >= mean - 1e-9}
    got = {
        (r["a"], r["b"]): (r["cbs"], r["weight"])
        for r in meta_blocking_pairs(df, ratio=1.0, scheme="ECBS", prune="WEP").collect()
    }
    assert got == want
    assert 0 < len(got) < len(unpruned)  # WEP actually pruned something


def _python_cnp(unpruned, k):
    from collections import defaultdict

    per_node = defaultdict(list)
    for (a, b), (_, w) in unpruned.items():
        per_node[a].append((w, b, (a, b)))
        per_node[b].append((w, a, (a, b)))
    keep = set()
    for edges in per_node.values():
        edges.sort(key=lambda t: (-t[0], t[1]))
        keep.update(e for _, _, e in edges[:k])
    return {e: unpruned[e] for e in keep}


def test_cnp_keeps_topk_per_node(spark):
    df = _blocks_df(spark, EX_ROWS)
    unpruned = _python_meta(EX_ROWS, 1.0, "ECBS")
    for k in (1, 2, 100):
        got = {
            (r["a"], r["b"]): (r["cbs"], r["weight"])
            for r in meta_blocking_pairs(
                df, ratio=1.0, scheme="ECBS", prune="CNP", cnp_k=k
            ).collect()
        }
        assert got == _python_cnp(unpruned, k), k
    # k=100 >= degree of every node -> CNP is a no-op
    assert _python_cnp(unpruned, 100) == unpruned


def _python_wnp(unpruned):
    from collections import defaultdict

    per_node = defaultdict(list)
    for (a, b), (_, w) in unpruned.items():
        per_node[a].append((w, (a, b)))
        per_node[b].append((w, (a, b)))
    keep = set()
    for edges in per_node.values():
        mean = sum(w for w, _ in edges) / len(edges)
        keep.update(e for w, e in edges if w >= mean - 1e-9)
    return {e: unpruned[e] for e in keep}


def test_wnp_prunes_below_either_endpoints_mean(spark):
    # EX_ROWS extended with a weakly-attached tail (5-6 via their own
    # block, 6 also in 'hot') — chosen so WNP's local thresholds keep
    # edges WEP's one global mean discards (verified below)
    rows = EX_ROWS + [(5, "solo"), (5, "x5"), (6, "x5"), (6, "hot")]
    df = _blocks_df(spark, rows)
    unpruned = _python_meta(rows, 1.0, "ECBS")
    want = _python_wnp(unpruned)
    got = {
        (r["a"], r["b"]): (r["cbs"], r["weight"])
        for r in meta_blocking_pairs(
            df, ratio=1.0, scheme="ECBS", prune="WNP"
        ).collect()
    }
    assert got == want
    assert 0 < len(got) <= len(unpruned)
    # WNP differs from WEP on this graph (local vs global threshold
    # actually changes the survivor set — the test is not vacuous)
    mean = sum(w for _, w in unpruned.values()) / len(unpruned)
    wep = {k for k, v in unpruned.items() if v[1] >= mean - 1e-9}
    assert set(want) != wep


def test_filtering_composes_with_weighting(spark):
    df = _blocks_df(spark, EX_ROWS)
    got = {
        (r["a"], r["b"]): (r["cbs"], r["weight"])
        for r in meta_blocking_pairs(
            df, ratio=0.5, scheme="JS", prune="none"
        ).collect()
    }
    assert got == _python_meta(EX_ROWS, 0.5, "JS")


def test_max_block_rows_purges_oversized_filtered_blocks(spark):
    # with ratio=1.0 nothing is filtered; cap 3 purges the size-4 'hot'
    # block from pair generation, so 3-4 (hot-only pair) disappears
    df = _blocks_df(spark, EX_ROWS)
    got = {
        (r["a"], r["b"]): (r["cbs"], r["weight"])
        for r in meta_blocking_pairs(
            df, ratio=1.0, scheme="CBS", prune="none", max_block_rows=3
        ).collect()
    }
    # equal to recomputing on the collection with 'hot' removed up-front
    # (entity block counts and the total are taken after the purge too)
    want = _python_meta([r for r in EX_ROWS if r[1] != "hot"], 1.0, "CBS")
    assert got == want


def test_invalid_args_raise(spark):
    import pytest

    from deepblocker_spark.operators.metablocking import meta_blocking_pairs_dyadic

    df = _blocks_df(spark, EX_ROWS)
    sc = spark.sparkContext
    sc.setJobGroup("meta-blocking-args", "argument checks")
    try:
        for call in (
            lambda: meta_blocking_pairs(df, scheme="nope"),
            lambda: meta_blocking_pairs(df, prune="nope"),
            lambda: meta_blocking_pairs_dyadic(df, df, scheme="nope"),
            lambda: meta_blocking_pairs_dyadic(df, df, prune="nope"),
        ):
            with pytest.raises(ValueError):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # self and dyadic check their arguments before the first Spark job
    assert not sc.statusTracker().getJobIdsForGroup("meta-blocking-args")


def _python_meta_dyadic(rows_l, rows_r, ratio, scheme, max_block_rows=None):
    """Independent clean-clean recomputation: union block sizes, per-side
    filtering, the ``max_block_rows`` purge (blocks with more filtered
    postings than the cap, counted over both sides, leave before the
    entity counts and the total), cross-side pairs only."""
    from collections import defaultdict

    sizes = defaultdict(int)
    for _, k in rows_l + rows_r:
        sizes[k] += 1
    kept = {0: [], 1: []}
    for side, rows in ((0, rows_l), (1, rows_r)):
        per_ent = defaultdict(list)
        for e, k in rows:
            per_ent[e].append(k)
        for e, keys in per_ent.items():
            keys = sorted(set(keys), key=lambda k: (sizes[k], k))
            kept[side].extend(
                (e, k) for k in keys[: math.ceil(ratio * len(keys))]
            )
    if max_block_rows is not None:
        fsize = defaultdict(int)
        for side in (0, 1):
            for _, k in kept[side]:
                fsize[k] += 1
        for side in (0, 1):
            kept[side] = [(e, k) for e, k in kept[side] if fsize[k] <= max_block_rows]
    nb = {0: defaultdict(int), 1: defaultdict(int)}
    keys_in_filtered = set()
    posting = {0: defaultdict(set), 1: defaultdict(set)}
    for side in (0, 1):
        for e, k in kept[side]:
            nb[side][e] += 1
            keys_in_filtered.add(k)
            posting[side][k].add(e)
    total = float(len(keys_in_filtered))
    cbs = defaultdict(int)
    for k in keys_in_filtered:
        for a in posting[0].get(k, ()):
            for b in posting[1].get(k, ()):
                cbs[(a, b)] += 1
    out = {}
    for (a, b), c in cbs.items():
        if scheme == "CBS":
            w = float(c)
        elif scheme == "ECBS":
            w = c * math.log(total / nb[0][a]) * math.log(total / nb[1][b])
        else:
            w = c / (nb[0][a] + nb[1][b] - c)
        out[(a, b)] = (c, round(w, 9))
    return out


# right table reuses ids 1..4 on purpose: cross-table id collisions must
# stay distinct entities
RX_ROWS = [
    (1, "rare"), (1, "mid"), (2, "mid"), (2, "hot"),
    (3, "hot"), (3, "other"), (4, "hot"), (4, "solo"), (4, "rx"),
]


def test_dyadic_weighting_matches_recomputation(spark):
    from deepblocker_spark.operators.metablocking import meta_blocking_pairs_dyadic

    ldf = _blocks_df(spark, EX_ROWS)
    rdf = _blocks_df(spark, RX_ROWS)
    for scheme in ("CBS", "ECBS", "JS"):
        got = {
            (r["a"], r["b"]): (r["cbs"], r["weight"])
            for r in meta_blocking_pairs_dyadic(
                ldf, rdf, ratio=1.0, scheme=scheme, prune="none"
            ).collect()
        }
        assert got == _python_meta_dyadic(EX_ROWS, RX_ROWS, 1.0, scheme), scheme


def test_dyadic_filtering_and_wep(spark):
    from deepblocker_spark.operators.metablocking import meta_blocking_pairs_dyadic

    ldf = _blocks_df(spark, EX_ROWS)
    rdf = _blocks_df(spark, RX_ROWS)
    unpruned = _python_meta_dyadic(EX_ROWS, RX_ROWS, 0.5, "ECBS")
    mean = sum(w for _, w in unpruned.values()) / len(unpruned)
    want = {k: v for k, v in unpruned.items() if v[1] >= mean - 1e-9}
    got = {
        (r["a"], r["b"]): (r["cbs"], r["weight"])
        for r in meta_blocking_pairs_dyadic(
            ldf, rdf, ratio=0.5, scheme="ECBS", prune="WEP"
        ).collect()
    }
    assert got == want


def test_dyadic_cnp_bipartite_ranks(spark):
    from deepblocker_spark.operators.metablocking import meta_blocking_pairs_dyadic
    from collections import defaultdict

    ldf = _blocks_df(spark, EX_ROWS)
    rdf = _blocks_df(spark, RX_ROWS)
    unpruned = _python_meta_dyadic(EX_ROWS, RX_ROWS, 1.0, "ECBS")
    per_node = defaultdict(list)
    for (a, b), (_, w) in unpruned.items():
        per_node[(0, a)].append((w, b, (a, b)))
        per_node[(1, b)].append((w, a, (a, b)))
    keep = set()
    for edges in per_node.values():
        edges.sort(key=lambda t: (-t[0], t[1]))
        keep.update(e for _, _, e in edges[:2])
    want = {e: unpruned[e] for e in keep}
    got = {
        (r["a"], r["b"]): (r["cbs"], r["weight"])
        for r in meta_blocking_pairs_dyadic(
            ldf, rdf, ratio=1.0, scheme="ECBS", prune="CNP", cnp_k=2
        ).collect()
    }
    assert got == want


def test_dyadic_pairs_are_cross_side_only(spark):
    from deepblocker_spark.operators.metablocking import meta_blocking_pairs_dyadic

    # identical tables: every pair must be (left id, right id) — including
    # the identity pairs (e, e); no intra-table pair can appear
    ldf = _blocks_df(spark, EX_ROWS)
    got = meta_blocking_pairs_dyadic(ldf, ldf, ratio=1.0, prune="none").collect()
    assert len(got) > 0
    assert any(r["a"] == r["b"] for r in got)  # cross-table identity pairs


def _python_wnp_dyadic(unpruned):
    from collections import defaultdict

    per_node = defaultdict(list)
    for (a, b), (_, w) in unpruned.items():
        per_node[(0, a)].append((w, (a, b)))
        per_node[(1, b)].append((w, (a, b)))
    keep = set()
    for edges in per_node.values():
        mean = sum(w for w, _ in edges) / len(edges)
        keep.update(e for w, e in edges if w >= mean - 1e-9)
    return {e: unpruned[e] for e in keep}


def test_dyadic_wnp_keeps_edges_above_either_sides_mean(spark):
    from deepblocker_spark.operators.metablocking import meta_blocking_pairs_dyadic

    ldf = _blocks_df(spark, EX_ROWS)
    rdf = _blocks_df(spark, RX_ROWS)
    unpruned = _python_meta_dyadic(EX_ROWS, RX_ROWS, 1.0, "ECBS")
    want = _python_wnp_dyadic(unpruned)
    got = {
        (r["a"], r["b"]): (r["cbs"], r["weight"])
        for r in meta_blocking_pairs_dyadic(
            ldf, rdf, ratio=1.0, scheme="ECBS", prune="WNP"
        ).collect()
    }
    assert got == want
    assert 0 < len(got) < len(unpruned)  # WNP actually pruned something


def test_dyadic_max_block_rows_purge_counts_both_sides(spark):
    from deepblocker_spark.operators.metablocking import meta_blocking_pairs_dyadic

    ldf = _blocks_df(spark, EX_ROWS)
    rdf = _blocks_df(spark, RX_ROWS)
    # 'hot' has 4 left + 3 right postings and 'mid' 3 + 2: cap 4 purges both
    # only when the two sides are counted together ('hot' alone on the left
    # stays within it), while 'rare' (2 + 1) and 'other' (2 + 1) survive
    for scheme in ("CBS", "ECBS", "JS"):
        want = _python_meta_dyadic(EX_ROWS, RX_ROWS, 1.0, scheme, max_block_rows=4)
        got = {
            (r["a"], r["b"]): (r["cbs"], r["weight"])
            for r in meta_blocking_pairs_dyadic(
                ldf, rdf, ratio=1.0, scheme=scheme, prune="none",
                max_block_rows=4,
            ).collect()
        }
        assert got == want, scheme
    assert want and want != _python_meta_dyadic(EX_ROWS, RX_ROWS, 1.0, "JS")
    assert (2, 2) not in want  # 2-2 shared only 'mid' and 'hot'
