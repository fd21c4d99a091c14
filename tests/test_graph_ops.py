"""Round-3 operator laws: triangle counting, PageRank, fuzzy join,
dyadic EWMA, SQ8 ANN, expectations report, SimHash near-pairs.

Graph laws run against hand-computable fixtures (K4, paths, stars);
the exact-integer PageRank is pinned by mass conservation within its
floor loss, the uniform fixed point, star symmetry, and agreement with
a pure-Python float power iteration.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from data_pipeline_package_for_python_spark.operators.graph import (
    pagerank_exact,
    triangle_count,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


# --------------------------------------------------------------------- #
# triangle_count                                                        #
# --------------------------------------------------------------------- #

def test_triangles_k4(spark):
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    out = {
        r["id"]: r["n_triangles"]
        for r in triangle_count(_edges(spark, k4)).collect()
    }
    # K4 has C(3,2)=3 triangles through every node
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_path_graph_zero(spark):
    path = [(i, i + 1) for i in range(5)]
    out = triangle_count(_edges(spark, path)).collect()
    assert {r["id"] for r in out} == set(range(6))
    assert all(r["n_triangles"] == 0 for r in out)


def test_triangles_dup_and_reversed_edges_collapse(spark):
    tri = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (0, 2)]
    out = {
        r["id"]: r["n_triangles"]
        for r in triangle_count(_edges(spark, tri)).collect()
    }
    assert out == {0: 1, 1: 1, 2: 1}


# --------------------------------------------------------------------- #
# pagerank                                                              #
# --------------------------------------------------------------------- #

def _float_pagerank(pairs, iterations, damping=0.85):
    """Reference float power iteration: rank 1 per node at the start,
    dangling mass spread uniformly."""
    nodes = sorted({x for e in pairs for x in e})
    out_deg = dict.fromkeys(nodes, 0)
    for u, _ in pairs:
        out_deg[u] += 1
    rank = dict.fromkeys(nodes, 1.0)
    for _ in range(iterations):
        dangling = sum(rank[u] for u in nodes if out_deg[u] == 0)
        new = dict.fromkeys(
            nodes, (1 - damping) + damping * dangling / len(nodes)
        )
        for u, v in pairs:
            new[v] += damping * rank[u] / out_deg[u]
        rank = new
    return rank


def test_pagerank_mass_conservation(spark):
    """Floor division loses < 3 units per node per round, never more."""
    g = [(i, (i * 7 + 3) % 11) for i in range(11) for _ in (0,)]
    iters, scale = 8, 1_000_000
    ranks = pagerank_exact(
        _edges(spark, g), iterations=iters, scale=scale
    ).collect()
    n = len(ranks)
    total = sum(r["rank_scaled"] for r in ranks)
    assert abs(total - n * scale) <= 3 * n * iters


def test_pagerank_uniform_cycle_fixed_point(spark):
    n, scale = 6, 1_000_000
    cycle = [(i, (i + 1) % n) for i in range(n)]
    ranks = pagerank_exact(
        _edges(spark, cycle), iterations=5, scale=scale
    ).collect()
    assert len(ranks) == n
    for r in ranks:
        assert r["rank_scaled"] == scale


def test_pagerank_star_center_dominates(spark):
    star = [(i, 0) for i in range(1, 6)]
    out = {
        r["id"]: r["rank_scaled"]
        for r in pagerank_exact(_edges(spark, star)).collect()
    }
    assert out[0] > max(v for k, v in out.items() if k != 0)
    # leaves are dangling-symmetric → bit-identical ranks
    assert len({v for k, v in out.items() if k != 0}) == 1


def test_pagerank_exact_agrees_with_float_reference(spark):
    """The BIGINT ranks divided by scale match a float power iteration
    within the documented floor loss (< 3 units per node per round):
    on a dangling-free graph through the ``assume_no_dangling`` path,
    and on a graph with a dangling node through the general path."""
    n, iters, scale = 7, 6, 1_000_000
    ring = [(i, (i + 1) % n) for i in range(n)] + [(i, (i + 3) % n) for i in range(n)]
    chain = [(i, i + 1) for i in range(n - 1)] + [
        (i, n - 1) for i in range(0, n - 1, 2)
    ]
    for g, no_dangling in ((ring, True), (chain, False)):
        fl = _float_pagerank(g, iters)
        ex = {
            r["id"]: r["rank_scaled"]
            for r in pagerank_exact(
                _edges(spark, g), iterations=iters, scale=scale,
                assume_no_dangling=no_dangling,
            ).collect()
        }
        assert set(fl) == set(ex)
        for node, rank in fl.items():
            assert abs(ex[node] / scale - rank) <= 3 * iters / scale + 1e-9


def test_pagerank_exact_bidirected_fastpath_bitwise_identical(spark):
    """The r12 assume_bidirected fast path (node universe from
    out-degree keys, no per-round nodes join, zero dangling term) must
    be BIT-identical to the general path on a bidirected edge list —
    the claim that lets graph_pagerank use it while staying
    hash-checked against the unrolled DuckDB twin."""
    n = 9
    onedir = [(i, (i + 1) % n) for i in range(n)] + [
        (i, (i * 4 + 1) % n) for i in range(n)
    ]
    bidir = onedir + [(v, u) for (u, v) in onedir]
    e = _edges(spark, bidir)
    general = {
        r["id"]: r["rank_scaled"]
        for r in pagerank_exact(e, iterations=5).collect()
    }
    fast = {
        r["id"]: r["rank_scaled"]
        for r in pagerank_exact(
            e, iterations=5, assume_bidirected=True
        ).collect()
    }
    assert general == fast


# --------------------------------------------------------------------- #
# fuzzy_join_levenshtein                                                #
# --------------------------------------------------------------------- #

def test_fuzzy_join_blocks_and_verifies(spark):
    from data_pipeline_package_for_python_spark.operators.joins import (
        fuzzy_join_levenshtein,
    )

    left = spark.createDataFrame(
        [(1, "green apple"), (2, "red pear"), (3, "blu stone")],
        "lid long, lname string",
    )
    right = spark.createDataFrame(
        [(10, "green apples"), (11, "red bear"), (12, "blue stone")],
        "rid long, rname string",
    )
    out = fuzzy_join_levenshtein(
        left, right, "lname", "rname",
        blocking=[(
            F.split("lname", " ").getItem(0),
            F.split("rname", " ").getItem(0),
        )],
        max_distance=2,
    ).select("lid", "rid", "distance").collect()
    got = {(r["lid"], r["rid"]): r["distance"] for r in out}
    # green/red block-match within distance; "blu" vs "blue" is a
    # DIFFERENT first token → blocked out even though distance is 1
    assert got == {(1, 10): 1, (2, 11): 1}


def test_fuzzy_join_hot_block_cap(spark):
    from data_pipeline_package_for_python_spark.operators.joins import (
        fuzzy_join_levenshtein,
    )

    left = spark.createDataFrame(
        [(i, "x common") for i in range(10)] + [(99, "y rare")],
        "lid long, lname string",
    )
    right = spark.createDataFrame(
        [(100, "x common"), (101, "y rares")], "rid long, rname string"
    )
    out = fuzzy_join_levenshtein(
        left, right, "lname", "rname",
        blocking=[(
            F.split("lname", " ").getItem(0),
            F.split("rname", " ").getItem(0),
        )],
        max_distance=2,
        max_block_freq=5,
    ).select("lid", "rid").collect()
    # the 10-row "x" block exceeds the cap and is dropped wholesale
    assert {(r["lid"], r["rid"]) for r in out} == {(99, 101)}


# --------------------------------------------------------------------- #
# ewma_dyadic                                                           #
# --------------------------------------------------------------------- #

def test_ewma_dyadic_hand_computed(spark):
    from data_pipeline_package_for_python_spark.operators.timeseries import (
        ewma_dyadic,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0),
         (2, "2024-01-01 00:01:00", 2.0),
         (3, "2024-01-01 00:02:00", 3.0)],
        "eid long, ts string, value double",
    ).select("eid", F.col("ts").cast("timestamp").alias("ts"), "value")
    df = df.withColumn("k", F.lit(1))
    out = {
        r["eid"]: (r["ewma_num"], r["ewma_den"])
        for r in ewma_dyadic(
            df, "ts", "value", ("k",), depth=4, scale=100, tie_break="eid"
        ).collect()
    }
    # depth=4 weights (newest→oldest): 8,4,2,1 on v=100,200,300
    assert out[1] == (100 * 8, 8)
    assert out[2] == (200 * 8 + 100 * 4, 12)
    assert out[3] == (300 * 8 + 200 * 4 + 100 * 2, 14)


# --------------------------------------------------------------------- #
# expectations_report                                                   #
# --------------------------------------------------------------------- #

def test_expectations_report_counts(spark):
    from data_pipeline_package_for_python_spark.operators.etl import (
        expectations_report,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (2, None), (4, 3.0)],
        "k long, x double",
    )
    out = {
        r["rule"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in expectations_report(
            df,
            {"x_positive": F.col("x") > 0, "k_small": F.col("k") < 100},
            unique=("k",),
        ).collect()
    }
    # NULL x counts as a violation (unevaluable = failing)
    assert out["x_positive"] == (4, 2, False)
    assert out["k_small"] == (4, 0, True)
    assert out["unique(k)"] == (4, 1, False)


# --------------------------------------------------------------------- #
# simhash_near_pairs                                                    #
# --------------------------------------------------------------------- #

def test_simhash_near_pairs_exact_dup_and_bounds(spark):
    from data_pipeline_package_for_python_spark.operators.dedup import (
        simhash_near_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here entirely now")],
        "id long, text string",
    )
    out = simhash_near_pairs(docs, "id", "text", max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert got[(1, 2)] == 0
    assert all(a < b for a, b in got)
    assert all(h <= 3 for h in got.values())


def test_simhash_near_pairs_rejects_wide_radius(spark):
    from data_pipeline_package_for_python_spark.operators.dedup import (
        simhash_near_pairs,
    )

    docs = spark.createDataFrame([(1, "a")], "id long, text string")
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, "id", "text", max_hamming=4)


# --------------------------------------------------------------------- #
# sq8_topk                                                              #
# --------------------------------------------------------------------- #

def test_sq8_topk_matches_exact_on_separated_corpus(spark):
    """When vectors are well separated, the int8 shortlist cannot
    reorder across the cut and SQ8 == exact brute force."""
    from data_pipeline_package_for_python_spark.operators.similarity import (
        cosine_topk,
        sq8_topk,
    )

    vecs = []
    for i in range(12):
        base = [0.0] * 8
        base[i % 4] = 1.0 + i * 0.25
        base[(i + 1) % 4] = 0.5 if i % 2 else -0.5
        vecs.append((i, [float(x) for x in base]))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, q, k=3).select(
        "query_id", "rank", "neighbor_id"
    ).collect()
    approx = sq8_topk(emb, q, k=3, shortlist=8).select(
        "query_id", "rank", "neighbor_id"
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, approx))


# --------------------------------------------------------------------- #
# round-3 batch 2: prefix-filter Jaccard, hash sampling, z-score, WAV   #
# --------------------------------------------------------------------- #

def test_prefix_filter_jaccard_equals_naive(spark, tables):
    """Prefix filtering prunes candidates, never answers: the PPJoin
    result must equal the all-shingles exact join at the same
    threshold."""
    from data_pipeline_package_for_python_spark.operators.dedup import (
        jaccard_pairs_prefix_filter,
        jaccard_similar_pairs,
    )

    docs = tables["documents"].limit(150)
    fast = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_prefix_filter(
            docs, "doc_id", "text", n=3, t_num=1, t_den=2
        ).collect()
    }
    naive = {
        (r["id_a"], r["id_b"])
        for r in jaccard_similar_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert fast == naive


def test_hash_sample_key_consistency(spark, tables):
    """Sampling orders and (separately) lineitems by the shared key
    keeps exactly the lineitems of sampled orders — the join-lineup
    property rand() sampling cannot give."""
    from data_pipeline_package_for_python_spark.operators.etl import (
        hash_sample,
    )

    o = hash_sample(tables["orders"], "o_orderkey", 0.1)
    li = hash_sample(tables["lineitem"], "l_orderkey", 0.1)
    o_keys = {r[0] for r in o.select("o_orderkey").collect()}
    li_keys = {r[0] for r in li.select("l_orderkey").distinct().collect()}
    all_li_keys = {
        r[0]
        for r in tables["lineitem"].select("l_orderkey").distinct().collect()
    }
    assert li_keys == o_keys & all_li_keys


def test_hash_sample_deterministic_and_bounded(spark, tables):
    from data_pipeline_package_for_python_spark.operators.etl import (
        hash_sample,
    )

    o = tables["orders"]
    n1 = hash_sample(o, "o_orderkey", 0.2).count()
    n2 = hash_sample(o, "o_orderkey", 0.2).count()
    assert n1 == n2
    total = o.count()
    assert 0.1 * total < n1 < 0.3 * total
    assert hash_sample(o, "o_orderkey", 0.0).count() == 0
    assert hash_sample(o, "o_orderkey", 1.0).count() == total


def test_zscore_flags_spike(spark):
    """A flat series with one spike flags exactly the spike (after the
    warm-up window)."""
    import pyspark.sql.functions as F
    from data_pipeline_package_for_python_spark.operators.timeseries import (
        rolling_zscore_flags,
    )

    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", 10.0 + (0.1 * (i % 3)))
        for i in range(20)
    ]
    rows.append((20, "2024-01-01 00:20:00", 500.0))
    rows.append((21, "2024-01-01 00:21:00", 10.1))
    df = (
        spark.createDataFrame(rows, "eid long, ts string, value double")
        .select("eid", F.col("ts").cast("timestamp").alias("ts"), "value")
        .withColumn("k", F.lit(1))
    )
    out = {
        r["eid"]: r["is_anomaly"]
        for r in rolling_zscore_flags(
            df, "ts", "value", ("k",), tie_break="eid"
        ).collect()
    }
    assert out[20] is True
    assert sum(1 for v in out.values() if v) == 1


def test_wav_roundtrip_and_energy(spark):
    from data_pipeline_package_for_python_spark.operators.multimodal import (
        audio_energy,
        pack_media,
        wav_encode,
    )

    samples = list(range(-300, 300, 3))  # 200 samples
    payload = wav_encode(samples, 16000)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    media = pack_media(df, "media_id", "payload", modality="audio")
    out = audio_energy(media, window=64).orderBy("window_idx").collect()
    assert [r["n_samples"] for r in out] == [64, 64, 64, 8]
    exp0 = sum(s * s for s in samples[:64])
    assert out[0]["energy"] == exp0
    assert out[0]["peak"] == 300


# --------------------------------------------------------------------- #
# property tests: blocking completeness                                 #
# --------------------------------------------------------------------- #

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SLOW = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
)
_docs_st = st.lists(
    st.lists(_words, min_size=1, max_size=8).map(" ".join),
    min_size=2,
    max_size=8,
)


@_SLOW
@given(_docs_st)
def test_prefix_filter_complete_on_random_corpora(spark, texts):
    """Prefix filtering must find EVERY pair the naive all-shingles
    join finds, on arbitrary corpora — the pigeonhole argument, not a
    fixture coincidence."""
    from data_pipeline_package_for_python_spark.operators.dedup import (
        jaccard_pairs_prefix_filter,
        jaccard_similar_pairs,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    fast = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_prefix_filter(
            docs, "id", "text", n=2, t_num=1, t_den=2
        ).collect()
    }
    naive = {
        (r["id_a"], r["id_b"])
        for r in jaccard_similar_pairs(
            docs, "id", "text", n=2, threshold=0.5
        ).collect()
    }
    assert fast == naive


@_SLOW
@given(_docs_st)
def test_simhash_banding_complete_on_random_corpora(spark, texts):
    """4×16-bit banding must surface every pair within hamming ≤ 3 of
    the full fingerprint table (computed brute-force driver-side)."""
    from data_pipeline_package_for_python_spark.operators.dedup import (
        simhash64,
        simhash_near_pairs,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    fps = {
        r["id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in simhash64(docs, "id", "text").collect()
    }
    expected = set()
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(fps[a][0] ^ fps[b][0]).count("1") + bin(
                fps[a][1] ^ fps[b][1]
            ).count("1")
            if d <= 3:
                expected.add((a, b, d))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(docs, "id", "text").collect()
    }
    assert got == expected


# --------------------------------------------------------------------- #
# compaction planner / URL canonicalizer / sampler validation           #
# --------------------------------------------------------------------- #

def test_compaction_bins_greedy_boundaries(spark):
    from data_pipeline_package_for_python_spark.operators.etl import (
        compaction_bins,
    )

    manifest = spark.createDataFrame(
        [(0, 30), (1, 30), (2, 50), (3, 10), (4, 100)],
        "file_id long, sz long",
    )
    out = {
        r["file_id"]: (r["cum_before"], r["bin"])
        for r in compaction_bins(
            manifest, "sz", "file_id", target=60
        ).collect()
    }
    # cumsums before: 0,30,60,110,120 -> bins 0,0,1,1,2
    assert out == {0: (0, 0), 1: (30, 0), 2: (60, 1), 3: (110, 1),
                   4: (120, 2)}


def test_extract_urls_canonicalization(spark):
    from data_pipeline_package_for_python_spark.operators.text import (
        extract_urls,
    )

    df = spark.createDataFrame(
        [(1, "see https://WWW.Example.com/A/b?utm=1#frag and "
             "http://example.com/a/b/ done")],
        "id long, text string",
    )
    out = {r["url_norm"] for r in extract_urls(df, "id", "text").collect()}
    # scheme/www/query/fragment/trailing-slash all stripped, lowercased
    assert out == {"example.com/a/b"}


def test_stratified_hash_sample_validates_and_drops_unknown(spark):
    import pytest as _pytest

    from data_pipeline_package_for_python_spark.operators.etl import (
        stratified_hash_sample,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(100)],
        "k long, s string",
    )
    out = stratified_hash_sample(df, "k", "s", {"a": 1.0}).collect()
    # stratum 'b' absent from fractions -> dropped entirely
    assert {r["s"] for r in out} == {"a"} and len(out) == 50
    with _pytest.raises(ValueError):
        stratified_hash_sample(df, "k", "s", {"a": 1.5})


def test_audio_energy_rejects_non_wav(spark):
    import pytest as _pytest

    from data_pipeline_package_for_python_spark.operators.multimodal import (
        audio_energy,
        pack_media,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"not a wav payload"))],
        "media_id long, payload binary",
    )
    media = pack_media(df, "media_id", "payload", modality="audio")
    with _pytest.raises(Exception):
        audio_energy(media, window=64).collect()


def test_substring_spans_planted_duplicate(spark):
    """A 60-char block shared by two docs must surface as one maximal
    span in each, covering exactly the duplicated region."""
    from data_pipeline_package_for_python_spark.operators.dedup import (
        duplicated_substring_spans,
    )

    shared = "X" * 10 + "the quick brown fox jumps over the lazy dog again" 
    a = "aaaa-unique-prefix-aaaa " + shared + " tail-a-" + "q" * 30
    b = "bbbb-other-prefix-bbbbbb " + shared + " tail-b-" + "z" * 30
    c = "totally unrelated text " + "r" * 60
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "id long, text string"
    )
    out = duplicated_substring_spans(
        docs, "id", "text", window_chars=40
    ).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(
            (r["span_start"], r["span_end"])
        )
    assert 3 not in by_id
    assert len(by_id[1]) == 1 and len(by_id[2]) == 1
    s1, e1 = by_id[1][0]
    # the span must cover the shared block inside doc 1
    start_in_a = a.index(shared) + 1
    assert s1 <= start_in_a and e1 >= start_in_a + len(shared) - 1
    # and must not extend into the unique prefix/suffix beyond a window
    assert s1 >= start_in_a - 40 and e1 <= start_in_a + len(shared) + 39


# --------------------------------------------------------------------- #
# bfs_distances / k_core / neighbor_jaccard (round-4 additions)         #
# --------------------------------------------------------------------- #

def test_bfs_path_graph_exact_distances(spark):
    from data_pipeline_package_for_python_spark.operators.graph import (
        bfs_distances,
    )

    # path 0-1-2-3-4 plus isolated pair 8-9; bidirect for traversal
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (8, 9)])
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = spark.createDataFrame([(0,)], "id long")
    out = {
        r["id"]: r["dist"]
        for r in bfs_distances(bidir, seeds, rounds=3).collect()
    }
    # rounds=3 reaches depth 3; node 4 and the 8-9 island stay NULL
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: None, 8: None, 9: None}


def test_bfs_multi_source_takes_nearest_seed(spark):
    from data_pipeline_package_for_python_spark.operators.graph import (
        bfs_distances,
    )

    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = spark.createDataFrame([(0,), (4,)], "id long")
    out = {
        r["id"]: r["dist"]
        for r in bfs_distances(bidir, seeds, rounds=4).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 1, 4: 0}


def test_bfs_isolated_seed_reports_dist_zero(spark):
    """A seed with no incident edge is part of the node universe and
    reports dist=0 (round-4 advice: it used to be silently dropped);
    the explicit seed_id parameter selects a non-first column."""
    from data_pipeline_package_for_python_spark.operators.graph import (
        bfs_distances,
    )

    e = _edges(spark, [(0, 1)])
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = spark.createDataFrame(
        [("x", 0), ("y", 42)], "tag string, node long"
    )
    out = {
        r["id"]: r["dist"]
        for r in bfs_distances(
            bidir, seeds, rounds=2, seed_id="node"
        ).collect()
    }
    assert out == {0: 0, 1: 1, 42: 0}


def test_k_core_peels_pendant_then_dependent(spark):
    from data_pipeline_package_for_python_spark.operators.graph import (
        k_core,
    )

    # triangle 0-1-2, chain 2-3-4: first peel drops 4 (deg 1); second
    # drops 3 (its degree fell to 1); the triangle is the stable 2-core
    e = _edges(spark, [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)])
    surv = sorted(r["id"] for r in k_core(e, 2, rounds=3).collect())
    assert surv == [0, 1, 2]
    # a single peel keeps node 3 (degree 2 before 4 vanished)
    one = sorted(r["id"] for r in k_core(e, 2, rounds=1).collect())
    assert one == [0, 1, 2, 3]


def test_neighbor_jaccard_square(spark):
    from data_pipeline_package_for_python_spark.operators.graph import (
        neighbor_jaccard,
    )

    # 4-cycle 0-1-2-3-0: opposite corners share BOTH neighbors
    # (jaccard 1.0, not an edge — the link-prediction signal);
    # adjacent corners share none.
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3)])
    rows = {
        (r["a"], r["b"]): (r["common"], r["jaccard_ppm"], r["is_edge"])
        for r in neighbor_jaccard(e).collect()
    }
    assert rows == {
        (0, 2): (2, 1_000_000, 0),
        (1, 3): (2, 1_000_000, 0),
    }


def test_neighbor_jaccard_wedge_cap_drops_hub_middles(spark):
    from data_pipeline_package_for_python_spark.operators.graph import (
        neighbor_jaccard,
    )

    # star: hub 0 with leaves 1..4 — every leaf pair co-wedges ONLY
    # through the hub, so capping degree<=3 erases all pairs
    e = _edges(spark, [(0, i) for i in range(1, 5)])
    assert neighbor_jaccard(e, max_wedge_degree=3).count() == 0
    assert neighbor_jaccard(e).count() == 6


def test_degree_assortativity_python_replay(spark, sf_dir):
    """r_num/r_den replays Newman's doubled-edge Pearson from first
    principles; a star graph must be perfectly disassortative (r=-1)."""
    from fractions import Fraction

    import duckdb

    from __spark_entry__ import queries

    r = queries()["graph_degree_assortativity"](
        spark, sf_dir
    ).collect()[0]
    edges = duckdb.connect().execute(
        f"""
        SELECT DISTINCT least(o_custkey % 100, o_orderkey % 100),
               greatest(o_custkey % 100, o_orderkey % 100)
        FROM '{sf_dir}/orders.parquet'
        WHERE (o_custkey % 100) <> (o_orderkey % 100)
        """
    ).fetchall()
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [(deg[a], deg[b]) for a, b in edges]
    xs += [(y, x) for x, y in xs]
    n = len(xs)
    sx = sum(x for x, _ in xs)
    sxx = sum(x * x for x, _ in xs)
    sxy = sum(x * y for x, y in xs)
    assert (r["n_directed_edges"], r["sx"], r["sxx"], r["sxy"]) == (
        n, sx, sxx, sxy,
    )
    assert r["r_num"] == n * sxy - sx * sx
    assert r["r_den"] == n * sxx - sx * sx
    assert abs(Fraction(r["r_num"], r["r_den"])) <= 1
