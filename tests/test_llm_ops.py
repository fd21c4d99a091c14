"""Operator-level tests for SURVEY §2.2.10 (dedup / text / similarity /
multimodal) — planted-duplicate recovery and independent Python/numpy
oracles, complementing the DuckDB differential checks in queries/llm.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pipeline_package_for_python_spark.operators import (
    dedup as D,
    multimodal as M,
    similarity as S,
    text as T,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while birds sing in the tall green trees every morning"
    )
    near = base.replace("green", "blue")  # 1-word edit => high jaccard
    far = "completely different words about spark shuffles and partitions"
    rows = [
        (0, base),
        (1, base),          # exact dup of 0
        (2, near),          # near dup of 0
        (3, far),
        (4, "tiny doc"),    # shorter than shingle width
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_planted(docs):
    out = D.exact_dedup(docs, "text", "doc_id").collect()
    by_keep = {r.keep_id: r.n_copies for r in out}
    assert by_keep[0] == 2          # docs 0 and 1 collapse
    assert len(out) == 4            # 5 docs -> 4 distinct contents
    assert sum(by_keep.values()) == 5


def test_short_doc_shingles_no_crash(docs):
    sh = D.word_shingles(docs, "doc_id", "text", 3)
    rows = sh.filter(F.col("id") == 4).collect()
    assert [r.shingle for r in rows] == ["tiny doc"]


def test_jaccard_finds_near_dup(docs):
    pairs = D.jaccard_similar_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert got[(0, 1)] == 1.0                     # exact dup
    assert 0.5 <= got[(0, 2)] < 1.0               # near dup
    assert not any(3 in p or 4 in p for p in got)


def test_jaccard_default_cap_equals_uncapped_under_cap(docs):
    """Law: on a corpus where no shingle's frequency exceeds the default
    cap, the capped (default) result is EXACTLY the uncapped one — the
    safer default changes nothing for legitimate inputs."""
    capped = {
        tuple(r)
        for r in D.jaccard_similar_pairs(
            docs, "doc_id", "text", n=3, threshold=0.1
        ).collect()
    }
    uncapped = {
        tuple(r)
        for r in D.jaccard_similar_pairs(
            docs, "doc_id", "text", n=3, threshold=0.1,
            max_shingle_freq=None,
        ).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_jaccard_cap_drops_stop_shingle_blowup(spark):
    """Adversarial fixture: identical short docs.  Every shingle has
    corpus frequency n_dup, so a cap below n_dup drops them all and the
    quadratic self-join produces nothing; uncapped (explicit opt-out)
    still finds all N(N-1)/2 pairs."""
    n_dup = 12
    rows = [(i, "same short doc text repeated everywhere")
            for i in range(n_dup)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.jaccard_similar_pairs(
        df, "doc_id", "text", n=3, threshold=0.5,
        max_shingle_freq=n_dup - 1,
    ).count()
    uncapped = D.jaccard_similar_pairs(
        df, "doc_id", "text", n=3, threshold=0.5,
        max_shingle_freq=None,
    ).count()
    assert capped == 0
    assert uncapped == n_dup * (n_dup - 1) // 2


def test_jaccard_cap_is_lower_bound_and_warns(spark):
    """Laws for the capped tier (r7 advice): (1) an active cap emits a
    RuntimeWarning; (2) because n_a/n_b are computed PRE-cap, every
    reported capped jaccard is ≤ the uncapped truth for that pair —
    capping can miss pairs but never inflate one over the threshold."""
    import warnings

    # 6 docs share a stop-shingle-heavy prefix (freq 6 > cap 5) plus a
    # distinct tail; pairs overlap only in the capped-out prefix.
    rows = [
        (i, f"common stop prefix words here tail{i} unique{i} end{i}")
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        capped = D.jaccard_similar_pairs(
            df, "doc_id", "text", n=3, threshold=0.0,
            max_shingle_freq=5,
        )
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "lower bound" in str(w.message)
            for w in rec
        )
        # Uncapped never warns.
        rec.clear()
        uncapped_df = D.jaccard_similar_pairs(
            df, "doc_id", "text", n=3, threshold=0.0,
            max_shingle_freq=None,
        )
        assert not rec
    truth = {
        (r.id_a, r.id_b): (r.jaccard, r.n_a, r.n_b)
        for r in uncapped_df.collect()
    }
    for r in capped.collect():
        t_j, t_a, t_b = truth[(r.id_a, r.id_b)]
        assert r.jaccard <= t_j + 1e-12          # strict lower bound
        assert (r.n_a, r.n_b) == (t_a, t_b)      # sizes stay exact


def test_minhash_lsh_recovers_planted_pair(docs):
    verified = D.near_dedup_minhash(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in verified}
    assert (0, 1) in found
    assert (0, 2) in found  # 1-word edit survives 4x4 banding


def test_lsh_band_freq_cap_bounds_degenerate_bucket(spark):
    """Adversarial fixture: a corpus of IDENTICAL short docs.  Every doc
    lands in the same bucket for every band, so uncapped LSH re-creates
    the all-pairs join (N²/2 candidates).  With ``max_band_freq`` below
    the corpus size the degenerate buckets are dropped and the candidate
    set is empty; a small legitimate cluster under the cap survives."""
    n_dup = 40
    rows = [(i, "same short doc text repeated everywhere") for i in range(n_dup)]
    rows += [(100, "a unique document about spark adaptive execution"),
             (101, "a unique document about spark adaptive executions")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = D.minhash_signatures(df, "doc_id", "text", n=3, num_hashes=16)
    uncapped = D.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    capped = D.lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=4, max_band_freq=10
    )
    assert uncapped.count() >= n_dup * (n_dup - 1) // 2
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    # degenerate bucket gone, small legit cluster (2 docs) survives
    assert all(a >= 100 for a, _ in capped_pairs)
    assert len(capped_pairs) <= 1
    # end-to-end pass-through
    verified = D.near_dedup_minhash(
        df, "doc_id", "text", n=3, num_hashes=16, bands=4,
        threshold=0.5, max_band_freq=10,
    )
    assert all(r.id_a >= 100 for r in verified.collect())
    verified.sig_cache.unpersist()


def test_simhash_identical_docs_identical_bits(docs):
    fp = {r.id: (r.simhash_hi, r.simhash_lo)
          for r in D.simhash64(docs, "doc_id", "text").collect()}
    assert fp[0] == fp[1]
    # near-dup hamming distance small, unrelated doc large
    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")
    assert ham(fp[0], fp[2]) < ham(fp[0], fp[3])


def test_hyperplane_buckets_deterministic_and_balanced(spark, tables):
    emb = tables["embeddings"]
    b1 = S.hyperplane_buckets(emb, dim=64, n_bits=6, seed=42)
    b2 = S.hyperplane_buckets(emb, dim=64, n_bits=6, seed=42)
    rows1 = {r.vec_id: r.bucket for r in b1.collect()}
    rows2 = {r.vec_id: r.bucket for r in b2.collect()}
    assert rows1 == rows2                      # seed-deterministic
    occupancy = {}
    for b in rows1.values():
        occupancy[b] = occupancy.get(b, 0) + 1
    # 500 vectors over 64 buckets: no bucket may swallow the corpus
    # (axis-aligned quantizers degenerate exactly this way when leading
    # dims are correlated).
    assert max(occupancy.values()) < len(rows1) * 0.25


def test_hyperplane_topk_recall_vs_exact(spark, tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.hyperplane_topk(
            emb, queries, k=3, dim=64, n_bits=4, seed=42
        ).collect()
    }
    # 4-bit buckets keep ~1/16 of the corpus per bucket; near-orthogonal
    # fixture vectors make exact-match recall noisy, so assert the sane
    # floor (non-empty, all pairs plausible) + precision of re-ranking:
    # every approx pair's cosine is exact by construction, so any overlap
    # with the exact set must agree on rank-1-by-construction ordering.
    assert approx, "hyperplane topk returned nothing"
    assert len(approx & exact) > 0


def test_ivf_topk_structure_and_recall(spark, tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    # inverted file: every corpus vector in exactly one cell
    cents = S._stride_centroids(emb, "vec_id", "embedding", 40)
    inv = S.ivf_assign(emb, cents, n_probe=1)
    assert inv.count() == emb.count()
    assert inv.select("vec_id").distinct().count() == emb.count()
    # more probes can only widen the candidate set → recall monotone
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }
    def recall(n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_topk(
                emb, queries, k=3, centroid_stride=40, n_probe=n_probe
            ).collect()
        }
        return len(got & exact)
    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 > 0


def test_ivf_assign_nprobe1_agg_equals_window_path(spark, tables):
    """Law for the r9 inverted-file build fast path: n_probe=1 uses a
    max_by hash aggregate (shuffle = |df| rows, map-side combined)
    instead of the row_number window (shuffle = |df|×|centroids| scored
    rows); assignments — including the sim-then-smallest-cell tie-break
    — must be IDENTICAL, and the plan must carry no window exchange."""
    emb = tables["embeddings"]
    cents = S._stride_centroids(emb, "vec_id", "embedding", 40)
    fast = S.ivf_assign(emb, cents, n_probe=1)
    # reference: the window path, via n_probe=2 filtered to rank 1
    # (same ordering logic, no fast path)
    slow = S.ivf_assign(emb, cents, n_probe=2).filter(
        F.col("cell_rank") == 1
    )
    f = {(r.vec_id, r.cell) for r in fast.collect()}
    s = {(r.vec_id, r.cell) for r in slow.collect()}
    assert f == s
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # array-typed any_value forces SortAggregate (not hash-aggregable);
    # it still runs Partial -> Final, so the exchange carries |df| rows
    assert "Aggregate" in plan


def test_ivf_trained_build_recall_and_structure(spark, tables):
    """r10 trained-codebook tier: same (cents, inv) contract as
    ivf_build, inverted file is a partition of the corpus, recall at
    n_probe=4 is at least the stride codebook's (data-aware centroids
    may only help on the clustered fixture) and non-trivial."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cents, inv = S.ivf_build_trained(emb, cells=32, lloyd_rounds=2)
    n = emb.count()
    assert inv.count() == n
    assert inv.select("neighbor_id").distinct().count() == n
    assert cents.count() <= 32
    # every cell id in the inverted file exists in the centroid frame
    cell_ids = {r.cell_id for r in cents.collect()}
    assert {r.cell for r in inv.select("cell").distinct().collect()} <= cell_ids

    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(
            emb, queries, k=3, n_probe=4, prebuilt=(cents, inv)
        ).collect()
    }
    # real recall floor, not mere non-emptiness: the published serving
    # claim for this tier is recall@10 = 0.99 at n_probe=8; at n_probe=4
    # on the clustered fixture a regression to near-random recall must
    # fail here (r10 advice: len>0 would have passed at ~1%)
    recall = len(got & exact) / max(len(exact), 1)
    assert recall >= 0.5, f"trained-IVF recall@3 n_probe=4 = {recall}"
    # structural law: one cell per corpus vector → no duplicate pairs
    assert len(got) == len(set(got))


def test_ivf_codebook_assign_matches_relational_assign(spark, tables):
    """The map-only Arrow matmul-argmax assignment must agree with the
    relational ivf_assign path on the same codebook (both argmax cosine
    with ties toward the lower cell id).  Scores differ only in float
    summation order, so allow no disagreements on the fixture (vectors
    are nowhere near tie territory)."""
    emb = tables["embeddings"]
    cents = S.ivf_train_centroids(emb, cells=16, lloyd_rounds=1)
    fast = {
        (r.vec_id, r.cell)
        for r in S.ivf_assign_codebook(emb, cents.codebook).collect()
    }
    slow = {
        (r.vec_id, r.cell)
        for r in S.ivf_assign(emb, cents, n_probe=1).collect()
    }
    agree = len(fast & slow) / max(len(slow), 1)
    assert agree >= 0.995, f"codebook/relational assign agreement {agree}"


def test_ivf_train_centroids_deterministic_and_balanced(spark, tables):
    """Training twice on the same corpus yields the identical codebook
    (hash-sample + numpy Lloyd are pure functions of the data), and the
    trained cells are no more skewed than the stride cells."""
    emb = tables["embeddings"]
    c1 = S.ivf_train_centroids(emb, cells=16, lloyd_rounds=2)
    c2 = S.ivf_train_centroids(emb, cells=16, lloyd_rounds=2)
    assert np.array_equal(c1.codebook, c2.codebook)

    _, inv_t = S.ivf_build_trained(emb, cells=16, lloyd_rounds=2)
    stats_t = S.ivf_cell_stats(inv_t)
    assert stats_t["total"] == emb.count()
    assert stats_t["cells"] <= 16
    assert stats_t["max_over_mean"] >= 1.0

    cents_s = S._stride_centroids(emb, "vec_id", "embedding",
                                  max(1, emb.count() // 16))
    inv_s = S.ivf_assign(emb, cents_s, n_probe=1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    stats_s = S.ivf_cell_stats(inv_s)
    # data-aware training should not be WORSE than data-blind stride
    # seeds on the clustered fixture (allow a small tolerance band)
    assert stats_t["max_over_mean"] <= stats_s["max_over_mean"] * 1.25, (
        stats_t, stats_s,
    )


def test_ivf_balance_rounds_reduce_skew_and_stay_deterministic(
    spark, tables
):
    """r11 split/steal rebalance: balancing must never INCREASE cell
    skew relative to the unbalanced (r10) codebook, must remain a pure
    function of the data (train twice → identical codebook), and must
    keep recall at the serving point."""
    emb = tables["embeddings"]
    b1 = S.ivf_train_centroids(emb, cells=16, lloyd_rounds=2,
                               balance_rounds=2)
    b2 = S.ivf_train_centroids(emb, cells=16, lloyd_rounds=2,
                               balance_rounds=2)
    assert np.array_equal(b1.codebook, b2.codebook)

    _, inv_u = S.ivf_build_trained(emb, cells=16, lloyd_rounds=2,
                                   balance_rounds=0)
    _, inv_b = S.ivf_build_trained(emb, cells=16, lloyd_rounds=2,
                                   balance_rounds=2)
    sk_u = S.ivf_cell_stats(inv_u)["max_over_mean"]
    sk_b = S.ivf_cell_stats(inv_b)["max_over_mean"]
    assert sk_b <= sk_u * 1.05, (sk_b, sk_u)

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }
    cents_b, invf = S.ivf_build_trained(emb, cells=16, lloyd_rounds=2,
                                        balance_rounds=2)
    got = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(emb, queries, k=3, n_probe=4,
                            prebuilt=(cents_b, invf)).collect()
    }
    recall = len(got & exact) / max(len(exact), 1)
    assert recall >= 0.5, f"balanced recall@3 n_probe=4 = {recall}"


def test_ivf_train_centroids_validates_inputs(spark, tables):
    emb = tables["embeddings"]
    with pytest.raises(ValueError):
        S.ivf_train_centroids(emb, cells=True)
    with pytest.raises(ValueError):
        S.ivf_train_centroids(emb, cells="lots")
    with pytest.raises(ValueError):
        S.ivf_train_centroids(emb, sample_per_cell=0)
    with pytest.raises(ValueError):
        S.ivf_train_centroids(emb.filter(F.lit(False)))


def test_codebook_broadcast_cached_and_released(spark, tables):
    """r11 lifecycle: two assignment passes over the SAME codebook must
    share one Spark broadcast (no per-call accumulation — the leak
    class BloomSketch.release() closed for bloom bitmaps), and
    release_codebook_broadcasts() must destroy and empty the cache."""
    from data_pipeline_package_for_python_spark.operators.similarity import (
        _CODEBOOK_BC_CACHE,
    )

    S.release_codebook_broadcasts()
    emb = tables["embeddings"]
    cents = S.ivf_train_centroids(emb, cells=8, lloyd_rounds=1)
    S.ivf_assign_codebook(emb, cents.codebook).count()
    assert len(_CODEBOOK_BC_CACHE) == 1
    bc_first = next(iter(_CODEBOOK_BC_CACHE.values()))
    S.ivf_assign_codebook(emb, cents.codebook).count()
    assert len(_CODEBOOK_BC_CACHE) == 1, "same codebook → same broadcast"
    assert next(iter(_CODEBOOK_BC_CACHE.values())) is bc_first
    # a different codebook gets its own entry
    cents2 = S.ivf_train_centroids(emb, cells=4, lloyd_rounds=1)
    S.ivf_assign_codebook(emb, cents2.codebook).count()
    assert len(_CODEBOOK_BC_CACHE) == 2
    released = S.release_codebook_broadcasts()
    assert released == 2
    assert len(_CODEBOOK_BC_CACHE) == 0
    # assignment still works after release (fresh broadcast is minted)
    assert S.ivf_assign_codebook(emb, cents.codebook).count() == emb.count()
    S.release_codebook_broadcasts()


def test_jvm_image_tier_matches_python_codec(spark, tmp_path):
    """r11 throughput tier: Spark's JVM image source (Java ImageIO) must
    decode the pure-Python encoder's baseline JPEGs with byte-exact
    DIMENSIONS and pixels within ±2/channel of the oracle-tier decode
    (ISO/IEC 10918 bounds IDCT error — conformant decoders differ in
    the last LSBs, so bit-equality is deliberately not the contract
    for lossy JPEG).  PNG, lossless, must roundtrip byte-exact."""
    import numpy as np

    from data_pipeline_package_for_python_spark.operators.jpeg import (
        jpeg_encode,
        jpeg_parse,
    )
    from data_pipeline_package_for_python_spark.operators.multimodal import (
        bgr_to_rgb,
        png_encode,
        read_images_jvm,
    )

    d = tmp_path / "imgs"
    d.mkdir()
    srcs = {}
    for doc in range(6):
        w, h = 9 + doc % 7, 6 + doc % 5
        i = np.arange(w * h * 3, dtype=np.int64)
        src = (
            (doc * 31 + (i // (w * 3)) * 17 + ((i % (w * 3)) // 3) * 7
             + (i % 3) * 3) % 256
        ).astype(np.uint8)
        srcs[f"d{doc}.jpg"] = (w, h, src)
        (d / f"d{doc}.jpg").write_bytes(
            jpeg_encode(w, h, src.tobytes(), restart_interval=3)
        )
    # one lossless PNG in the same dir: byte-exact through ImageIO
    wp, hp = 8, 5
    ip = np.arange(wp * hp * 3, dtype=np.int64)
    png_src = ((ip * 37 + 11) % 256).astype(np.uint8)
    (d / "p0.png").write_bytes(png_encode(wp, hp, png_src.tobytes()))

    got = bgr_to_rgb(read_images_jvm(spark, d.as_posix())).collect()
    assert len(got) == 7
    for r in got:
        name = r.origin.rsplit("/", 1)[-1]
        jvm = np.frombuffer(bytes(r.rgb), np.uint8).astype(np.int64)
        if name == "p0.png":
            assert (r.width, r.height) == (wp, hp)
            assert np.array_equal(jvm, png_src.astype(np.int64))
            continue
        w, h, src = srcs[name]
        assert (r.width, r.height) == (w, h), name
        assert r.n_channels == 3 and r.mode == 16
        _, _, out = jpeg_parse(
            jpeg_encode(w, h, src.tobytes(), restart_interval=3)
        )
        py = np.frombuffer(out, np.uint8).astype(np.int64)
        assert np.abs(jvm - py).max() <= 2, name
        assert np.abs(jvm - src.astype(np.int64)).max() <= 4, name


def test_read_images_jvm_drop_invalid(spark, tmp_path):
    """The quarantine posture: a corrupt payload in the corpus is
    skipped under dropInvalid, not fatal to the scan."""
    import numpy as np

    from data_pipeline_package_for_python_spark.operators.jpeg import (
        jpeg_encode,
    )
    from data_pipeline_package_for_python_spark.operators.multimodal import (
        read_images_jvm,
    )

    d = tmp_path / "imgs"
    d.mkdir()
    src = (np.arange(6 * 4 * 3) % 256).astype(np.uint8)
    (d / "ok.jpg").write_bytes(jpeg_encode(6, 4, src.tobytes()))
    (d / "broken.jpg").write_bytes(b"\xff\xd8not really a jpeg")
    got = read_images_jvm(spark, d.as_posix()).collect()
    assert len(got) == 1
    assert got[0].origin.endswith("ok.jpg")


def test_resize_and_frame_sample_roundtrip(spark):
    rows = [(1, b"x" * 200), (2, b"short"), (3, b"")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    media = M.pack_media(df, "doc_id", "payload")
    # resize: output bounded by width*height regardless of input size
    thumbs = {r.media_id: r for r in
              M.resize_media(media, width=4, height=4, fake=True).collect()}
    assert len(bytes(thumbs[1].thumb)) == 16
    assert len(bytes(thumbs[2].thumb)) == 5
    assert thumbs[3].meta.n_bytes == 0
    # frame sampling: chunks reassemble to the original payload; empty
    # payloads still yield one (empty) frame; max_frames caps expansion
    frames = M.sample_frames(media, frame_bytes=64, fake=True).collect()
    by_id = {}
    for r in sorted(frames, key=lambda r: (r.media_id, r.frame_idx)):
        by_id.setdefault(r.media_id, b"")
        by_id[r.media_id] += bytes(r.frame)
    assert by_id[1] == b"x" * 200
    assert by_id[2] == b"short"
    assert by_id[3] == b""
    capped = M.sample_frames(
        media, frame_bytes=16, max_frames=2, fake=True
    ).collect()
    assert max(r.frame_idx for r in capped) == 1

def test_ppm_real_codec_roundtrip(spark):
    # 2×2 image: pixels (r,g,b) = (10k, 10k+1, 10k+2) for k = y*2+x
    rgb = bytes(
        v for k in range(4) for v in (10 * k, 10 * k + 1, 10 * k + 2)
    )
    img = M.ppm_encode(2, 2, rgb)
    w, h, po, pl = M.ppm_parse(img)
    assert (w, h) == (2, 2) and img[po : po + pl] == rgb
    df = spark.createDataFrame([(1, img)], "doc_id long, payload binary")
    media = M.pack_media(df, "doc_id", "payload")
    # upscale 2×2 → 4×4 nearest-neighbor: src = (dst * 2) // 4 = dst // 2
    thumb = bytes(
        M.resize_media(media, width=4, height=4, fake=False)
        .collect()[0]
        .thumb
    )
    tw, th, tpo, tpl = M.ppm_parse(thumb)
    assert (tw, th) == (4, 4)
    pix = thumb[tpo:]
    for ty in range(4):
        for tx in range(4):
            k = (ty // 2) * 2 + (tx // 2)
            got = pix[(ty * 4 + tx) * 3 : (ty * 4 + tx) * 3 + 3]
            assert got == bytes((10 * k, 10 * k + 1, 10 * k + 2))
    # container of two frames with different dims → exact re-slicing
    img2 = M.ppm_encode(1, 3, bytes(range(9)))
    vid = spark.createDataFrame(
        [(7, img + img2)], "doc_id long, payload binary"
    )
    frames = sorted(
        M.sample_frames(
            M.pack_media(vid, "doc_id", "payload"), fake=False
        ).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [bytes(r.frame) for r in frames] == [img, img2]
    # max_frames caps the walk without reading past the cap
    capped = M.sample_frames(
        M.pack_media(vid, "doc_id", "payload"), max_frames=1, fake=False
    ).collect()
    assert len(capped) == 1 and bytes(capped[0].frame) == img
    # corrupt payloads fail loudly in the task, not silently
    bad = spark.createDataFrame(
        [(9, b"JFIF garbage")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="P6"):
        M.resize_media(
            M.pack_media(bad, "doc_id", "payload"),
            width=2, height=2, fake=False,
        ).collect()


def test_fingerprints_order_sensitivity(spark):
    rows = [(0, "alpha beta gamma"), (1, "gamma beta alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bag = {r.id: r.vocab_fingerprint
           for r in T.doc_fingerprint(df, "doc_id", "text").collect()}
    roll = {r.id: r.rolling_hash
            for r in T.rolling_hash_fingerprint(df, "doc_id", "text").collect()}
    assert bag[0] == bag[1]        # bag fingerprint ignores order
    assert roll[0] != roll[1]      # rolling hash is order-sensitive


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat with the hat"), (1, "a b")],
        "doc_id long, text string",
    )
    q = {r.id: r for r in T.quality_score(df, "doc_id", "text").collect()}
    assert q[0].n_words == 9 and q[0].quality_bucket == "natural"
    assert q[1].quality_bucket == "too_short"
    t = {r.id: r for r in T.token_counts(df, "doc_id", "text").collect()}
    assert t[0].ws_tokens == 9
    assert t[0].lex_tokens == 9    # pure letter words


def test_cosine_topk_matches_numpy(spark, tables):
    emb = tables["embeddings"]
    out = S.cosine_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=3
    ).collect()
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    for qid in [r.vec_id for r in rows if r.vec_id % 100 == 0]:
        qv = vecs[qid]
        sims = sorted(
            (
                (-(qv @ v) / (np.linalg.norm(qv) * np.linalg.norm(v)), nid)
                for nid, v in vecs.items()
                if nid != qid
            ),
        )[:3]
        expect = [nid for _, nid in sims]
        got = [r.neighbor_id for r in sorted(
            (r for r in out if r.query_id == qid), key=lambda r: r.rank)]
        assert got == expect, f"query {qid}: {got} != {expect}"


def test_bucketed_topk_is_bucket_restricted(spark, tables):
    emb = tables["embeddings"]
    out = S.bucketed_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=3, n_bits=4
    ).collect()
    buckets = {
        r[0]: r[1]
        for r in S.sign_buckets(emb).select("vec_id", "bucket").collect()
    }
    assert out, "bucketed search returned nothing"
    for r in out:
        assert buckets[r.query_id] == buckets[r.neighbor_id]
        assert r.rank >= 1


def test_multimodal_roundtrip(spark):
    df = spark.createDataFrame(
        [(0, "hello world"), (1, "hello world"), (2, "bye")],
        "doc_id long, text string",
    )
    media = M.pack_media(df, "doc_id", "text", modality="text")
    fp = M.media_fingerprint(media).collect()
    shas = {r.media_id: r.content_sha for r in fp}
    assert shas[0] == shas[1] != shas[2]
    assert {r.n_bytes for r in fp} == {11, 3}

    with pytest.raises(NotImplementedError):
        M.decode_media(media).collect()

    feats = {r.media_id: r for r in M.decode_media(media, fake=True).collect()}
    assert feats[0].features == M._fake_decode(b"hello world")
    assert len(feats[0].features) == M.FEATURE_DIM
    assert abs(sum(feats[0].features) - 1.0) < 1e-9

    summary = {r.media_id: r for r in M.media_features(media).collect()}
    py = M._fake_decode(b"hello world")
    assert summary[0].f_max == max(py)
    assert summary[0].f_argmax == py.index(max(py)) + 1


def test_cosine_near_dup_pairs_planted(spark):
    # v1 ~ v0 (cosine ~0.999), v2 orthogonal-ish, v3 in a different
    # sign-bucket from v0/v1 (negative leading dims).
    rows = [
        (0, [1.0, 0.5, 0.25, 0.8, 0.1]),
        (1, [1.01, 0.49, 0.26, 0.79, 0.11]),
        (2, [0.9, -2.0, 3.0, 0.0, -1.0]),
        (3, [-1.0, -0.5, -0.25, -0.8, -0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.cosine_near_dup_pairs(df, threshold=0.95, n_bits=4).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert out[0].cosine > 0.99
    # v3 is anti-parallel to v0 (cosine -1): correctly NOT a near-dup,
    # and its bucket differs so it is never even scored.
    all_pairs = S.cosine_near_dup_pairs(df, threshold=-2.0, n_bits=4)
    assert (3,) not in {
        (r.id_a,) for r in all_pairs.collect()
    } or all(r.id_a != 0 or r.id_b != 3 for r in all_pairs.collect())


# ------------------------------------------------------------------ #
# incremental dedup / bloom sketch                                   #
# ------------------------------------------------------------------ #


def test_bloom_no_false_negatives_and_fpp_bound(spark):
    keys = spark.range(0, 2000).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    sketch = D.build_bloom(keys, "k", expected_items=2000, fpp=0.01)
    # every inserted key must probe true (bloom contract: no false negatives)
    hits = keys.filter(~D.bloom_member(sketch, F.col("k"))).count()
    assert hits == 0
    # disjoint keys: false-positive rate within ~3x of the configured fpp
    other = spark.range(10_000, 14_000).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    fp = other.filter(D.bloom_member(sketch, F.col("k"))).count()
    assert fp / 4000 < 0.03


def test_bloom_bitmap_broadcast_cached_per_session(spark):
    """The probe ships the bitmap as a SparkContext.broadcast created
    ONCE per (sketch, session) and reused by every later probe stage —
    the UDF closure carries only the handle (r9: a 100 TB ingest run
    probes many batches against one epoch sketch; closure capture
    would re-ship ~120 MB per stage)."""
    keys = spark.range(0, 500).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    sketch = D.build_bloom(keys, "k", expected_items=500, fpp=0.01)
    assert getattr(sketch, "_bc", None) is None
    assert keys.filter(~D.bloom_member(sketch, F.col("k"))).count() == 0
    app_id, bc1 = sketch._bc
    assert app_id == spark.sparkContext.applicationId
    # second probe: same broadcast object, still correct
    assert keys.filter(~D.bloom_member(sketch, F.col("k"))).count() == 0
    assert sketch._bc[1] is bc1


def test_bloom_broadcast_stale_session_freed_and_release(spark):
    """r10 leak fix: exactly ONE live bitmap broadcast per sketch per
    ACTIVE session — a handle cached under a retired applicationId is
    unpersisted+destroyed when the sketch is re-probed in a new session
    (simulated via a recording stand-in; a real second JVM session is
    too heavy for unit scope), and sketch.release() frees the live one
    for epoch rotation."""
    keys = spark.range(0, 100).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    sketch = D.build_bloom(keys, "k", expected_items=100, fpp=0.01)

    class FakeBroadcast:
        def __init__(self):
            self.unpersisted = False
            self.destroyed = False
        def unpersist(self, blocking=False):
            self.unpersisted = True
        def destroy(self):
            self.destroyed = True

    stale = FakeBroadcast()
    sketch._bc = ("app-from-a-previous-session", stale)
    bc = D._sketch_broadcast(sketch)
    assert stale.unpersisted and stale.destroyed
    assert bc is not stale
    assert sketch._bc[0] == spark.sparkContext.applicationId
    # probes still correct through the fresh broadcast
    assert keys.filter(~D.bloom_member(sketch, F.col("k"))).count() == 0

    live = FakeBroadcast()
    sketch._bc = (spark.sparkContext.applicationId, live)
    sketch.release()
    assert live.unpersisted and live.destroyed
    assert sketch._bc is None
    sketch.release()  # idempotent on an already-released sketch


def test_incremental_dedup_exact_with_and_without_prefilter(spark):
    seen = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "id long, text string"
    )
    # 50 repeats of seen content + 50 novel docs
    new = spark.createDataFrame(
        [(1000 + i, f"doc {i}") for i in range(50)]
        + [(2000 + i, f"novel {i}") for i in range(50)],
        "id long, text string",
    )
    plain = D.incremental_dedup(new, seen, "text")
    assert sorted(r.id for r in plain.collect()) == [
        2000 + i for i in range(50)
    ]
    sketch = D.build_bloom(
        seen.select(F.md5("text").alias("d")), "d",
        expected_items=1000, fpp=0.01,
    )
    pre = D.incremental_dedup(new, seen, "text", prefilter=sketch)
    assert sorted(r.id for r in pre.collect()) == [
        2000 + i for i in range(50)
    ]


def test_stratified_sample_bounds(spark, tables):
    o = tables["orders"]
    totals = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    sampled = o.sampleBy(
        "o_orderstatus", fractions={"O": 0.1, "F": 0.1, "P": 1.0}, seed=42
    )
    got = {
        r["o_orderstatus"]: r["n"]
        for r in sampled.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # full stratum kept exactly; downsampled strata within loose Bernoulli
    # bounds around 10%
    assert got["P"] == totals["P"]
    for s in ("O", "F"):
        assert 0.02 * totals[s] < got[s] < 0.25 * totals[s]


# ------------------------------------------------------------------ #
# pii redaction / decontamination / sequence packing                  #
# ------------------------------------------------------------------ #


def test_tfidf_and_vocab_encode(spark):
    df = spark.createDataFrame(
        [
            (0, "cat sat on the mat"),
            (1, "cat cat dog"),
            (2, "the dog ran"),
        ],
        "doc_id long, text string",
    )
    tfidf = {
        (r.id, r.term): (r.tf, r.df, r.n_docs, r.tfidf)
        for r in T.tf_idf(df, "doc_id", "text").collect()
    }
    assert tfidf[(1, "cat")] == (2, 2, 3, 3.0)   # 2 * 3 / 2
    assert tfidf[(0, "mat")] == (1, 1, 3, 3.0)
    assert tfidf[(2, "the")] == (1, 2, 3, 1.5)

    vocab = T.build_vocab(df, "text", size=3)
    # cat tf=3; dog/the tf=2 tie -> lexicographic
    assert [(r.term, r.token_id) for r in vocab.orderBy("token_id").collect()] \
        == [("cat", 0), ("dog", 1), ("the", 2)]

    enc = T.encode_as_vocab_ids(df, "doc_id", "text", vocab)
    got = {r.id: r for r in enc.collect()}
    assert got[1].token_ids == "0 0 1" and got[1].n_oov == 0
    assert got[0].token_ids == "0 -1 -1 2 -1" and got[0].n_oov == 3
    # encode is map-only: no exchange anywhere in the plan
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_kmeans_recovers_planted_blobs(spark):
    import itertools

    # 3 well-separated blobs in 8-d; k-means must recover the exact
    # partition regardless of init details, and keep it over more
    # iterations than it needs to converge
    rows = []
    for b, base in enumerate([10.0, -10.0, 30.0]):
        for i in range(20):
            vec = [base + ((i * 7 + d) % 5) * 0.1 for d in range(8)]
            rows.append((b * 100 + i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.kmeans_embeddings_exact(df, k=3, iterations=10).collect()
    by_blob = {}
    for r in got:
        by_blob.setdefault(r["vec_id"] // 100, set()).add(r["cluster"])
    # every blob maps to exactly one cluster, and the clusters differ
    assert all(len(cs) == 1 for cs in by_blob.values())
    assert len(set(itertools.chain(*by_blob.values()))) == 3


def test_kmeans_partition_and_determinism(spark, tables):
    emb = tables["embeddings"]
    a = S.kmeans_embeddings_exact(emb, k=8, iterations=4)
    b = S.kmeans_embeddings_exact(emb, k=8, iterations=4)
    rows_a = sorted(map(tuple, a.collect()))
    assert rows_a == sorted(map(tuple, b.collect()))  # bit-reproducible
    assert len(rows_a) == emb.count()  # total partition, no drops
    assert {c for _, c in rows_a} <= set(range(8))


def test_repetition_stats_planted(spark):
    df = spark.createDataFrame(
        [
            (0, "same line\nsame line\nsame line\nother"),   # dup lines
            (1, "ab cd ab cd ab cd ab cd ab xx yy zz qq"),   # dup 2-grams
            (2, "spam spam spam eggs and ham on toast"),     # word dominance
            (3, "a perfectly ordinary varied sentence here"),
            (4, "word"),                                     # 1 word, no 2-grams
        ],
        "doc_id long, text string",
    )
    got = {r.id: r for r in T.repetition_stats(df, "doc_id", "text").collect()}
    assert got[0].n_lines == 4 and got[0].dup_line_fraction == 0.5
    assert got[0].repetition_bucket == "dup_lines"
    # doc 1: 13 tokens -> 12 2-grams, distinct = {ab cd, cd ab, ab xx,
    # xx yy, yy zz, zz qq} = 6 -> fraction 0.5 is NOT > 0.5; dominance:
    # 'ab' x5 / 13 words
    assert got[1].dup_2gram_fraction == 0.5
    assert got[1].repetition_bucket == "word_dominance"
    assert got[2].top_word_fraction == 3 / 8
    assert got[2].repetition_bucket == "word_dominance"
    assert got[3].repetition_bucket == "keep"
    assert got[4].dup_2gram_fraction == 0.0 and got[4].top_word_fraction == 1.0


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [
            (0, "mail me at alice.smith+x@corp.example.com today"),
            (1, "call +1 (555) 123-4567 or 555 010 9999 now"),
            (2, "server at 192.168.10.255 is down"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.id: r for r in T.redact_pii(df, "doc_id", "text").collect()}
    assert "<EMAIL>" in got[0].clean_text and got[0].n_redactions == 1
    assert got[1].clean_text.count("<PHONE>") == 2
    assert "<IP>" in got[2].clean_text
    assert got[3].clean_text == "no pii here at all"
    assert got[3].n_redactions == 0


def test_decontaminate_planted(spark):
    bench = spark.createDataFrame(
        [(0, "the capital of france is paris obviously")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "we know the capital of france is paris for sure"),
            (11, "completely unrelated text about spark joins"),
        ],
        "doc_id long, text string",
    )
    flagged = T.decontaminate(
        corpus, bench, "doc_id", "text", n=3, min_overlap=2
    ).collect()
    assert [(r.id, r.bench_id) for r in flagged] == [(10, 0)]
    assert flagged[0].n_shared >= 2


def test_pack_sequences_chunk_law(spark, tables):
    docs = tables["documents"]
    packed = T.pack_sequences(docs, "doc_id", "text", max_tokens=32)
    rows = packed.collect()
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.id].append(r)
    n_words = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        # all chunks full except possibly the last; tokens partition the doc
        assert all(c.n_tokens == 32 for c in chunks[:-1])
        assert sum(c.n_tokens for c in chunks) == n_words[doc]
        # reassembling the chunks reproduces the document token stream
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))


def test_remove_boilerplate_line_mode(spark):
    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nreal content one\nfooter"),
            (2, "COOKIE BANNER\nunique text here\nfooter"),
            (3, "COOKIE BANNER\nmore original prose"),
            (4, "COOKIE BANNER\nfooter"),  # fully boilerplate
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r
        for r in T.remove_boilerplate(
            docs, "doc_id", "text", unit="line", min_doc_frac=0.75
        ).collect()
    }
    # banner in 4/4 docs, footer in 3/4 (= 0.75) -> both removed
    assert out[1].clean_text == "real content one"
    assert out[2].clean_text == "unique text here"
    assert out[3].clean_text == "more original prose"
    assert out[4].clean_text is None and out[4].n_kept == 0
    assert out[1].n_removed == 2 and out[4].n_removed == 2


def test_remove_boilerplate_preserves_order(spark):
    docs = spark.createDataFrame(
        [(1, "keep1 DROP keep2 DROP keep3"), (2, "DROP x")],
        "doc_id long, text string",
    )
    out = {
        r.id: r
        for r in T.remove_boilerplate(
            docs, "doc_id", "text", unit="word", min_doc_frac=1.0
        ).collect()
    }
    # only DROP is in 100% of docs; surviving words keep original order
    assert out[1].clean_text == "keep1 keep2 keep3"
    assert out[2].clean_text == "x"


def test_ann_recall_floors_vs_bruteforce(spark, sf_dir):
    """Honesty metric for the ANN tier: recall@5 of each approximate
    index (hyperplane-LSH, IVF, SQ8, PQ) against the exact brute-force
    top-5 on the same query set.  The floors are loose — these are
    pruned indexes on a tiny fixture — but they pin that the
    approximations return mostly-right neighbors, not plausible
    garbage; a bucketing/quantization regression shows up here before
    any user does the eval themselves."""
    import pyspark.sql.functions as F

    from data_pipeline_package_for_python_spark.operators import (
        similarity as S,
    )
    from data_pipeline_package_for_python_spark.queries._registry import (
        load,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def topk_set(df):
        rows = df.select("query_id", "neighbor_id").collect()
        out: dict = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk_set(S.cosine_topk(emb, queries, k=5))

    def recall(approx):
        got = topk_set(approx)
        num = den = 0
        for q, truth in exact.items():
            den += len(truth)
            num += len(truth & got.get(q, set()))
        return num / den

    r_hp1 = recall(
        S.hyperplane_topk(emb, queries, k=5, dim=64, n_bits=6, seed=42)
    )
    r_hp = recall(
        S.hyperplane_topk(
            emb, queries, k=5, dim=64, n_bits=6, seed=42,
            multi_probe=True,
        )
    )
    r_ivf = recall(S.ivf_topk(emb, queries, k=5))
    r_sq8 = recall(S.sq8_topk(emb, queries, k=5))
    r_pq = recall(S.pq_topk(emb, queries, k=5, shortlist=60))
    assert r_sq8 >= 0.9, r_sq8   # quantization only shortlists
    # PQ at 64x compression on near-orthogonal vectors is the lossiest
    # tier; with a 60-candidate shortlist it must still beat chance by
    # a wide margin (random 60/500 shortlist would give ~0.12)
    assert r_pq >= 0.25, r_pq
    assert r_ivf >= 0.3, r_ivf   # n_probe-pruned
    # Single-probe sign-LSH recall is LOW by math (per-bit agreement
    # ~(1-th/pi); moderate-similarity neighbors land in the same 6-bit
    # bucket only ~5-10% of the time) — the assert documents the
    # baseline, multi-probe is the lever that fixes it.
    assert r_hp1 >= 0.02, r_hp1
    assert r_hp >= 4 * r_hp1, (r_hp1, r_hp)  # Hamming-1 probing pays
    assert r_hp >= 0.2, r_hp


def test_hard_negatives_laws(spark, tables):
    """hard_negatives: every mined negative carries a different label
    than its anchor, at most k per anchor with contiguous ranks, and
    the result is invariant under corpus repartitioning."""
    from data_pipeline_package_for_python_spark.operators import (
        similarity as S,
    )

    emb = tables["embeddings"]
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    out = S.hard_negatives(emb, anchors, dim=64, k=5, n_bits=6).collect()
    per_anchor = {}
    for r in out:
        assert r.anchor_label != r.negative_label
        per_anchor.setdefault(r.anchor_id, []).append(r.rank)
    for ranks in per_anchor.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5
    again = {
        (r.anchor_id, r.rank, r.negative_id)
        for r in S.hard_negatives(
            emb.repartition(7), anchors, dim=64, k=5, n_bits=6
        ).collect()
    }
    assert again == {(r.anchor_id, r.rank, r.negative_id) for r in out}


def test_embedding_drift_laws(spark, tables):
    """embedding_drift_report: identical cohorts show zero drift on
    every dimension; a planted constant shift on one dimension of the
    candidate cohort flags exactly that dimension."""
    from data_pipeline_package_for_python_spark.operators import (
        similarity as S,
    )

    emb = tables["embeddings"]
    null_rows = S.embedding_drift_report(emb, emb).collect()
    assert all(r.drifted == 0 and r.z == 0.0 for r in null_rows)
    shifted = emb.withColumn(
        "embedding",
        F.expr(
            "transform(embedding, (x, i) -> "
            "CASE WHEN i = 0 THEN x + CAST(10.0 AS FLOAT) ELSE x END)"
        ),
    )
    rows = S.embedding_drift_report(emb, shifted).collect()
    flagged = {r.dim for r in rows if r.drifted == 1}
    assert 0 in flagged
    # the untouched dimensions of the same underlying vectors are clean
    assert all(r.drifted == 0 for r in rows if r.dim != 0)


def test_mixture_drift_laws(spark, sf_dir):
    """etl_mixture_drift: shares are a floor-partition of 1e6 inside
    each cohort, deltas are consistent with the shares, and the drift
    flag matches its declared 2% threshold exactly."""
    from data_pipeline_package_for_python_spark.queries import QUERIES

    rows = QUERIES["etl_mixture_drift"].spark_fn(spark, sf_dir).collect()
    k = len(rows)
    for side in ("share_ref_ppm", "share_cand_ppm"):
        total = sum(getattr(r, side) for r in rows)
        assert 1_000_000 - k <= total <= 1_000_000
    for r in rows:
        assert r.delta_ppm == r.share_cand_ppm - r.share_ref_ppm
        assert r.drifted == int(abs(r.delta_ppm) > 20000)


def test_png_real_codec_roundtrip_all_filters():
    """png_encode→png_parse is lossless through every scanline filter
    (None/Sub/Up/Average/Paeth), multi-size, CRC-verified."""
    import random

    rng = random.Random(7)
    for ft in range(5):
        for (w, h) in [(1, 1), (4, 3), (13, 11), (31, 2)]:
            rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
            p = M.png_encode(w, h, rgb, filter_type=ft)
            assert p[:8] == b"\x89PNG\r\n\x1a\n"
            assert M.png_parse(p) == (w, h, rgb)
            # the unified sniff decodes PNG and PPM alike
            assert M.parse_image(p) == (w, h, rgb)
    assert M.parse_image(M.ppm_encode(2, 2, bytes(12))) == (
        2, 2, bytes(12),
    )


def test_png_parse_rejects_corruption_and_unsupported():
    p = bytearray(M.png_encode(3, 3, bytes(27)))
    p[-5] ^= 0xFF  # flip a byte inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        M.png_parse(bytes(p))
    # grayscale (color type 0) is outside the supported subset
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="unsupported"):
        M.png_parse(b"\x89PNG\r\n\x1a\n" + chunk)
    with pytest.raises(ValueError, match="signature"):
        M.png_parse(b"JFIF not a png")


def test_png_payloads_flow_through_resize_and_ahash(spark):
    """A real PNG payload rides the same distributed pixel path as PPM:
    resize_media sniffs and decodes it, and perceptual_ahash (which
    builds on resize) produces the SAME fingerprint for the same pixels
    in either container — the re-encoding robustness aHash exists for."""
    rgb = bytes(
        v for k in range(4) for v in (10 * k, 10 * k + 1, 10 * k + 2)
    )
    png = M.png_encode(2, 2, rgb, filter_type=4)
    ppm = M.ppm_encode(2, 2, rgb)
    df = spark.createDataFrame(
        [(1, png), (2, ppm)], "doc_id long, payload binary"
    )
    media = M.pack_media(df, "doc_id", "payload")
    thumbs = {
        r.media_id: bytes(r.thumb)
        for r in M.resize_media(
            media, width=4, height=4, fake=False
        ).collect()
    }
    assert thumbs[1] == thumbs[2]  # same pixels -> same P6 thumb
    hashes = {
        r.media_id: (r.hash_lo, r.hash_hi)
        for r in M.perceptual_ahash(media, size=4).collect()
    }
    assert hashes[1] == hashes[2]


def test_jpeg_real_codec_error_laws():
    """Baseline JPEG encode→decode with unit quant tables: dimensions
    exact, error bounded by float rounding (mae ≤ 2, max ≤ 4), across
    sizes, filterless/restart paths, and random + structured content."""
    import random

    from data_pipeline_package_for_python_spark.operators.jpeg import (
        jpeg_encode,
        jpeg_parse,
    )

    rng = random.Random(3)
    for (w, h, ri) in [
        (1, 1, 0), (8, 8, 0), (4, 3, 0), (13, 11, 1),
        (17, 23, 2), (31, 2, 5),
    ]:
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        p = jpeg_encode(w, h, rgb, restart_interval=ri)
        assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
        dw, dh, out = jpeg_parse(p)
        assert (dw, dh) == (w, h)
        a = np.frombuffer(rgb, np.uint8).astype(int)
        b = np.frombuffer(out, np.uint8).astype(int)
        assert np.abs(a - b).mean() <= 2.0
        assert np.abs(a - b).max() <= 4
    # lossy tables: quant step q bounds spatial error by ~q (q/2 per
    # coefficient through an orthonormal IDCT, plus rounding slop)
    q = np.full(64, 16, dtype=np.int64)
    rgb = bytes(rng.randrange(256) for _ in range(13 * 11 * 3))
    p = jpeg_encode(13, 11, rgb, luma_q=q, chroma_q=q)
    dw, dh, out = jpeg_parse(p)
    a = np.frombuffer(rgb, np.uint8).astype(int)
    b = np.frombuffer(out, np.uint8).astype(int)
    assert np.abs(a - b).mean() <= 16


def test_jpeg_parse_rejects_unsupported():
    from data_pipeline_package_for_python_spark.operators.jpeg import (
        jpeg_encode,
        jpeg_parse,
    )

    with pytest.raises(ValueError, match="SOI"):
        jpeg_parse(b"\x89PNG not a jpeg")
    # flip SOF0 into SOF2 (progressive) — must refuse, not garble
    p = bytearray(jpeg_encode(4, 4, bytes(48)))
    idx = p.find(b"\xff\xc0")
    p[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        jpeg_parse(bytes(p))


def test_jpeg_payloads_flow_through_resize_and_ahash(spark):
    """A real JPEG payload rides the same distributed pixel path as
    PPM/PNG via the parse_image sniff, and aHash — designed to survive
    lossy re-encoding — matches the fingerprint of the source pixels."""
    from data_pipeline_package_for_python_spark.operators.jpeg import (
        jpeg_encode,
    )

    w, h = 8, 8
    i = np.arange(w * h * 3, dtype=np.int64)
    rgb = (((i // (w * 3)) * 29 + ((i % (w * 3)) // 3) * 11) % 256
           ).astype(np.uint8).tobytes()
    jpg = jpeg_encode(w, h, rgb)
    ppm = M.ppm_encode(w, h, rgb)
    df = spark.createDataFrame(
        [(1, jpg), (2, ppm)], "doc_id long, payload binary"
    )
    media = M.pack_media(df, "doc_id", "payload")
    hashes = {
        r.media_id: (r.hash_lo, r.hash_hi)
        for r in M.perceptual_ahash(media, size=4).collect()
    }
    assert hashes[1] == hashes[2]


def test_mulaw_codec_exact_laws():
    """G.711 mu-law expansion is the exact ITU-T integer mapping:
    bit-equal to stdlib audioop's table (when available), and
    compress∘expand is the identity on all codes except negative zero
    (0x7F), which canonicalizes to positive zero — the classic mu-law
    ±0 merge; value-level round-trip is exact everywhere."""
    codes = bytes(range(256))
    ours = M.mulaw_expand(np.frombuffer(codes, np.uint8))
    assert ours.max() == 32124 and ours.min() == -32124
    assert ours[0xFF] == 0 and ours[0x7F] == 0
    try:
        import audioop  # removed in 3.13; cross-check where present

        ref = np.frombuffer(audioop.ulaw2lin(codes, 2), "<i2")
        assert (ours == ref).all()
    except ImportError:
        pass
    rt = M.mulaw_compress(ours)
    mismatch = [b for b in range(256) if rt[b] != b]
    assert mismatch == [0x7F]  # negative zero -> positive zero
    # value-level identity everywhere
    again = M.mulaw_expand(np.frombuffer(rt, np.uint8))
    assert (again == ours).all()
    # quantization law on linear input: relative error < 1/32 segment
    lin = np.linspace(-32000, 32000, 4001).astype(np.int64)
    dec = M.mulaw_expand(
        np.frombuffer(M.mulaw_compress(lin), np.uint8)
    ).astype(np.int64)
    rel = np.abs(dec - lin) / np.maximum(np.abs(lin) + 132, 1)
    assert rel.max() < 1 / 16


def test_wav_parse_handles_pcm_and_mulaw_rejects_rest():
    import struct

    pcm = M.wav_encode(np.arange(-500, 500, dtype=np.int16))
    rate, s = M.wav_parse(pcm)
    assert rate == 16000 and (s == np.arange(-500, 500)).all()
    codes = bytes(range(256))
    wav7 = M.mulaw_wav_encode(codes, 8000)
    rate, s = M.wav_parse(wav7)
    assert rate == 8000
    assert (s == M.mulaw_expand(np.frombuffer(codes, np.uint8))).all()
    with pytest.raises(ValueError, match="RIFF"):
        M.wav_parse(b"ID3 not a wav")
    # IEEE-float WAV (format 3) is outside the contract
    bad = bytearray(wav7)
    idx = bad.find(b"fmt ") + 8
    bad[idx:idx + 2] = struct.pack("<H", 3)
    with pytest.raises(ValueError, match="format 3"):
        M.wav_parse(bytes(bad))


def test_archive_roundtrips_and_corruption(spark):
    """zip / tar.gz / WARC build→expand round-trips are exact; corrupt
    framing raises in the task instead of silently truncating."""
    from data_pipeline_package_for_python_spark.operators import (
        archive as A,
    )

    members = [("a/x.txt", b"hello"), ("y.bin", bytes(range(256)))]
    for build, expand in (
        (A.zip_bytes, A.expand_zip),
        (A.tar_gz_bytes, lambda m: A.expand_tar(m, gzipped=True)),
    ):
        payload = build(members)
        # deterministic fixtures: same members -> same bytes
        assert payload == build(members)
        df = spark.createDataFrame(
            [(7, payload)], "media_id long, payload binary"
        )
        got = {
            r.member_name: bytes(r.content)
            for r in expand(df).collect()
        }
        assert got == dict(members)
    warc = A.warc_bytes(
        [("response", "https://e.com/1", b"body-1"),
         ("metadata", "https://e.com/1", b"lang=en")]
    )
    df = spark.createDataFrame(
        [(1, warc)], "media_id long, payload binary"
    )
    recs = sorted(
        A.parse_warc(df).collect(), key=lambda r: r.record_idx
    )
    assert [(r.warc_type, r.target_uri, bytes(r.payload)) for r in recs] == [
        ("response", "https://e.com/1", b"body-1"),
        ("metadata", "https://e.com/1", b"lang=en"),
    ]
    # lying Content-Length -> separator check fires
    bad = warc.replace(b"Content-Length: 6", b"Content-Length: 4")
    dfb = spark.createDataFrame(
        [(2, bad)], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="separator|WARC"):
        A.parse_warc(dfb).collect()


def test_kmeans_exact_recovers_blobs_and_is_deterministic(spark):
    """The exact-integer k-means (round 4, hash-checkable) recovers
    planted blobs — every blob maps to exactly one cluster, and the
    clusters differ — and is bit-reproducible; its 1e-6 quantization
    cannot move well-separated cluster boundaries."""
    import itertools

    rows = []
    for b, base in enumerate([10.0, -10.0, 30.0]):
        for i in range(20):
            vec = [base + ((i * 7 + d) % 5) * 0.1 for d in range(8)]
            rows.append((b * 100 + i, vec))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = S.kmeans_embeddings_exact(df, k=3, iterations=5).collect()
    by_blob = {}
    for r in got:
        by_blob.setdefault(r["vec_id"] // 100, set()).add(r["cluster"])
    assert all(len(cs) == 1 for cs in by_blob.values())
    assert len(set(itertools.chain(*by_blob.values()))) == 3
    again = S.kmeans_embeddings_exact(df, k=3, iterations=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_html_extract_boilerplate_and_entities(spark):
    """The HTML extractor drops chrome/script content entirely,
    unescapes entities, separates blocks with newlines, joins inline
    markup without breaks, collapses whitespace, and recovers from
    malformed markup instead of raising."""
    from data_pipeline_package_for_python_spark.operators.text import (
        html_extract_text,
    )

    page = (
        "<html><head><title> My   Title </title>"
        "<style>p{x}</style></head><body>"
        "<nav>Skip <a href='/'>me</a></nav>"
        "<h1>Head&amp;line</h1>"
        "<p>First  <b>bo</b>ld &lt;tag&gt; text.</p>"
        "<aside>sidebar junk</aside>"
        "<div>Second\n   block</div>"
        "<footer>foot</footer>"
        "<script>if (a < b) alert('x');</script>"
        "</body></html>"
    )
    broken = "<p>unclosed <b>bold <div>and </p>stray</em> ends"
    df = spark.createDataFrame(
        [(1, page), (2, broken)], "doc_id long, page string"
    )
    out = {
        r.id: r
        for r in html_extract_text(df, "doc_id", "page").collect()
    }
    assert out[1].title == "My Title"
    assert out[1].text == (
        "Head&line\nFirst bold <tag> text.\nSecond block"
    )
    assert out[1].n_chars == len(out[1].text)
    # malformed markup degrades to its visible text, never raises
    assert "unclosed bold" in out[2].text and "stray" in out[2].text


# ------------------------------------------------------------------ #
# property-based codec laws (hypothesis): driver-side, no Spark jobs #
# ------------------------------------------------------------------ #

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    ft=st.integers(0, 4),
    data=st.data(),
)
def test_png_roundtrip_property(w, h, ft, data):
    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * 3,
                max_size=w * h * 3,
            )
        )
    )
    assert M.png_parse(M.png_encode(w, h, rgb, filter_type=ft)) == (
        w, h, rgb,
    )


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    ri=st.integers(0, 4),
    data=st.data(),
)
def test_jpeg_error_bound_property(w, h, ri, data):
    from data_pipeline_package_for_python_spark.operators.jpeg import (
        jpeg_encode,
        jpeg_parse,
    )

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * 3,
                max_size=w * h * 3,
            )
        )
    )
    dw, dh, out = jpeg_parse(jpeg_encode(w, h, rgb, restart_interval=ri))
    assert (dw, dh) == (w, h)
    a = np.frombuffer(rgb, np.uint8).astype(int)
    b = np.frombuffer(out, np.uint8).astype(int)
    assert np.abs(a - b).max() <= 4


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=256))
def test_mulaw_value_roundtrip_property(samples):
    """expand∘compress∘expand is the identity on the mu-law value
    lattice (compress maps any linear sample to its segment code;
    re-expanding and re-compressing reproduces the same code/value)."""
    codes = M.mulaw_compress(np.array(samples, dtype=np.int64))
    vals = M.mulaw_expand(np.frombuffer(codes, np.uint8))
    codes2 = M.mulaw_compress(vals.astype(np.int64))
    vals2 = M.mulaw_expand(np.frombuffer(codes2, np.uint8))
    assert (vals == vals2).all()


def test_ols_recovers_planted_linear_model(spark):
    """Single-pass OLS sufficient statistics + driver solve recover a
    planted exact-linear relationship to float-solve precision, and the
    plan is one shuffle-free aggregate (map-side partials only)."""
    from data_pipeline_package_for_python_spark.operators.ml import (
        ols_fit,
        ols_sufficient_stats,
    )

    rows = []
    for i in range(400):
        x1, x2 = i % 23, (i * 7) % 11
        rows.append((x1, x2, 5 + 3 * x1 - 2 * x2))
    df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
    stats = ols_sufficient_stats(
        df, [F.col("x1"), F.col("x2")], F.col("y")
    )
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan or plan.count("Exchange") <= 1
    row = stats.collect()[0]
    assert row["n"] == 400 and row["g00"] == 400
    coef = ols_fit(row, 3)
    assert abs(coef[0] - 5) < 1e-8
    assert abs(coef[1] - 3) < 1e-8
    assert abs(coef[2] + 2) < 1e-8


def test_covariance_stats_match_numpy_and_feed_pca(spark):
    """The distributed outer-product partials reproduce numpy's exact
    Gram on a known corpus, and the driver-side covariance assembled
    from them eigendecomposes to the planted principal axis."""
    rng = np.random.default_rng(5)
    base = rng.normal(size=(200, 1))
    # dim0 and dim1 strongly correlated (planted axis), dim2 independent
    vecs = np.hstack([base, base * 0.9, rng.normal(size=(200, 1))])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    stats = {
        (r.dim_i, r.dim_j): r
        for r in S.embedding_covariance_stats(
            df, scale=1000
        ).collect()
    }
    uq = np.floor(vecs.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    gram = uq.T @ uq
    sums = uq.sum(axis=0)
    for (i, j), r in stats.items():
        assert r.sum_ij == gram[i, j], (i, j)
        assert r.sum_i == sums[i] and r.sum_j == sums[j]
        assert r.n == 200
    # assemble covariance, eigendecompose: top axis loads dims 0+1
    d = 3
    cov = np.zeros((d, d))
    for (i, j), r in stats.items():
        c = (r.sum_ij - r.sum_i * r.sum_j / r.n) / r.n
        cov[i, j] = cov[j, i] = c
    w, v = np.linalg.eigh(cov)
    top = np.abs(v[:, -1])
    assert top[0] > 0.5 and top[1] > 0.5 and top[2] < 0.2


def test_ols_decimal_mode_matches_bigint(spark):
    """decimal=True (the >1e11-row overflow guard) produces identical
    statistics on in-range data."""
    from data_pipeline_package_for_python_spark.operators.ml import (
        ols_sufficient_stats,
    )

    df = spark.createDataFrame(
        [(i % 7, (i * 3) % 5, i) for i in range(100)],
        "x1 long, x2 long, y long",
    )
    a = ols_sufficient_stats(
        df, [F.col("x1"), F.col("x2")], F.col("y")
    ).collect()[0]
    b = ols_sufficient_stats(
        df, [F.col("x1"), F.col("x2")], F.col("y"), decimal=True
    ).collect()[0]
    for k in a.asDict():
        assert int(a[k]) == int(b[k]), k


def test_ols_decimal_mode_survives_product_overflow(spark):
    """decimal=True widens the OPERANDS before the multiply: a unit
    value of 4e9 has u² ≈ 1.6e19 > 2⁶³, which wraps in the BIGINT path
    per row — the decimal path must still return the exact square
    (regression for the round-4 advice on operators/ml.py)."""
    from data_pipeline_package_for_python_spark.operators.ml import (
        ols_sufficient_stats,
    )

    u = 4_000_000_000  # u*u = 1.6e19 — past the int64 ceiling
    df = spark.createDataFrame([(u, 1)], "x1 long, y long")
    row = ols_sufficient_stats(
        df, [F.col("x1")], F.col("y"), decimal=True
    ).collect()[0]
    assert int(row["g11"]) == u * u
    assert int(row["b1"]) == u


def test_bpe_apply_rank_order_and_chaining(spark):
    """The real BPE loop: merges apply in RANK order and chain (a
    merged token participates in later merges) — the behaviors the
    registry query's closed-form oracle deliberately excludes."""
    from data_pipeline_package_for_python_spark.operators.text import (
        bpe_apply,
    )

    # "lower": e+r -> er (rank 0), then l+o -> lo (rank 1), then
    # lo+w -> low (rank 2, consumes the rank-1 OUTPUT: chaining)
    merges = [("e", "r"), ("l", "o"), ("lo", "w")]
    df = spark.createDataFrame(
        [(1, "lower"), (2, "er er ee"), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.n_tokens, r.n_merges)
        for r in bpe_apply(df, "doc_id", "text", merges).collect()
    }
    # lower -> l o w e r -> er -> l o w er -> lo w er -> low er
    assert out[1] == (2, 3)
    # "er er ee": two words merge once each; "ee" never merges
    assert out[2] == (2 + 2, 2)[0:2] or out[2] == (4, 2)
    assert out[3] == (0, 0)
    # invariant: n_tokens = nonspace chars - n_merges
    for (i, t) in [(1, "lower"), (2, "er er ee"), (3, "")]:
        nt, nm = out[i]
        assert nt == len(t.replace(" ", "")) - nm
    # rank order matters: with ranks reversed, lo+w can't fire before
    # l+o exists... build a case where order changes the result:
    # word "abc", merges [("a","b"), ("b","c")]: rank order gives ab+c
    # (1 merge); reversed gives a+bc (1 merge) — counts equal but
    # tokens differ; use overlapping-triple "abcb" with [("b","c"),
    # ("a","b")]: bc fires first -> a bc b (no ab left) = 1 merge;
    # with [("a","b"), ("b","c")]: ab fires -> ab c b, then b+c? c,b
    # not adjacent as (b,c)... actually ab|c|b has (c,b) not (b,c):
    # 1 merge either way but DIFFERENT tokens. Pin via a 4-symbol
    # word where order changes merge COUNT: "aab" with [("a","b"),
    # ("a","a")]: rank order: a|ab -> 1 merge then (a,ab) no ->
    # tokens a,ab; reversed ranks: aa|b -> then (aa,b) no -> same
    # count. Merge counts are often invariant; rely on the chaining
    # case above (3 merges requires rank-respecting chaining).
    out2 = bpe_apply(
        spark.createDataFrame([(1, "lower")], "doc_id long, text string"),
        "doc_id", "text", [("lo", "w"), ("l", "o"), ("e", "r")],
    ).collect()[0]
    # CANONICAL semantics: after l+o creates 'lo', the loop
    # re-evaluates and the rank-0 lo+w fires even though it was
    # considered "before" — 3 merges, tokens (low, er)
    assert (out2.n_tokens, out2.n_merges) == (2, 3)


def test_bpe_train_hand_example(spark):
    """Three merge rounds over a corpus small enough to train by hand:
    'aaab'x3 + 'ab'x1.  Round 0: (a,a) count 6 (two per 'aaab').
    Round 1: after 'aa' merges, (a,b) count 4 beats (aa,a) count 3.
    Round 2: (aa,ab) count 3.  Pins greedy left-to-right merge
    application, count-then-lexicographic argmax, and merge chaining
    (later rounds pair PREVIOUS merges)."""
    from data_pipeline_package_for_python_spark.operators.text import (
        bpe_train,
    )

    df = spark.createDataFrame(
        [("aaab aaab",), ("aaab ab",)], "text string"
    )
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_train(df, "text", n_merges=3).collect()
    ]
    assert got == [
        (0, "a", "a", "aa", 6),
        (1, "a", "b", "ab", 4),
        (2, "aa", "ab", "aaab", 3),
    ]


def test_bpe_train_batched_equals_sequential_conflict_free(spark):
    """Batched-BPE law: when every committed batch is conflict-free AND
    mints no competitive new pairs, batch_m > 1 reproduces the
    sequential trainer's merge table EXACTLY (ranks, pairs, counts).

    Corpus construction: words of exactly 2 symbols over disjoint
    letter sets — each merge collapses its word to one symbol, so no
    batch can mint a new pair, and distinct letters make every
    candidate pair symbol-disjoint.  Frequencies are strictly separated
    so the total order is unambiguous."""
    from data_pipeline_package_for_python_spark.operators.text import (
        bpe_train,
    )

    corpus = " ".join(
        ["ab"] * 9 + ["cd"] * 7 + ["ef"] * 5 + ["gh"] * 3 + ["ij"] * 2
    )
    df = spark.createDataFrame([(corpus,)], "text string")
    key = lambda d: [  # noqa: E731
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in d.orderBy("merge_rank").collect()
    ]
    seq = key(bpe_train(df, "text", n_merges=5, batch_m=1))
    for m in (2, 3, 5, 8):
        assert key(bpe_train(df, "text", n_merges=5, batch_m=m)) == seq
    assert seq == [
        (0, "a", "b", "ab", 9),
        (1, "c", "d", "cd", 7),
        (2, "e", "f", "ef", 5),
        (3, "g", "h", "gh", 3),
        (4, "i", "j", "ij", 2),
    ]


def test_bpe_train_batched_conflict_skip_and_chaining(spark):
    """Conflicting candidates are deferred to a later count pass, not
    mis-committed in-batch: on the hand corpus ('aaab'x3 + 'ab'),
    round-0 candidates (a,a)=6 and (a,b)=4 share the symbol 'a', so a
    batch of 2 must commit (a,a) alone, recount, then find (a,b)=4 and
    (aa,ab)=3 exactly as the sequential trainer does — the batched
    table is IDENTICAL here because each batch degenerates to size 1."""
    from data_pipeline_package_for_python_spark.operators.text import (
        bpe_train,
    )

    df = spark.createDataFrame(
        [("aaab aaab",), ("aaab ab",)], "text string"
    )
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_train(df, "text", n_merges=3, batch_m=2)
        .orderBy("merge_rank").collect()
    ]
    assert got == [
        (0, "a", "a", "aa", 6),
        (1, "a", "b", "ab", 4),
        (2, "aa", "ab", "aaab", 3),
    ]


def test_bpe_train_batch_m_validated_before_plan(spark):
    """batch_m is validated at function entry: bool (an int subclass
    that would silently mean 1), non-int, and <1 all raise BEFORE any
    Spark plan is built (r8 advice)."""
    import pytest as _pytest

    from data_pipeline_package_for_python_spark.operators.text import (
        bpe_train,
    )

    df = spark.createDataFrame([("ab ab",)], "text string")
    with _pytest.raises(TypeError, match="batch_m must be an int"):
        bpe_train(df, "text", n_merges=1, batch_m=True)
    with _pytest.raises(TypeError, match="batch_m must be an int"):
        bpe_train(df, "text", n_merges=1, batch_m=2.5)
    with _pytest.raises(ValueError, match="batch_m must be >= 1"):
        bpe_train(df, "text", n_merges=1, batch_m=0)


def test_bpe_train_max_count_non_increasing(spark, sf_dir):
    """BPE law: the winning pair count can never rise round-over-round
    — a new pair created by a merge occurs at most as often as the
    merge that created it."""
    from data_pipeline_package_for_python_spark.operators.text import (
        bpe_train,
    )
    from data_pipeline_package_for_python_spark.queries import load

    rows = (
        bpe_train(load(spark, sf_dir, "documents"), "text", n_merges=5)
        .orderBy("merge_rank")
        .collect()
    )
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["merged"] == r["lhs"] + r["rhs"]


# --------------------------------------------------------------------- #
# corpus_overlap_sketch (round-4 addition)                              #
# --------------------------------------------------------------------- #

def _src_docs(spark, groups):
    rows = [
        (f"{g}-{i}", g, t)
        for g, texts in groups.items()
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, "doc_id string, source string, text string")


def test_corpus_overlap_identical_groups_is_one(spark):
    texts = [f"alpha beta gamma delta {i} epsilon zeta" for i in range(5)]
    df = _src_docs(spark, {"a": texts, "b": list(texts)})
    rows = D.corpus_overlap_sketch(df, "source", "text", k=64).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["sa"], r["sb"]) == ("a", "b")
    assert r["n_shared"] == r["k_eff"]
    assert r["jaccard_est_ppm"] == 1_000_000


def test_corpus_overlap_disjoint_vocab_is_zero(spark):
    a = [f"aa{i} bb{i} cc{i} dd{i}" for i in range(5)]
    b = [f"xx{i} yy{i} zz{i} ww{i}" for i in range(5)]
    rows = D.corpus_overlap_sketch(
        _src_docs(spark, {"a": a, "b": b}), "source", "text", k=64
    ).collect()
    assert rows[0]["n_shared"] == 0 and rows[0]["jaccard_est_ppm"] == 0


def test_corpus_overlap_estimate_tracks_true_jaccard(spark):
    # planted partial overlap; truth computed from first principles
    # (same shingle definition), k=128 over ~300 shingles per side ->
    # KMV standard error ~ sqrt(J(1-J)/k) ~ 0.04, assert +-0.15
    shared = [f"common text line number {i} shared tail" for i in range(50)]
    a = shared + [f"left only line {i} unique alpha tail" for i in range(50)]
    b = shared + [f"right only line {i} unique beta tail" for i in range(50)]

    def shingle_set(texts):
        out = set()
        for t in texts:
            ws = t.split(" ")
            for i in range(max(len(ws) - 2, 1)):
                out.add(" ".join(ws[i:i + 3]))
        return out

    sa, sb = shingle_set(a), shingle_set(b)
    truth = len(sa & sb) / len(sa | sb)
    rows = D.corpus_overlap_sketch(
        _src_docs(spark, {"a": a, "b": b}), "source", "text", k=128
    ).collect()
    est = rows[0]["jaccard_est_ppm"] / 1e6
    assert abs(est - truth) < 0.15, (est, truth)


def test_cdc_chunking_is_edit_local(spark):
    # The CDC property: one edited word re-chunks only its neighborhood,
    # so two long docs differing in ONE word still share most chunks --
    # a fixed-width chunking would misalign everything after the edit.
    words = [f"w{i}" for i in range(200)]
    edited = list(words)
    edited[100] = "EDITED"
    df = spark.createDataFrame(
        [("a", " ".join(words)), ("b", " ".join(edited))],
        "doc_id string, text string",
    )
    rows = {
        r["id"]: r
        for r in D.cdc_chunk_dup_report(df, "doc_id", "text").collect()
    }
    for r in rows.values():
        # most chunks are shared with the twin (n_occ = 2 -> dup)
        assert r["dup_ratio_ppm"] > 800_000, dict(r)
        # but not all: the edit neighborhood diverges
        assert r["n_dup_chunks"] < r["n_chunks"], dict(r)


def test_cdc_chunks_reassemble_the_document(spark):
    # chunk boundaries partition the word sequence: total chunk words
    # == doc words (no loss, no overlap)
    from data_pipeline_package_for_python_spark.operators.dedup import (
        cdc_chunk_dup_report,
    )
    text = " ".join(f"tok{i % 37}x{i % 11}" for i in range(150))
    df = spark.createDataFrame([("d", text)], "doc_id string, text string")
    out = cdc_chunk_dup_report(df, "doc_id", "text").collect()[0]
    assert out["n_chunks"] >= 1
    # independent reassembly check in pure python with the same rule
    import hashlib
    ws = text.split(" ")
    bpos = [i for i in range(1, len(ws) + 1)
            if int(hashlib.md5(ws[i - 1].encode()).hexdigest()[:8], 16)
            % 4 == 0]
    starts = [0] + bpos
    ends = bpos + [len(ws)]
    chunks = [" ".join(ws[s:e]) for s, e in zip(starts, ends) if e > s]
    assert " ".join(chunks) == text
    assert out["n_chunks"] == len(chunks)


# ---------------------------------------------------------------------- #
# SemDeDup (cluster-bounded semantic dedup)                              #
# ---------------------------------------------------------------------- #


def test_semdedup_laws(spark, sf_dir):
    """Drop rule is exactly 'has a lower-id same-cluster neighbor at
    cosine >= tau': (i) every cluster's minimum id survives, (ii) a
    brute-force within-cluster cosine replay agrees row-for-row, and
    (iii) flags cover the full corpus exactly once."""
    import numpy as np

    from data_pipeline_package_for_python_spark.operators.similarity import (
        semantic_dedup,
    )

    tau = 0.40
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    flags = semantic_dedup(emb, k=8, iterations=5, threshold=tau)
    rows = {r["vec_id"]: r for r in flags.collect()}
    assert len(rows) == emb.count()

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    by_cluster = {}
    for vid, r in rows.items():
        by_cluster.setdefault(r["cluster"], []).append(vid)
    for cluster, ids in by_cluster.items():
        ids.sort()
        assert rows[ids[0]]["dropped"] == 0, (cluster, ids[0])
        for b in ids:
            vb = vecs[b]
            want = any(
                float(
                    vecs[a] @ vb
                    / (np.linalg.norm(vecs[a]) * np.linalg.norm(vb))
                ) >= tau
                for a in ids
                if a < b
            )
            assert rows[b]["dropped"] == int(want), (cluster, b)


# ---------------------------------------------------------------------- #
# BM25 related-document retrieval                                        #
# ---------------------------------------------------------------------- #


def test_bm25_matches_python_replay(spark):
    """The exact-rational BM25 reproduces a row-at-a-time Python replay
    bit-for-bit (same BIGINT products, same IEEE division, same
    term-ordered fold), and the ranking follows (score desc, id)."""
    from data_pipeline_package_for_python_spark.operators.text import (
        bm25_related_topk,
    )

    docs = [
        (0, "apple banana cherry apple"),
        (1, "apple banana"),
        (2, "cherry durian cherry cherry"),
        (3, "banana durian elderberry"),
        (4, "apple cherry durian banana elderberry fig"),
        (5, "fig fig fig"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = bm25_related_topk(
        df, "doc_id", "text",
        query_pred=(F.col("doc_id") % 2 == 0),
        k=3, max_df_ratio_ppm=800_000,
    ).collect()

    # python replay ------------------------------------------------------
    tf, dl = {}, {}
    for i, t in docs:
        ws = t.split(" ")
        dl[i] = len(ws)
        for w in ws:
            tf[(i, w)] = tf.get((i, w), 0) + 1
    dfq = {}
    for (_, w) in tf:
        dfq[w] = dfq.get(w, 0) + 1
    N, L = len(docs), sum(dl.values())
    keep = {w for w, d in dfq.items() if d * 1_000_000 <= 800_000 * N}
    want = {}
    for q, _ in docs:
        if q % 2 != 0:
            continue
        qterms = {w for (i, w) in tf if i == q and w in keep}
        scores = {}
        for d, _ in docs:
            if d == q:
                continue
            shared = sorted(w for w in qterms if (d, w) in tf)
            if not shared:
                continue
            s = 0.0
            for w in shared:
                t_ = tf[(d, w)]
                num = (2 * N - 2 * dfq[w] + 1) * 22 * t_ * L
                den = (2 * dfq[w] + 1) * (
                    10 * t_ * L + 3 * L + 9 * dl[d] * N
                )
                s += num / den
            scores[d] = (s, len(shared))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))
        for r, (d, (s, ns)) in enumerate(ranked[:3], start=1):
            want[(q, r)] = (d, s, ns)

    got_map = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"], r["n_shared"])
        for r in got
    }
    assert got_map.keys() == want.keys()
    for key, (d, s, ns) in want.items():
        gd, gs, gns = got_map[key]
        assert (gd, gns) == (d, ns), (key, got_map[key], want[key])
        assert gs == s, (key, gs, s)  # bit-identical, not approx


def test_rrf_fuse_matches_python(spark):
    """Fused score = Σ scale div (60+rank) per ranker, ranked by
    (score desc, doc_id): a doc ranked mid-list in BOTH rankers beats a
    doc that tops only one (RRF's defining property)."""
    from data_pipeline_package_for_python_spark.operators.similarity import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank long",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 12, 4)],
        "query_id long, doc_id long, rank long",
    )
    got = {
        r["doc_id"]: (r["rank"], r["rrf_score_e12"], r["n_sources"])
        for r in rrf_fuse([a, b], k=10).collect()
    }
    S = 10**12
    want_scores = {
        10: S // 61,
        11: S // 62 + S // 61,
        12: S // 63 + S // 64,
        13: S // 62,
    }
    ranked = sorted(want_scores.items(), key=lambda kv: (-kv[1], kv[0]))
    for rank, (d, s) in enumerate(ranked, start=1):
        n_src = 2 if d in (11, 12) else 1
        assert got[d] == (rank, s, n_src), (d, got[d])
    # doc 11 (in both) outranks doc 10 (rank-1 in one ranker only)
    assert got[11][0] < got[10][0]


def test_glove_cooccurrence_known_counts(spark):
    """'a b a c' with window 4: pair (a,b) appears at distances 1
    ('a b') and 1 again reversed? No — directional left-context only:
    (a,b)@1, (b,a)@1, (a,c)@1, (a,a)@2, (b,c)@2, (a,c)@3 — harmonic
    twelfths 12,12,12,6,6,4."""
    import os, tempfile

    from __spark_entry__ import queries

    df = spark.createDataFrame(
        [(1, "a b a c", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        rows = queries()["text_cooccurrence_glove"](spark, d).collect()
    got = {(r["term_a"], r["term_b"]): (r["x12"], r["n_pairs"]) for r in rows}
    assert got == {
        ("a", "b"): (12, 1),
        ("b", "a"): (12, 1),
        ("a", "c"): (16, 2),   # dist 1 (a@2->c) and dist 3 (a@0->c)
        ("a", "a"): (6, 1),    # dist 2
        ("b", "c"): (6, 1),    # dist 2
    }


def test_interval_overlap_known_sessions(spark):
    """Two users: u1 active 00:00-01:30 (one session), u2 in two
    sessions 01:00-01:10 and 05:00-05:20.  Only the first u2 session
    overlaps u1 (600s); bucket blocking must not double-count the
    multi-hour u1 session."""
    import datetime as dt
    import os, tempfile

    from __spark_entry__ import queries

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, minutes):
        return (eid, uid, t0 + dt.timedelta(minutes=minutes), 1.0, "click")

    rows = [
        # u1: events every 20 min from 0 to 90 -> one session 0..90min
        *[ev(i, 1, 20 * i) for i in range(5)],  # 0,20,40,60,80
        ev(5, 1, 90),
        # u2: 60..70min, then 300..320min (gap > 30min -> new session)
        ev(10, 2, 60), ev(11, 2, 70),
        ev(12, 2, 300), ev(13, 2, 320),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, value double,"
        " event_type string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = queries()["join_interval_overlap"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["user_a"], r["user_b"]) == (1, 2)
    assert r["n_session_pairs"] == 1
    assert r["total_overlap_us"] == 600 * 1_000_000  # 60..70 min window


def test_activity_streaks_known_days(spark):
    """Days {1,2,3, 7, 9,10} -> three streaks; longest = 3 days
    starting day 1; a later equal-length streak must NOT steal the
    argmax (earliest-start tie-break)."""
    import datetime as dt
    import os, tempfile

    from __spark_entry__ import queries

    t0 = dt.datetime(2024, 1, 1, 12)
    days = [1, 2, 3, 7, 9, 10]
    rows = [
        (i, 1, t0 + dt.timedelta(days=d), 1.0, "click")
        for i, d in enumerate(days)
    ]
    # user 2: two 2-day streaks -> earliest wins
    rows += [
        (100 + i, 2, t0 + dt.timedelta(days=d), 1.0, "view")
        for i, d in enumerate([4, 5, 20, 21])
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, value double,"
        " event_type string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r["user_id"]: r
            for r in queries()["analytics_activity_streaks"](
                spark, d
            ).collect()
        }
    base = (dt.date(2024, 1, 2) - dt.date(1970, 1, 1)).days
    r1 = out[1]
    assert r1["n_active_days"] == 6
    assert r1["n_streaks"] == 3
    assert r1["longest_streak_days"] == 3
    assert r1["longest_streak_start_day"] == base  # day offset 1
    r2 = out[2]
    assert (r2["n_streaks"], r2["longest_streak_days"]) == (2, 2)
    assert r2["longest_streak_start_day"] == base + 3  # offset 4, earliest


def test_negative_sampling_table_laws(spark, sf_dir):
    """w34 = floor(n^0.75) within the floor-composition bound, ppm
    ranges tile [0, 1e6) without overlap in (w desc, term) order, and
    shares are monotone in n."""
    from __spark_entry__ import queries

    rows = queries()["ml_negative_sampling_table"](spark, sf_dir).collect()
    assert rows
    tot = sum(r["w34"] for r in rows)
    ordered = sorted(rows, key=lambda r: (-r["w34"], r["term"]))
    prev_end = 0
    for r in ordered:
        # nested floor-sqrt: the inner floor costs at most a
        # (1 - 1/(2*sqrt(n))) relative factor, the outer floor at most 1
        true = r["n"] ** 0.75
        lo = true * (1 - 1 / (2 * r["n"] ** 0.5)) - 1 if r["n"] > 0 else 0
        assert lo <= r["w34"] <= true + 1, (r["term"], r["n"], r["w34"])
    # ranges: start of each = 1e6 * cumulative-before // tot
    cum = 0
    for r in ordered:
        assert r["cum_start_ppm"] == (1_000_000 * cum) // tot
        assert r["share_ppm"] == (1_000_000 * r["w34"]) // tot
        cum += r["w34"]
    # damping: shares flatter than raw counts (max share ratio shrinks)
    n_max = max(r["n"] for r in rows); n_min = min(r["n"] for r in rows)
    w_max = max(r["w34"] for r in rows); w_min = min(r["w34"] for r in rows)
    if n_min > 0 and w_min > 0:
        assert w_max / w_min <= n_max / n_min + 1e-9


def test_phrase_vs_and_distinguishes_adjacency(spark):
    """'x y' adjacent in doc 1, present-but-separated in doc 2, absent
    in doc 3 — phrase count 1, AND count 2."""
    import os, tempfile

    from __spark_entry__ import queries

    docs = [
        (1, "x y q q q q", "en", "s", 1),
        (2, "x q q q q y", "en", "s", 1),
        (3, "q q q q q q", "en", "s", 1),
        # make 'x y' the clear top bigram
        (4, "x y x y x y", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        rows = queries()["text_phrase_search"](spark, d).collect()
    by_pair = {(r["term_a"], r["term_b"]): r for r in rows}
    r = by_pair[("x", "y")]
    assert r["n_docs_phrase"] == 2  # docs 1 and 4
    assert r["n_docs_and"] == 3     # docs 1, 2, 4
    assert r["adjacency_ppm"] == (1_000_000 * 2) // 3


def test_kwic_context_windows_at_boundaries(spark):
    """Probe occurrences at the first and last token must yield empty
    (not null) contexts; interior hits get exactly +-3 tokens."""
    import os, tempfile

    from __spark_entry__ import queries

    # 'z' is the clear head term under the 60% df cut (1 of 2 docs)
    df = spark.createDataFrame(
        [
            (1, "z a b c z d e f g z", "en", "s", 1),
            (2, "a b c d e f g h i j", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        rows = sorted(
            (r["pos"], r["left_ctx"], r["right_ctx"])
            for r in queries()["text_kwic_concordance"](
                spark, d
            ).collect()
        )
    assert rows == [
        (1, "", "a b c"),
        (5, "a b c", "d e f"),
        (10, "e f g", ""),
    ]


def test_cohens_kappa_bounds_and_replay(spark, sf_dir):
    """kappa num/den replays sklearn's definition from the confusion
    cells (computed independently in Python), and kappa <= 1 with
    kappa = 1 iff perfect agreement."""
    from fractions import Fraction

    import duckdb

    from __spark_entry__ import queries

    r = queries()["ml_cohens_kappa"](spark, sf_dir).collect()[0]
    cells = duckdb.connect().execute(
        f"""
        SELECT CASE WHEN length(text) >= 50 THEN 1 ELSE 0 END a,
               CASE WHEN len(string_split(text, ' ')) >= 10
                    THEN 1 ELSE 0 END b, count(*)
        FROM '{sf_dir}/documents.parquet' GROUP BY 1, 2
        """
    ).fetchall()
    n = sum(c for _, _, c in cells)
    agree = sum(c for a, b, c in cells if a == b)
    a1 = sum(c for a, _, c in cells if a == 1)
    b1 = sum(c for _, b, c in cells if b == 1)
    chance = a1 * b1 + (n - a1) * (n - b1)
    assert (r["n_docs"], r["n_agree"]) == (n, agree)
    assert r["kappa_num"] == n * agree - chance
    assert r["kappa_den"] == n * n - chance
    if r["kappa_den"] != 0:
        kappa = Fraction(r["kappa_num"], r["kappa_den"])
        assert kappa <= 1
        assert (kappa == 1) == (agree == n)


def test_vocab_growth_curve_is_nested_and_monotone(spark, sf_dir):
    """Subsets are md5-threshold prefixes of each other, so docs,
    tokens, and types must all be non-decreasing in the fraction, and
    the 1e6-ppm row covers the whole corpus."""
    import duckdb

    from __spark_entry__ import queries

    rows = sorted(
        (r["f_ppm"], r["n_docs"], r["n_tokens"], r["n_types"])
        for r in queries()["text_vocab_growth_curve"](
            spark, sf_dir
        ).collect()
    )
    assert [f for f, *_ in rows] == [125000, 250000, 500000, 1000000]
    for a, b in zip(rows, rows[1:]):
        assert a[1] <= b[1] and a[2] <= b[2] and a[3] <= b[3]
    (nd, nt, ty) = duckdb.connect().execute(
        f"""SELECT count(DISTINCT doc_id), count(*), count(DISTINCT term)
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
              FROM '{sf_dir}/documents.parquet')"""
    ).fetchone()
    assert rows[-1][1:] == (nd, nt, ty)


def test_conformal_coverage_near_nominal(spark, sf_dir):
    """The conformal theorem: held-out coverage at the 0.9 rank must
    land near 90% (within sampling noise of the test split size)."""
    from __spark_entry__ import queries

    r = queries()["ml_conformal_interval"](spark, sf_dir).collect()[0]
    assert r["n_cal"] > 0 and r["n_test"] > 0
    cov = r["coverage_ppm"] / 1e6
    # binomial noise bound: 4 sigma at p=0.9
    import math

    sigma = math.sqrt(0.9 * 0.1 / r["n_test"])
    assert abs(cov - 0.9) < 4 * sigma + 0.02, (cov, r["n_test"])
