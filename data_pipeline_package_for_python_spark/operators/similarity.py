"""Similarity search over embedding columns (SURVEY §2.2.10).

Two tiers:

1. ``cosine_topk``     — exact brute-force top-k.  The baseline and the
   verifier.  Cost O(|queries| x |corpus|); the query side is broadcast,
   so the corpus is never shuffled — the plan is scan -> broadcast
   nested-loop join -> per-query top-k.  Right answer at any corpus size
   *provided the query set is small*.
2. ``sign_buckets`` / ``bucketed_topk`` — the scale path: a deterministic
   sign-LSH coarse quantizer (random-hyperplane LSH with axis-aligned
   hyperplanes) turns the cross join into an equality join on bucket id.
   Recall is tunable via ``n_bits`` (fewer bits -> bigger buckets -> higher
   recall); candidates are re-ranked by exact cosine, so precision is 1.

Numeric determinism: dot products fold left-to-right over the array via
the ``aggregate`` higher-order function in double precision — the same
fold a DuckDB oracle performs with ``list_reduce`` — so scores are
bit-identical across engines and ties are broken by neighbor id.

Everything is JVM-side column algebra (zip_with/aggregate HOFs); no
Python in the row path.

Reference parity note: the reference system (/root/reference/dpp.py) has
no vector or similarity support of any kind; this implements the
north-star extension rows "Similarity search" of SURVEY §2.2.10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bucketed_topk",
    "cosine_cross_set_pairs",
    "cosine_near_dup_pairs",
    "cosine_topk",
    "dot",
    "hyperplane_buckets",
    "hyperplane_topk",
    "ivf_assign",
    "ivf_assign_codebook",
    "ivf_build",
    "ivf_build_trained",
    "ivf_cell_stats",
    "ivf_topk",
    "ivf_train_centroids",
    "release_codebook_broadcasts",
    "kmeans_embeddings_exact",
    "l2_norm",
    "random_hyperplanes",
    "rrf_fuse",
    "semantic_dedup",
    "embedding_drift_report",
    "embedding_health_stats",
    "hard_negatives",
    "random_projection",
    "sign_buckets",
]


from ._util import conf_session as _conf_session
from ._util import rebind as _rebind
from ._util import register_session_cache as _register_session_cache
from ._util import sweep_session_caches as _sweep_session_caches
from .skew import topk_per_group as _topk_per_group


def dot(a: str, b: str) -> F.Column:
    """Left-to-right double-precision dot product of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def l2_norm(a: str) -> F.Column:
    """sqrt of the left-to-right sum of squares (double precision)."""
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
    )


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, cosine) top-k per query.

    One ``skew.topk_per_group`` window whose row number is the rank.
    A handful of queries against a large corpus would funnel every
    scored candidate into |queries| reducers, but Spark's window group
    limit (k ≤ ``spark.sql.optimizer.windowGroupLimitThreshold``, 1000)
    keeps each map partition's top-k per query before the exchange, so
    the exchange carries ≤ partitions × queries × k rows.
    """
    return _topk_per_group(
        scored.select("query_id", "neighbor_id", "cosine"),
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        k,
        rank_col="rank",
    ).select("query_id", "rank", "neighbor_id", "cosine")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, rank, neighbor_id, cosine), rank 1..k, excluding
    the query row itself; ties broken by ascending neighbor id so the
    result is a total order.

    Scale posture: ``queries`` is broadcast (it must be small — this is
    the verifier/baseline tier); the corpus side streams through a
    broadcast nested-loop join with no shuffle, and the only wide
    operation is the per-query top-k window over |queries| x |corpus|
    scored rows, partitioned on query_id (perfectly distributed for a
    small query set when AQE splits skew).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        )
    )
    return _ranked_topk(scored, k)


def sign_buckets(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 4,
) -> DataFrame:
    """Deterministic sign-LSH bucket id from the first ``n_bits`` dims.

    bucket = sum over i < n_bits of (vec[i] >= 0) << i.  Axis-aligned
    hyperplanes keep the construction reproducible in plain SQL on any
    engine (no stored random planes), which is what the differential
    oracle needs; swapping in md5-seeded random hyperplanes is a local
    change to this one expression.

    Returns the input plus a ``bucket`` int column.
    """
    bits = [
        F.when(F.element_at(F.col(vec_col), i + 1) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i in range(n_bits)
    ]
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).alias(vec_col),
        bucket.cast("int").alias("bucket"),
    )


def random_hyperplanes(
    dim: int, n_bits: int, seed: int = 42
) -> list[list[int]]:
    """``n_bits`` random hyperplane normals of dimension ``dim``.

    INTEGER-valued coefficients (uniform in [-1000, 1000]), deliberately:
    integer literals convert to double exactly in every engine, so a
    differential oracle that embeds the same literals reproduces the
    Spark-side sign fold bit-for-bit — a fractional-literal plane could
    disagree in the last ulp through a DECIMAL parse.  A discretized
    uniform direction is as good an LSH direction as a Gaussian one at
    this granularity.  Deterministic per (dim, n_bits, seed): the planes
    are regenerable anywhere, nothing needs to be stored or broadcast.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.integers(-1000, 1001, size=(n_bits, dim))
    # A degenerate all-zero normal would put every vector on the plane;
    # regenerate such rows (probability ~2001^-64, but cheap to guard).
    for j in range(n_bits):
        while not planes[j].any():  # pragma: no cover
            planes[j] = rng.integers(-1000, 1001, size=dim)
    return planes.tolist()


def hyperplane_buckets(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_bits: int = 8,
    seed: int = 42,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Random-hyperplane sign-LSH bucket id (the strictly-better upgrade
    over :func:`sign_buckets`' axis-aligned planes: every bit now mixes
    ALL dimensions, so bucket occupancy is balanced even when leading
    dimensions are correlated or near-constant).

    bit j = [vec · plane_j >= 0]; bucket = Σ bit_j << j.  The planes are
    integer literals folded left-to-right in double precision (same
    construction as :func:`dot`), entirely inside whole-stage codegen —
    n_bits × dim multiply-adds per row, no shuffle, no stored model.
    """
    planes = random_hyperplanes(dim, n_bits, seed)
    bucket = None
    for j, plane in enumerate(planes):
        arr = "array(" + ",".join(str(c) for c in plane) + ")"
        dot_j = F.expr(
            f"aggregate(zip_with({vec_col}, {arr}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bit = F.when(dot_j >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return df.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).alias(vec_col),
        *[F.col(c) for c in keep],
        bucket.cast("int").alias("bucket"),
    )


def hyperplane_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 5,
    n_bits: int = 8,
    seed: int = 42,
    multi_probe: bool = False,
) -> DataFrame:
    """:func:`bucketed_topk` with random-hyperplane buckets: candidates
    restricted to the query's bucket, re-ranked by exact cosine.  Same
    scale shape (bucket equality join, broadcast query side); better
    recall/occupancy tradeoff than the axis-aligned quantizer.

    ``multi_probe=True`` probes the query's bucket AND every bucket at
    Hamming distance 1 (flip each of the n_bits sign bits) — the
    standard multi-probe LSH recall lever (Lv et al., VLDB '07): a true
    neighbor that disagrees with the query on exactly one hyperplane is
    recovered at the cost of (n_bits+1)× more candidate probes, still
    bucket-bounded and broadcast on the query side (measured on the
    fixture: recall@5 rises ~10× over single-probe at n_bits=6).  The
    corpus side is computed ONCE either way; only the query fan-out
    grows."""
    qb = hyperplane_buckets(
        queries, id_col=id_col, vec_col=vec_col, dim=dim,
        n_bits=n_bits, seed=seed,
    ).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j))
                for j in range(n_bits)
            ],
        )
        qb = qb.select(
            "query_id", "qv", F.explode(probes).alias("bucket")
        )
    cb = hyperplane_buckets(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim,
        n_bits=n_bits, seed=seed,
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "bucket",
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        )
    )
    return _ranked_topk(scored, k)


def _stride_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, stride: int
) -> DataFrame:
    """Deterministic coarse centroids: every ``stride``-th corpus vector.

    Stride sampling instead of k-means: reproducible on any engine with
    one filter (the differential oracle needs that), no iterative
    training job, and for ANN recall what matters is that cells
    partition the corpus into balanced neighborhoods — data points ARE
    draws from the data distribution, so sampled points track density
    the same way k-means++ seeding does (sans the Lloyd refinement).
    Swap in a trained codebook by passing your own centroid frame to
    :func:`ivf_assign`."""
    return corpus.filter((F.col(id_col) % stride) == 0).select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centroid")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid cells.

    Centroids broadcast (they are the small codebook by construction);
    the |df| × |centroids| scoring is map-side, and the per-vector
    arg-top-n_probe is one window over the vector id — at 100 TB a
    shuffle on a perfectly-distributed key.  Ties break on cell_id so
    assignment is a pure function of the data.  Returns (id, vec, cell,
    cell_rank ≤ n_probe)."""
    scored = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).crossJoin(F.broadcast(centroids))
    scored = scored.withColumn(
        "__sim", dot("__v", "centroid") / (l2_norm("__v") * l2_norm("centroid"))
    )
    if n_probe == 1:
        # Corpus-side fast path (the inverted-file BUILD): the argmax
        # cell is a plain hash aggregate with ``max_by`` over an
        # order-struct (sim DESC, then cell_id ASC via negation — the
        # same total order the window uses), which partial-aggregates
        # map-side: the shuffle carries |df| rows, not the
        # |df| × |centroids| scored rows a row_number window sorts.
        # At a 100 TB corpus × 256-cell codebook that is a 256×
        # exchange-volume reduction on the indexing pass.  ``__v`` is
        # constant per __id, so ``any_value`` is exact.
        ordkey = F.struct(F.col("__sim"), (-F.col("cell_id")).alias("nc"))
        return (
            scored.groupBy("__id")
            .agg(
                F.max_by(F.col("cell_id"), ordkey).alias("cell"),
                F.any_value(F.col("__v")).alias("__vv"),
            )
            .select(
                F.col("__id").alias(id_col),
                F.col("__vv").alias(vec_col),
                "cell",
                F.lit(1).alias("cell_rank"),
            )
        )
    return _topk_per_group(
        scored,
        ["__id"],
        [F.col("__sim").desc(), F.col("cell_id")],
        n_probe,
        rank_col="cell_rank",
    ).select(
        F.col("__id").alias(id_col),
        F.col("__v").alias(vec_col),
        F.col("cell_id").alias("cell"),
        "cell_rank",
    )


def ivf_build(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 40,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index ONCE: (centroids, inverted_file).

    The inverted-file build scores |corpus| × |cells| pairs — the
    one-time INDEX cost that production amortizes over every later
    query batch (measured r9 at 500 k × 64 cells: the build dominates
    a single ``ivf_topk`` call end-to-end, while the per-batch query
    phase over a prebuilt index is ~20× cheaper than brute force).
    Persist/checkpoint the returned inverted file and pass both frames
    to :func:`ivf_topk` via ``prebuilt=`` for batch serving."""
    cents = _stride_centroids(corpus, id_col, vec_col, centroid_stride)
    inv_file = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, n_probe=1
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "cell",
    )
    return cents, inv_file


def ivf_train_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: "int | str" = "auto",
    sample_per_cell: int = 32,
    lloyd_rounds: int = 2,
    balance_rounds: int = 2,
    balance_factor: float = 2.0,
    max_cells: int = 65536,
    max_sample: int = 1_000_000,
) -> DataFrame:
    """Data-aware IVF codebook: numpy Lloyd over a bounded hash-sample.

    The stride codebook (:func:`_stride_centroids`) takes the first k
    vectors by id — data-blind seeds that risk badly skewed cell sizes
    on clustered corpora (skew degrades probe cost, not correctness).
    This trains instead:

    - ``cells="auto"`` sizes the codebook toward √n (the classic IVF
      sweet spot: probe cost ~ n/c per cell, assignment cost ~ c per
      vector, balanced at c = √n), floored at 16;
    - the training set is a DETERMINISTIC hash-sample
      (``xxhash64(id) % denom == 0``) of ~``cells × sample_per_cell``
      vectors — bounded model-state, NOT data-sized, so the driver
      collect follows the same discipline as k-means seeds and vocab
      tables;
    - ``lloyd_rounds`` of spherical Lloyd (cosine assignment, raw-mean
      update, empty cells keep their seed) run driver-side in numpy —
      the training matrix is sample-sized, so no Spark jobs beyond the
      count and the sample scan;
    - ``balance_rounds`` of deterministic split/steal rebalancing
      (r11): plain Lloyd on clustered data leaves fat cells (measured
      r10 at 2 M: max/mean 7.07 — probe cost on the fattest cell ~7×
      the balanced cost).  Each round assigns the sample, SPLITS every
      cell holding more than ``balance_factor`` × mean sample mass at
      the median of its highest-variance dimension, reseeding the new
      half onto the emptiest cells (< mean/2 — their members are
      absorbed by neighbors), then polishes with one Lloyd round.
      All numpy, all deterministic — training twice still yields the
      identical codebook.  ``balance_rounds=0`` restores the r10
      behavior;
    - ``max_cells`` / ``max_sample`` bound the DRIVER state: auto
      codebooks stop growing at ``max_cells`` (beyond that a second
      index level is the right structure, not a fatter codebook) and
      the training sample never exceeds ``max_sample`` vectors no
      matter how large the corpus — at n = 10¹² an uncapped √n × 32
      sample would be ~8 GB of driver memory.

    Returns a (cell_id, centroid) frame compatible with
    :func:`ivf_assign` / :func:`ivf_topk`; the raw float64 codebook is
    attached as ``.codebook`` for :func:`ivf_assign_codebook`.  Scores
    here are numpy-summed, not the HOF left-fold — this is the scale
    tier, not the differential-oracle tier (``sim_topk_ivf`` keeps the
    stride path)."""
    import numpy as np

    if sample_per_cell < 1:
        raise ValueError(f"sample_per_cell must be ≥ 1, got {sample_per_cell}")
    n = corpus.count()
    if n == 0:
        raise ValueError("cannot train an IVF codebook on an empty corpus")
    if cells == "auto":
        c = min(max(16, int(round(n ** 0.5))), max_cells)
    elif isinstance(cells, bool) or not isinstance(cells, int):
        raise ValueError(f"cells must be an int or 'auto', got {cells!r}")
    else:
        c = cells
    c = max(1, min(c, n))

    sample_target = min(c * sample_per_cell, max(max_sample, c))
    denom = max(1, n // sample_target)
    rows = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .filter(F.pmod(F.xxhash64(F.col("__id")), F.lit(denom)) == 0)
        .orderBy("__id")
        .collect()
    )
    X = np.asarray([list(r["__v"]) for r in rows], dtype=np.float64)
    if len(X) < c:
        c = max(1, len(X))
    stride = max(1, len(X) // c)
    C = X[::stride][:c].copy()
    c = len(C)

    def _norm(m):
        return np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)

    Xn = X / _norm(X)
    for _ in range(max(0, lloyd_rounds)):
        a = np.argmax(Xn @ (C / _norm(C)).T, axis=1)
        for j in range(c):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)

    # split/steal rebalance: fat cells (> balance_factor × mean sample
    # mass) are split at the median of their widest dimension; the new
    # half is reseeded onto the emptiest cells, whose few members are
    # absorbed by neighbors on the next assignment.  Sample mass is the
    # estimator of true cell mass (a 7×-mean cell holds ~7 ×
    # sample_per_cell sample members — far above counting noise).
    for _ in range(max(0, balance_rounds)):
        a = np.argmax(Xn @ (C / _norm(C)).T, axis=1)
        counts = np.bincount(a, minlength=c)
        mean_mass = len(X) / c
        if counts.max() <= balance_factor * mean_mass:
            break
        order = np.argsort(counts, kind="stable")
        donors = [j for j in order[::-1] if counts[j] > balance_factor * mean_mass]
        recips = [j for j in order if counts[j] < 0.5 * mean_mass]
        for d_, r_ in zip(donors, recips):
            members = X[a == d_]
            dim = int(np.argmax(members.var(axis=0)))
            med = float(np.median(members[:, dim]))
            lo = members[members[:, dim] <= med]
            hi = members[members[:, dim] > med]
            if len(lo) == 0 or len(hi) == 0:
                continue  # degenerate cell (constant dim) — leave it
            C[d_] = lo.mean(axis=0)
            C[r_] = hi.mean(axis=0)
        # polish: one Lloyd round re-settles boundaries after the moves
        a = np.argmax(Xn @ (C / _norm(C)).T, axis=1)
        for j in range(c):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)

    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(C)],
        schema="cell_id long, centroid array<double>",
    )
    cents.codebook = C
    return cents


# one live Broadcast per (application, codebook contents): repeated index
# builds over the same codebook reuse the executor-resident copy instead
# of accumulating fresh broadcasts (the same leak class BloomSketch's
# cache/release closed in r10 for bloom bitmaps).  Dead-session handles
# are dropped by the shared sweep (their executors are gone; destroy is
# best-effort on whatever driver state remains).
def _drop_codebook_broadcast(_key, bc) -> None:
    bc.unpersist(blocking=False)
    bc.destroy()


_CODEBOOK_BC_CACHE: dict = _register_session_cache(
    {}, cleanup=_drop_codebook_broadcast
)


def _codebook_broadcast(spark, Cn):
    """Session-cached Spark broadcast of a normalized codebook matrix.

    Keyed by (applicationId, md5-of-bytes) so identical codebooks share
    one executor copy and a new session never reuses a dead handle.
    Release with :func:`release_codebook_broadcasts` when rotating
    indexes in a long-lived session."""
    import hashlib

    key = (
        spark.sparkContext.applicationId,
        hashlib.md5(Cn.tobytes()).hexdigest(),
    )
    bc = _CODEBOOK_BC_CACHE.get(key)
    if bc is None:
        _sweep_session_caches(key[0])
        bc = spark.sparkContext.broadcast(Cn)
        _CODEBOOK_BC_CACHE[key] = bc
    return bc


def release_codebook_broadcasts() -> int:
    """Destroy every cached codebook broadcast and empty the cache.

    The epoch-rotation path for long-lived ingest sessions that rebuild
    IVF indexes: without it each retrained codebook would pin another
    (c × d) float64 matrix on the driver and every executor for the
    application lifetime.  Returns the number of broadcasts released.
    Safe after session teardown (destroy failures are swallowed, the
    cache is cleared regardless)."""
    n = 0
    for bc in _CODEBOOK_BC_CACHE.values():
        try:
            bc.unpersist(blocking=False)
            bc.destroy()
            n += 1
        except Exception:
            pass  # session already gone — nothing to free
    _CODEBOOK_BC_CACHE.clear()
    return n


def ivf_assign_codebook(
    df: DataFrame,
    codebook,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MAP-ONLY nearest-cell assignment against a driver-held codebook.

    The relational build path (:func:`ivf_assign`) explodes |df| ×
    |cells| scored rows through Catalyst HOF evaluation and aggregates
    them back — correct, oracle-replayable, but the indexing pass pays
    the row explosion.  This is the throughput tier: the (c × d)
    normalized codebook ships once per executor as a Spark broadcast
    and an Arrow-batched pandas UDF does a blocked matmul-argmax per
    record batch — zero shuffle, zero row explosion, O(1)-size plan.
    At c = √n cells the per-vector cost is c·d flops of BLAS instead of
    c·d interpreted expression nodes (measured r10: ~19× faster build
    at 2 M × 1414 cells than the relational path at 64 cells).

    Ties break toward the LOWER cell id (numpy argmax first-max), the
    same direction as :func:`ivf_assign`'s order-struct.  Returns
    (id, vec, cell) — one row per input row.

    The broadcast is cached per (application, codebook contents) —
    repeated builds reuse one executor copy; rotate indexes with
    :func:`release_codebook_broadcasts` to free retired codebooks."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cb = np.asarray(codebook, dtype=np.float64)
    Cn = Cb / np.maximum(np.linalg.norm(Cb, axis=1, keepdims=True), 1e-30)

    spark = df.sparkSession
    bc = _codebook_broadcast(spark, Cn)

    def _argmax_cell(vecs):
        M = bc.value
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(X) == 0:
            return pd.Series([], dtype="int64")
        # cosine argmax: row norms are per-row constants, so argmax of
        # X @ Cn.T equals argmax of the full cosine — skip normalizing X
        return pd.Series(np.argmax(X @ M.T, axis=1).astype(np.int64))

    # real annotations: `from __future__ import annotations` would leave
    # pandas_udf's hint inspection with unresolvable string literals
    _argmax_cell.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    _cell = pandas_udf(_argmax_cell, "long")

    return df.select(
        F.col(id_col),
        F.col(vec_col),
        _cell(F.col(vec_col)).alias("cell"),
    )


def ivf_build_trained(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: "int | str" = "auto",
    sample_per_cell: int = 32,
    lloyd_rounds: int = 2,
    balance_rounds: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """:func:`ivf_build` with a trained codebook and the map-only
    assignment pass — the 100 TB indexing tier.

    Same return contract as :func:`ivf_build` (pass straight to
    :func:`ivf_topk` via ``prebuilt=``); differs in that centroids come
    from :func:`ivf_train_centroids` (data-aware, cells ∝ √n) and the
    inverted file is built by :func:`ivf_assign_codebook` (broadcast
    codebook + Arrow matmul-argmax: no |corpus| × |cells| row
    explosion, no shuffle).  Query-side probing is unchanged — the
    centroid frame joins through the same ``ivf_assign`` path, so
    recall tunes via ``n_probe`` exactly as before.
    ``balance_rounds`` (default 2, r11) forwards to the split/steal
    rebalance — at 2 M it cut cell skew max/mean 7.07 → 2.18 at
    recall@10 = 0.9938 (BENCH_ann_scale_r11); pass 0 for the r10
    behavior."""
    cents = ivf_train_centroids(
        corpus, id_col=id_col, vec_col=vec_col, cells=cells,
        sample_per_cell=sample_per_cell, lloyd_rounds=lloyd_rounds,
        balance_rounds=balance_rounds,
    )
    inv_file = ivf_assign_codebook(
        corpus, cents.codebook, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "cell",
    )
    return cents, inv_file


def ivf_cell_stats(inv_file: DataFrame) -> dict:
    """Cell-occupancy skew report for an inverted file: one aggregation
    over the per-cell counts (the counts frame is |cells| rows — model
    state, never data).  ``max_over_mean`` is the probe-cost skew
    factor: a query probing the biggest cell pays that multiple of the
    balanced cost."""
    counts = inv_file.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    row = counts.agg(
        F.count(F.lit(1)).alias("cells"),
        F.sum("n").alias("total"),
        F.min("n").alias("min"),
        F.max("n").alias("max"),
        F.avg("n").alias("mean"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.99)").alias("p99"),
    ).collect()[0]
    d = row.asDict()
    d["max_over_mean"] = (
        float(d["max"]) / float(d["mean"]) if d["mean"] else float("nan")
    )
    return d


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_stride: int = 40,
    n_probe: int = 2,
    prebuilt: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """IVF-style approximate top-k: inverted-file coarse quantization.

    The classic two-level ANN structure re-expressed relationally:

    1. codebook = stride-sampled centroids (broadcastable by design);
    2. every corpus vector is indexed into its SINGLE nearest cell (the
       inverted file — one equality-joinable cell key per vector);
    3. each query probes its ``n_probe`` nearest cells (recall knob);
    4. candidates = cell-equality join of query probes × inverted file,
       re-ranked by exact cosine → precision 1 within recalled cells.

    Versus sign/hyperplane LSH: cells adapt to the data distribution
    (centroids sit where vectors are dense) instead of cutting space
    with data-blind planes, and recall tunes smoothly via ``n_probe``
    without re-indexing.  Scale shape is identical — one shuffle to
    build the inverted file, bucket-equality join for candidates, never
    a corpus×corpus product.

    ``prebuilt=(centroids, inverted_file)`` from :func:`ivf_build`
    skips the index construction — the batch-serving path: the build
    scores |corpus| × |cells| pairs once, every later query batch only
    pays the probe join over its recalled cells."""
    if prebuilt is not None:
        cents, inv_file = prebuilt
    else:
        cents, inv_file = ivf_build(
            corpus, id_col=id_col, vec_col=vec_col,
            centroid_stride=centroid_stride,
        )
    probes = ivf_assign(
        queries, cents, id_col=id_col, vec_col=vec_col, n_probe=n_probe
    ).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cell"
    )
    scored = (
        inv_file.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        )
        # no dedup needed: each corpus vector lives in exactly ONE cell
        # of the inverted file, so a (query, neighbor) pair matches
        # through at most one probed cell
        .select("query_id", "neighbor_id", "cosine")
    )
    return _ranked_topk(scored, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine ≥ threshold.

    The all-pairs comparison is restricted to a sign-LSH bucket equality
    self-join — at 100 TB one shuffle on the bucket key with ~corpus/2^n_bits
    candidates per bucket, never a cartesian product.  True near-duplicates
    have near-parallel vectors, so their sign patterns agree and bucket
    recall is high by construction; pairs whose leading-dimension signs
    straddle a hyperplane are the documented miss case (trade n_bits for
    recall).
    """
    b = sign_buckets(df, id_col=id_col, vec_col=vec_col, n_bits=n_bits)
    a_side = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("qv"), "bucket"
    )
    b_side = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("cv"), "bucket"
    )
    return (
        a_side.join(b_side, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    k: int = 5,
    c: int = 60,
    scale: int = 10**12,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR '09)
    over N rank lists — the standard hybrid-retrieval combiner (lexical
    BM25 ⊕ embedding ANN): each candidate scores
    Σ_ranker 1/(c + rank), c=60 as published.

    Hash-exact: each reciprocal is the integer ``scale div (c+rank)``
    so the fused score is an exact BIGINT sum — no float order
    sensitivity, and ranker-count ties resolve by id (at scale=1e12 the
    floor perturbs each term by <1e-12 relative, far below any
    rank-separation of interest).  Scale shape: a union of the
    (already top-k-bounded) rank lists, ONE groupBy on
    (query, candidate), one per-query window — every input list is
    |queries|·k rows, so the fusion never touches corpus-sized data.

    Returns (query_id, rank, doc_id, rrf_score_e12, n_sources)."""
    if not rankings:
        raise ValueError("need at least one ranking")
    parts = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            F.col(rank_col).cast("bigint").alias("__r"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum(
            F.expr(f"CAST({int(scale)} AS BIGINT) div ({int(c)} + __r)")
        ).alias("rrf_score_e12"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return _topk_per_group(
        fused,
        ["query_id"],
        [F.col("rrf_score_e12").desc(), F.col("doc_id").asc()],
        k,
        rank_col="rank",
    ).select("query_id", "rank", "doc_id", "rrf_score_e12", "n_sources")


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 5,
    threshold: float = 0.95,
    scale: int = 1_000_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication with the pairwise comparison bounded to k-means
    cells.  Cluster the corpus (bit-deterministic
    :func:`kmeans_embeddings_exact`), compare embeddings ONLY within
    each cluster, and drop every vector that has a lower-id neighbor
    in its cluster with cosine ≥ ``threshold`` — the deterministic
    stand-in for the paper's keep-one-exemplar-per-group rule (the
    survivor of each near-dup group is its minimum id).

    Returns (id_col, cluster, dropped) for every input vector —
    callers filter ``dropped = 0`` to materialize the deduplicated
    corpus or aggregate per cluster for the audit report.

    Scale shape: the quadratic term is per-cluster, exactly as
    published — the paper runs k ∝ corpus size so expected cluster
    size stays bounded (they use k=50k on LAION); here the cluster
    equality self-join is one shuffle on the cluster key and never a
    corpus×corpus product.  The k-means stage is map-only literal
    assignment with k×d driver state."""
    assigned = kmeans_embeddings_exact(
        df, id_col=id_col, vec_col=vec_col, k=k,
        iterations=iterations, scale=scale,
    )
    base = (
        df.select(id_col, vec_col)
        .join(assigned, id_col)
        .localCheckpoint(eager=False)
    )
    a_side = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("qv"), "cluster"
    )
    b_side = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("cv"), "cluster"
    )
    dropped = (
        a_side.join(b_side, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    return (
        base.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce("__drop", F.lit(0)).cast("int").alias("dropped"),
        )
    )


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    re-ranked by exact cosine.  (query_id, rank, neighbor_id, cosine).

    The cross join becomes an equality join on ``bucket`` — at 100 TB
    this is one shuffle on a low-cardinality key (or a broadcast of the
    bucketed query set), and each bucket's candidate set is ~corpus/2^n_bits.
    Recall < 1 by construction; callers trade n_bits for recall.
    """
    qb = sign_buckets(
        queries, id_col=id_col, vec_col=vec_col, n_bits=n_bits
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        "bucket",
    )
    cb = sign_buckets(
        corpus, id_col=id_col, vec_col=vec_col, n_bits=n_bits
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "bucket",
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        )
    )
    return _ranked_topk(scored, k)


def kmeans_embeddings_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Bit-deterministic Lloyd's k-means over an embedding column — the
    corpus-diversity / semantic-bucketing primitive (cluster-balanced
    sampling, per-topic quotas, semantic dedup at the cluster level).
    EVERY quantity is a BIGINT —

      u_d        = floor(x_d · scale + 0.5)        (per-dim quantize)
      dist(v, c) = Σ_d (u_d − c_d)²                (exact BIGINT)
      c'_d       = floor(Σ u_d / n)                (floor division)

    — so assignment argmin (first-match tie-break), centroid
    trajectory, and final clusters are bit-identical under any
    partitioning AND replayable as pure integer SQL: a DuckDB twin
    unrolling the fixed iteration count hash-matches, so the
    registered query is hash-checked (the ``pagerank_exact``
    discipline applied to clustering; quantization at 1e-6 moves
    cluster boundaries by ≤1 unit — immaterial for corpus bucketing).
    Spark-first shape, per iteration: map-only literal-centroid
    assignment (no shuffle), a ``posexplode`` into a partial-aggregated
    ``groupBy(cluster, pos)`` whose shuffle carries only k×d integer
    partials per map task, and exactly the k×d centroid matrix as
    driver state (never data rows).  Seeds = the k lowest-id vectors.  Fixed
    ``iterations`` (no early convergence break) so both engines run
    the identical schedule.  Empty clusters keep their previous
    centroid.  Overflow headroom: |u| ≤ ~scale ⇒ per-dim square ≤
    4·scale², ×64 dims ≈ 2.6e14 ≪ 2⁶³.  Returns (id, cluster) with the
    final integer ``centroids`` list attached as an attribute."""
    uexpr = (
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {int(scale)} + 0.5d) AS BIGINT))"
    )
    vecs = (
        df.select(
            F.col(id_col).alias("__id"), F.expr(uexpr).alias("__u")
        )
        .filter(F.col("__u").isNotNull())
        .localCheckpoint(eager=False)
    )
    seed_rows = vecs.orderBy("__id").limit(k).select("__u").collect()
    centroids = [list(map(int, r["__u"])) for r in seed_rows]
    if len(centroids) < k:
        raise ValueError(
            f"need at least k={k} vectors, got {len(centroids)}"
        )

    def assign(frame: DataFrame) -> DataFrame:
        # ONE expression string per assignment: the Column-algebra form
        # built k×d F.lit().cast() literals (512+ py4j round trips and a
        # giant eager analyzer pass) PER iteration — ~3000 round trips
        # per 5-iteration run for what is a fixed literal table
        # (OPTIMIZATION_r11.md; guide §4 applied at plan-build time).
        # The SQL text is the exact same tree: bigint literals, zip_with
        # squared-diff, bigint aggregate, first-match argmin.
        dists = "array({})".format(", ".join(
            "aggregate(zip_with(__u, array({}), "
            "(a, b) -> (a - b) * (a - b)), "
            "cast(0 as bigint), (acc, x) -> acc + x)".format(
                ", ".join(f"{int(cd)}L" for cd in c)
            )
            for c in centroids
        ))
        return frame.selectExpr(
            "*",
            f"cast(array_position({dists}, array_min({dists})) - 1 as int)"
            " AS cluster",
        )

    # r12 update-fusion A/B (measured; observed-metrics REJECTED): the
    # k×d sums as Observation accumulators during a noop assignment
    # pass would make each iteration one map-only job, but CollectMetrics
    # evaluates its 520-field aggregate buffer with INTERPRETED
    # projections — ~0.7-0.9 s/pass vs ~0.3 s for this codegen'd
    # shuffle at sf0.01, and strictly worse per row at scale.  Two more
    # rejected forms, same probe: flat-expanded squared distances
    # (codegen fallback, 4-5× slower than the zip_with HOF) and the
    # centroid matrix as ONE nested-array literal (py4j/analysis of the
    # nested literal ~5× the literal-SQL build).  What stays: the update
    # collect runs in a per-call session clone with AQE off — the update
    # is a FIXED k×d-group two-stage aggregate whose output is k×d rows,
    # so runtime re-planning can neither coalesce anything useful nor
    # hit skew at ANY scale, and dropping it halves the per-iteration job
    # count (2 → 1, same-or-better wall, measured).  Only the clone's
    # conf says so: the caller's session keeps AQE on, and so does any
    # query another driver thread plans meanwhile.
    no_aqe = _conf_session(
        vecs.sparkSession, **{"spark.sql.adaptive.enabled": "false"}
    )
    for _ in range(iterations):
        sums = _rebind(
            assign(vecs)
            .select("cluster", F.posexplode(F.col("__u")).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")),
            no_aqe,
        ).collect()
        new_centroids = [list(c) for c in centroids]
        for r in sums:
            # Python // floors toward -inf, matching DuckDB's // on the
            # possibly-negative sums (Spark never computes this — the
            # update is driver-side k×d state, the one place a floor
            # semantic mismatch could hide)
            new_centroids[r["cluster"]][r["pos"]] = int(r["s"]) // int(r["n"])
        centroids = new_centroids

    result = assign(vecs).select(
        F.col("__id").alias(id_col), "cluster"
    )
    result.centroids = centroids
    return result


# --------------------------------------------------------------------- #
# scalar quantization (SQ8) ANN                                         #
# --------------------------------------------------------------------- #

def sq8_dimension_scales(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension max-abs scales as a ONE-ROW array frame (pos-sorted).

    The SQ8 'codebook': dimension d maps x → floor(x / m_d · 127), an
    int8-range code.  Computed with one posexplode + per-dim max (max is
    order-insensitive → engine-deterministic on doubles) and carried as
    a broadcastable single row — 64 doubles of model state that never
    touches the driver."""
    return (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("m"))
        .groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
        )
        .select(F.expr("transform(pm, p -> p.m)").alias("ms"))
    )


def _sq8_codes(vec: str) -> F.Column:
    """int64 SQ8 codes for an array column against the `ms` scales."""
    return F.expr(
        f"zip_with({vec}, ms, (x, m) -> CASE WHEN m = 0.0 THEN 0 "
        f"ELSE CAST(floor(CAST(x AS DOUBLE) / m * 127.0) AS BIGINT) END)"
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 20,
) -> DataFrame:
    """Top-k cosine via SQ8 scalar quantization: integer-dot shortlist,
    exact re-rank.  (query_id, rank, neighbor_id, cosine), rank 1..k.

    The 100 TB rationale: the shortlist pass compares 8-bit codes with
    an exact BIGINT dot product — 4× less memory traffic than float32
    and, because the arithmetic is integer, bit-deterministic across
    engines and partitionings (no float-summation-order drift in the
    candidate cut).  Only the ≤ ``shortlist`` survivors per query pay
    the double-precision cosine.  Same broadcast-queries posture as
    ``cosine_topk``; recall is governed by ``shortlist`` (quantization
    can reorder near-ties, the re-rank cannot recover a vector the
    integer pass dropped).
    """
    from ._util import swap_cache

    # One-row frame referenced by both quantization sides — persist so
    # the posexplode+max subtree runs once, not once per reference.
    scales = swap_cache("sq8_scales", sq8_dimension_scales(corpus, vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).crossJoin(F.broadcast(scales)).select(
        "query_id", "qv", _sq8_codes("qv").alias("qq")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).crossJoin(F.broadcast(scales)).select(
        "neighbor_id", "cv", _sq8_codes("cv").alias("cq")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn(
        "qscore",
        F.expr(
            "aggregate(zip_with(qq, cq, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ),
    )
    short = _topk_per_group(
        scored.select("query_id", "neighbor_id", "qscore", "qv", "cv"),
        ["query_id"],
        [F.col("qscore").desc(), F.col("neighbor_id")],
        shortlist,
    )
    return _ranked_topk(
        short.withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        ),
        k,
    )


def cosine_cross_set_pairs(
    corpus: DataFrame,
    reference: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 4,
) -> DataFrame:
    """Semantic cross-set matches: (corpus_id, ref_id, cosine ≥
    threshold) between two different sets — the embedding-space
    analogue of benchmark decontamination (n-gram overlap misses
    paraphrases; near-parallel vectors catch them).

    Both sets bucket under the SAME deterministic sign-LSH scheme, so
    the comparison is a bucket equality join: corpus rows only ever
    meet reference rows whose leading-dimension signs agree — one
    shuffle (or a map-side probe when the reference side broadcasts,
    the typical case: eval sets are thousands of rows against a
    billion-doc corpus), never a cross-set cartesian.
    """
    cb = sign_buckets(corpus, id_col=id_col, vec_col=vec_col,
                      n_bits=n_bits).select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("qv"),
        "bucket",
    )
    rb = sign_buckets(reference, id_col=id_col, vec_col=vec_col,
                      n_bits=n_bits).select(
        F.col(id_col).alias("ref_id"),
        F.col(vec_col).alias("cv"),
        "bucket",
    )
    return (
        cb.join(rb, "bucket")
        .withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("corpus_id", "ref_id", "cosine")
    )


def random_projection(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    out_dim: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: embeddings → ``out_dim``
    coarse coordinates, map-only — (id, proj) with
    ``proj[k] = vec · plane_k`` over the same deterministic integer
    planes as the sign-LSH family (:func:`random_hyperplanes`, its own
    seed).  JL says pairwise geometry survives the projection up to
    (1 ± ε) with out_dim = O(log n / ε²), which is what makes cheap
    downstream passes honest: coarse clustering, dedup blocking, or an
    ANN shortlist can run on out_dim doubles instead of the full
    vector, cutting candidate-scoring FLOPs and shuffle width by
    dim/out_dim (8× here) before exact re-ranking on the full column.

    Scale: out_dim × dim multiply-adds per row inside whole-stage
    codegen (the planes are folded as integer literals — no stored
    model, no broadcast, nothing to version); the projection never
    shuffles, so at 100 TB it composes with any downstream consumer's
    own partitioning.
    """
    planes = random_hyperplanes(dim, out_dim, seed)
    comps = []
    for k, plane in enumerate(planes):
        arr = "array(" + ",".join(str(c) for c in plane) + ")"
        comps.append(
            F.expr(
                f"aggregate(zip_with({vec_col}, {arr}, "
                f"(x, y) -> CAST(x AS DOUBLE) * y), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias(f"proj_{k}")
        )
    return df.select(F.col(id_col).alias("id"), F.array(*comps).alias("proj"))


def embedding_covariance_stats(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    scale: int = 1_000,
) -> DataFrame:
    """Exact cross-dimension second moments of an embedding corpus:
    (dim_i, dim_j, n, sum_i, sum_j, sum_ij) for i ≤ j — the covariance
    / PCA / whitening substrate that finds CORRELATED (redundant)
    dimensions, which per-dim health stats (:func:`embedding_health_
    stats`) cannot see.

    Scale shape — the outer-product-aggregation pattern: each Arrow
    batch computes its d×d partial Gram in ONE numpy matmul
    (``U.T @ U`` over quantized int64 units) inside ``mapInPandas``,
    so the shuffle carries d(d+1)/2-row partials per task, never
    vectors — the same sufficient-statistics discipline as
    ``operators/ml.py`` OLS, vectorized for d² terms.  All entries are
    exact BIGINTs (units = floor(x·scale + 0.5)), order-independent,
    hash-checkable against a SQL twin.  Overflow: |u| ≤ scale ⇒ a
    single product ≤ scale²; with scale=1e3 that is 1e6 per row —
    safe to ~9e12 rows per partial in int64.

    The float steps (covariance normalization, eigendecomposition)
    belong on the driver AFTER this checkable surface — d×d numbers,
    not data."""
    import pandas as pd  # noqa: F401 — schema doc

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            u = np.stack([
                np.asarray(v, dtype=np.float64)
                for v in pdf[vec_col]
            ])
            uq = np.floor(u * scale + 0.5).astype(np.int64)
            gram = uq.T @ uq
            sums = uq.sum(axis=0)
            d = uq.shape[1]
            ii, jj = np.triu_indices(d)
            yield pd.DataFrame({
                "dim_i": ii.astype("int64"),
                "dim_j": jj.astype("int64"),
                "n": np.full(len(ii), len(pdf), dtype="int64"),
                "sum_i": sums[ii],
                "sum_j": sums[jj],
                "sum_ij": gram[ii, jj],
            })

    partials = df.select(vec_col).mapInPandas(
        batches,
        schema="dim_i long, dim_j long, n long, sum_i long, "
               "sum_j long, sum_ij long",
    )
    return partials.groupBy("dim_i", "dim_j").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sum_i").cast("bigint").alias("sum_i"),
        F.sum("sum_j").cast("bigint").alias("sum_j"),
        F.sum("sum_ij").cast("bigint").alias("sum_ij"),
    )


def embedding_health_stats(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-dimension corpus QC for an embedding column: (dim, n,
    sum_units, sumsq_units, mean_ppm, var_ppm) in exact scaled
    integers — the health report that catches COLLAPSED dimensions
    (variance ≈ 0: the encoder died or the column was zero-padded) and
    runaway scales before any ANN index is built on garbage.

    Shape: one ``posexplode`` of the vector column → one groupBy(dim)
    with integer-unit partial sums — a single fact-sized shuffle whose
    output is d rows.  Mean/variance are emitted as exact integer
    ratios (⌊Σ/n⌋, ⌊(nΣx²−(Σx)²)/n²⌋ in ppm units), so the report is
    engine-bit-identical with no float accumulation anywhere.
    """
    rows = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "__x")
    ).select(
        "dim",
        F.floor(F.col("__x").cast("double") * F.lit(float(scale))
                + F.lit(0.5)).alias("__u"),
    )
    agg = rows.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__u").alias("sum_units"),
        F.sum(F.col("__u") * F.col("__u")).alias("sumsq_units"),
    )
    # mean/variance as a FIXED sequence of double ops over the exact
    # integer moments (long->double conversion is IEEE-defined, one
    # divide each, then multiply-subtract) — bit-identical on any
    # engine, and no n*sumsq long product that could overflow.
    mean = F.col("sum_units") / F.col("n")
    var = F.col("sumsq_units") / F.col("n") - mean * mean
    return agg.select(
        "dim",
        "n",
        "sum_units",
        "sumsq_units",
        mean.alias("mean_units"),
        var.alias("var_units2"),
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int,
    k: int = 5,
    n_bits: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` corpus vectors with the highest cosine similarity and a
    DIFFERENT label — the negatives nearest the decision boundary,
    which carry most of the gradient signal (the mining step behind
    triplet/InfoNCE training, cf. FaceNet's semi-hard selection).

    Scale shape is :func:`hyperplane_topk`'s, not a labelled cross
    join: candidates are restricted to the anchor's random-hyperplane
    LSH bucket (equality join on bucket, anchor side broadcast), the
    label-mismatch predicate and the exact-cosine re-rank run inside
    that join's codegen stage, and the final per-anchor top-k is one
    ``skew.topk_per_group`` window: Spark limits each map partition to
    its top-k per anchor before the exchange, so a handful of anchors
    never serialize a 100 TB corpus through single reducers.
    Returns (anchor_id, anchor_label, rank, negative_id,
    negative_label, cosine).
    """
    qb = hyperplane_buckets(
        anchors, id_col=id_col, vec_col=vec_col, dim=dim,
        n_bits=n_bits, seed=seed, keep=(label_col,),
    ).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("anchor_label"),
        "bucket",
    )
    cb = hyperplane_buckets(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim,
        n_bits=n_bits, seed=seed, keep=(label_col,),
    ).select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("negative_label"),
        "bucket",
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("anchor_label") != F.col("negative_label"))
        .withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        )
        .select(
            "anchor_id", "anchor_label", "negative_id",
            "negative_label", "cosine",
        )
    )
    return _topk_per_group(
        scored,
        ["anchor_id"],
        [F.col("cosine").desc(), F.col("negative_id")],
        k,
        rank_col="rank",
    ).select(
        "anchor_id", "anchor_label", "rank", "negative_id",
        "negative_label", "cosine",
    )


def embedding_drift_report(
    reference: DataFrame,
    candidate: DataFrame,
    *,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-dimension distribution drift between two embedding corpora
    (reference vs candidate): the QC gate that catches an encoder
    version bump, a normalization change, or a poisoned batch BEFORE
    the candidate vectors pollute an ANN index or training mix.

    Per dimension: exact integer moments for both cohorts (same
    construction as :func:`embedding_health_stats`), then a two-sample
    z statistic ``(mean_c − mean_r) / sqrt(var_r/n_r + var_c/n_c)``
    computed as a FIXED sequence of IEEE double ops over those exact
    integers — deterministic on any engine (the same discipline the
    A/B Welch readout uses) — and a ``drifted`` flag at |z| >
    ``z_threshold``.

    Shape: one union + posexplode → one (dim, cohort) groupBy of
    integer partials (a single fact-sized shuffle, 2·d output rows) →
    a d-row self-join.  Output is dimension-cardinality at any corpus
    size."""
    def moments(df: DataFrame, tag: str) -> DataFrame:
        rows = df.select(
            F.posexplode(F.col(vec_col)).alias("dim", "__x")
        ).select(
            "dim",
            F.floor(
                F.col("__x").cast("double") * F.lit(float(scale))
                + F.lit(0.5)
            ).alias("__u"),
        )
        return rows.groupBy("dim").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum("__u").alias(f"sum_{tag}"),
            F.sum(F.col("__u") * F.col("__u")).alias(f"sumsq_{tag}"),
        )
    j = moments(reference, "ref").join(moments(candidate, "cand"), "dim")
    mean_r = F.col("sum_ref") / F.col("n_ref")
    mean_c = F.col("sum_cand") / F.col("n_cand")
    var_r = F.col("sumsq_ref") / F.col("n_ref") - mean_r * mean_r
    var_c = F.col("sumsq_cand") / F.col("n_cand") - mean_c * mean_c
    se = F.sqrt(var_r / F.col("n_ref") + var_c / F.col("n_cand"))
    # se == 0 (a dimension constant in BOTH cohorts) would make z 0/0:
    # Spark yields NaN (and NaN > t is false-y but |NaN| > t flags
    # drift), DuckDB yields NULL — a latent engine divergence.  Define
    # z = 0 there: identical constants are the opposite of drift.  A
    # constant dim whose VALUE shifted still surfaces via
    # mean_shift_units (se>0 needs within-cohort variance, so a pure
    # level shift of a constant dim has se=0 too — flag it explicitly).
    z = (
        F.when(se > F.lit(0.0), (mean_c - mean_r) / se)
        .when(mean_c - mean_r > F.lit(0.0), F.lit(float("inf")))
        .when(mean_c - mean_r < F.lit(0.0), F.lit(float("-inf")))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "dim",
        "n_ref",
        "n_cand",
        (mean_c - mean_r).alias("mean_shift_units"),
        z.alias("z"),
        (F.abs(z) > F.lit(z_threshold)).cast("int").alias("drifted"),
    )


# --------------------------------------------------------------------- #
# product quantization (PQ / ADC) ANN                                   #
# --------------------------------------------------------------------- #

def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    n_codes: int = 16,
    k: int = 5,
    shortlist: int = 20,
    scale: int = 1000,
) -> DataFrame:
    """Top-k cosine via product quantization with asymmetric-distance
    scoring (Jégou et al., PAMI '11): the vector splits into ``m``
    subspaces, each corpus subvector is replaced by the id of its
    nearest codebook entry (``log2(n_codes)·m`` bits per vector — 16
    codes × 4 subspaces = 4 BYTES for a 64-dim float vector, a 64×
    compression), queries score candidates through a per-query lookup
    table (ADC), and only the ``shortlist`` survivors pay the exact
    double-precision cosine.

    Exactness discipline: all PQ arithmetic is integer — vectors
    quantize to BIGINT units (floor(x·scale + 0.5)), code assignment is
    exact-L2 argmin with a lowest-code tie-break, the ADC score is a
    BIGINT sum of table entries — so codes, shortlists, and final ranks
    are bit-deterministic and the DuckDB twin hash-matches (the
    ``kmeans_embeddings_exact`` discipline applied to PQ).

    Codebook = the ``n_codes`` LOWEST-ID corpus vectors (deterministic,
    engine-reproducible — the stride-centroid argument from
    ``_stride_centroids``; swap in Lloyd-refined codebooks from
    ``kmeans_embeddings_exact`` per subspace for production recall).
    Collected codebook state is n_codes×dim ints — bounded model state,
    the k-means-centroid exception, never fact data.

    Shape at 100 TB: encoding is ONE map-side projection per corpus
    vector against literal codebooks (no shuffle, no Python); the
    query-side LUT is computed on the (small) query frame and ships in
    the same broadcast as the queries; scoring reads 4 bytes per
    corpus vector instead of 256 — the memory-bandwidth win PQ exists
    for.  Same broadcast-queries + per-query top-k posture as sq8_topk.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    uexpr = (
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {int(scale)} + 0.5d) AS BIGINT))"
    )
    cb_rows = (
        corpus.select(F.col(id_col).alias("__id"), F.expr(uexpr).alias("u"))
        .orderBy("__id")
        .limit(n_codes)
        .collect()
    )
    if len(cb_rows) < n_codes:
        raise ValueError(f"need ≥ {n_codes} corpus vectors")
    # codebook[s][j] = integer subvector (dims s·sub .. s·sub+sub-1)
    codebook = [
        [list(map(int, r["u"][s * sub:(s + 1) * sub])) for r in cb_rows]
        for s in range(m)
    ]

    def cb_sql(s: int) -> str:
        # the whole per-subspace codebook as ONE parsed SQL literal —
        # building it from nested F.array(F.lit(...)) costs ~2000 py4j
        # round-trips (measured 14 s of pure plan CONSTRUCTION); a text
        # expression is a single call and Catalyst sees the same
        # array<array<bigint>> node
        return (
            "array("
            + ", ".join(
                "array("
                + ", ".join(f"{int(x)}L" for x in code)
                + ")"
                for code in codebook[s]
            )
            + ")"
        )

    def sub_dists(u_slice: str, s: int) -> F.Column:
        return F.expr(
            f"transform({cb_sql(s)}, cvec -> aggregate("
            f"zip_with({u_slice}, cvec, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x))"
        )

    def encode(frame: DataFrame, out_col: str) -> DataFrame:
        # per subspace: argmin over n_codes distances, tie → lowest
        # code id (array_position returns the FIRST match)
        frame = frame.withColumn("__u", F.expr(uexpr.replace(vec_col, "__v")))
        for s in range(m):
            u_slice = f"slice(__u, {s * sub + 1}, {sub})"
            dists = sub_dists(u_slice, s)
            frame = frame.withColumn(
                f"__c{s}",
                (F.array_position(dists, F.array_min(dists)) - 1)
                .cast("int"),
            )
        return frame.withColumn(
            out_col, F.array(*[F.col(f"__c{s}") for s in range(m)])
        ).drop("__u", *[f"__c{s}" for s in range(m)])

    c = encode(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
        ),
        "codes",
    ).select("neighbor_id", F.col("__v").alias("cv"), "codes")

    # query-side ADC lookup table: lut[s][j] = d²(q_s, codebook[s][j])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__v")
    ).withColumn("__u", F.expr(uexpr.replace(vec_col, "__v")))
    lut_cols = []
    for s in range(m):
        u_slice = f"slice(__u, {s * sub + 1}, {sub})"
        lut_cols.append(sub_dists(u_slice, s).alias(f"__lut{s}"))
    q = q.select(
        "query_id", F.col("__v").alias("qv"), *lut_cols
    )

    adc = sum(
        F.element_at(F.col(f"__lut{s}"), F.col("codes")[s] + 1)
        for s in range(m)
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("adc", adc.cast("bigint"))

    short = _topk_per_group(
        scored.select("query_id", "neighbor_id", "adc", "qv", "cv"),
        ["query_id"],
        [F.col("adc").asc(), F.col("neighbor_id")],
        shortlist,
    )
    return _ranked_topk(
        short.withColumn(
            "cosine", dot("qv", "cv") / (l2_norm("qv") * l2_norm("cv"))
        ),
        k,
    )


def pq_distortion(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    n_codes: int = 16,
    scale: int = 1000,
) -> DataFrame:
    """Per-subspace PQ quantization-error report — the QC gate that
    decides whether a codebook is good enough to serve ``pq_topk``:
    total/mean squared error between each subvector and its assigned
    code (exact BIGINTs, same integer arithmetic as the index), plus
    how many codes the assignment actually uses (dead codes ⇒ wasted
    bits — the PQ analogue of collapsed k-means clusters).  One
    map-side encode pass + one m-row aggregate; same lowest-id
    codebook rule as ``pq_topk`` so the report describes the exact
    index the queries run against.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    uexpr = (
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {int(scale)} + 0.5d) AS BIGINT))"
    )
    cb_rows = (
        corpus.select(F.col(id_col).alias("__id"), F.expr(uexpr).alias("u"))
        .orderBy("__id")
        .limit(n_codes)
        .collect()
    )
    codebook = [
        [list(map(int, r["u"][s * sub:(s + 1) * sub])) for r in cb_rows]
        for s in range(m)
    ]

    def cb_sql(s: int) -> str:
        return (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{int(x)}L" for x in code) + ")"
                for code in codebook[s]
            )
            + ")"
        )

    frame = corpus.select(F.expr(uexpr).alias("__u"))
    per_sub = []
    for s in range(m):
        u_slice = f"slice(__u, {s * sub + 1}, {sub})"
        dists = (
            f"transform({cb_sql(s)}, cvec -> aggregate("
            f"zip_with({u_slice}, cvec, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x))"
        )
        per_sub.append(
            frame.select(
                F.lit(s).cast("int").alias("subspace"),
                F.expr(f"array_min({dists})").alias("d2"),
                (
                    F.expr(f"array_position({dists}, array_min({dists}))")
                    - 1
                ).cast("int").alias("code"),
            )
        )
    allsub = per_sub[0]
    for f in per_sub[1:]:
        allsub = allsub.unionAll(f)
    return allsub.groupBy("subspace").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("d2").cast("bigint").alias("total_d2"),
        F.expr("sum(d2) div count(1)").cast("bigint").alias("mean_d2"),
        F.count_distinct("code").cast("bigint").alias("codes_used"),
    )
