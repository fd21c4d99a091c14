"""Connected components + duplicate-cluster resolution.

Near-dedup produces PAIRS (``dedup.near_dedup_minhash``,
``dedup.jaccard_similar_pairs``); an actual corpus cleanup needs
CLUSTERS — transitive groups of mutually-similar documents — and one
survivor per cluster.  Pairs → clusters is connected components, and at
100 TB the graph does not fit anywhere, so the algorithm here is the
alternating **large-star / small-star** method of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SOCC '14): each round is
two shuffles on node id (a windowed min + an edge rewrite), and the edge
set converges to per-component stars rooted at the component's minimum
id in O(log²) rounds — typically 2–4 for the near-clique clusters LSH
emits.  No driver-side graph, no ``collect()``; per-round state is the
edge list itself.

Reference parity: the reference DSL (dpp.py) has no graph stage; this
implements the cluster-resolution step its users would otherwise do by
hand after a pairwise dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's minimum neighbor.

    Bidirects the edge list, then per node u computes
    ``m = min(neighbors ∪ {u})`` with a windowed min (ONE shuffle on u,
    no groupBy+join round-trip) and rewrites each edge (u, v>u) to
    (v, m)."""
    bidir = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    # No ``.distinct()`` here (r12, guide §2.4): the composite round is
    # always small_star ∘ large_star, the windowed MIN in small_star is
    # unaffected by duplicate rows, and small_star ends with its own
    # distinct — so the round's OUTPUT SET is identical while this
    # intermediate exchange (one full shuffle of the edge list per
    # round) disappears.  Duplicate inflation is bounded: the input is
    # the previous round's distinct set, so this emits at most one row
    # per bidirected input edge.
    return (
        bidir.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint, then connect every
    smaller neighbor (and u itself) to u's minimum neighbor."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    w = Window.partitionBy("u")
    with_min = oriented.withColumn("m", F.min("v").over(w))
    out = with_min.select(
        F.col("v").alias("u"), F.col("m").alias("v")
    ).union(with_min.select("u", F.col("m").alias("v")))
    return out.filter(F.col("u") != F.col("v")).distinct()


def _edge_checksum(edges: DataFrame) -> tuple:
    """Order-independent fingerprint of the edge SET (count + hash sum).

    One action per iteration — the unavoidable cost of a data-dependent
    convergence loop.  The checksum job is also what materializes the
    ``localCheckpoint`` for the round."""
    # NOTE (r12, measured and rejected): running this one-row aggregate
    # with AQE scoped off (the k-means-update treatment) also disables
    # AQE for the TWO star rounds the action materializes — their
    # window shuffles then run at the static 32-partition width instead
    # of coalescing, and the query got slower (tasks/run 199 → 316).
    # The checksum keeps AQE.
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: xxhash64 sums overflow BIGINT under
        # ANSI mode after ~2^32 edges (and nondeterministically before).
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iterations: int = 25,
    eager: bool = True,
) -> DataFrame:
    """(id, component) for every node appearing in ``pairs``; component
    = the minimum node id reachable from it.

    **Eager by design**: calling this function EXECUTES the entire
    iterative algorithm — including the full upstream ``pairs``
    pipeline (e.g. MinHash → LSH → verify) — before returning; the
    returned DataFrame is a materialized result, not a lazy plan.  A
    data-dependent convergence loop cannot be expressed lazily (each
    round's action decides whether another round runs), so laziness is
    unrecoverable here regardless of ``eager``.  Callers that must
    defer the cost should defer the *call*.  ``eager`` DOES NOT defer
    anything: the first convergence checksum runs an action on the
    checkpointed edges immediately after, so with ``eager=False`` the
    upstream pipeline still executes at call time — the flag only moves
    materialization from the checkpoint's own job into the checksum job
    (one fused pass, the pre-r8 behavior) and exists for callers whose
    upstream is trivially cheap and who want one fewer Spark job; the
    deferral window is zero either way.  This propagates to
    ``resolve_duplicates`` and both ``dedup_clusters*`` queries.

    Iterative large-star/small-star with per-round ``localCheckpoint``
    to truncate lineage (an iterated self-join otherwise doubles the
    plan each round).  ``localCheckpoint`` keeps blocks on executors —
    on a long-lived production cluster prefer
    ``spark.sparkContext.setCheckpointDir`` + reliable ``checkpoint``;
    semantics are identical and the swap is one line.

    Convergence: the small-star output is compared by set checksum to
    the previous round; equal checksums = star graphs reached.  Raises
    ``RuntimeError`` after ``max_iterations`` (the bound is O(log² n)
    rounds; 25 covers any graph that fits in storage anywhere).
    """
    # The INITIAL checkpoint is EAGER: the incoming pair list is often
    # an expensive pipeline (MinHash -> LSH -> verify), and round-8
    # sf10 measurement showed the lazy variant re-evaluating that
    # pipeline a second time under AQE + storage pressure (composed
    # clusters 819 s vs 404 s with the edge set materialized up front
    # — the 27M-pair input ran twice).  Eager pins exactly one
    # evaluation before any derived branching; per-round checkpoints
    # below stay lazy (each is materialized once by its own checksum).
    edges = (
        pairs.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=eager)
    )
    prev = _edge_checksum(edges)
    if prev[0] == 0:
        return edges.select(
            F.col("u").alias("id"), F.col("v").alias("component")
        )
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = _edge_checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations"
        )
    # Fixed point = per-component stars oriented (node > root) → every
    # non-root node appears exactly once as u with its root as v.  Roots
    # appear only on the v side; add their self-rows.
    mapping = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return mapping.union(roots).distinct()


def triangle_count(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph:
    (id, n_triangles).

    Classic two-join enumeration with **degree ordering** (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW '11): orient every edge from the lower-(degree, id)
    endpoint to the higher one, so each triangle is enumerated exactly
    once as a<b<c in that order and — the part that matters at 100 TB —
    the join fan-out of a hot node is bounded by its ORIENTED
    out-degree, which degree ordering caps near sqrt(|E|) instead of
    the raw degree.  Two shuffles (wedge join + closing-edge semi
    join), no driver state.
    """
    from ._util import swap_cache

    # The canonical edge list feeds degree counting AND the three-way
    # wedge join (5 plan references) — persist it or the whole upstream
    # subtree replicates per reference and the exchange count explodes.
    undirected = swap_cache(
        "triangle_undirected",
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
    )
    deg = (
        undirected.select(F.col("a").alias("id"))
        .union(undirected.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, id): u -> v iff (deg_u, u) < (deg_v, v)
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    # Same reasoning: the oriented list is referenced three times by the
    # wedge + closing joins.
    oriented = swap_cache(
        "triangle_oriented",
        undirected.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v"),
    )
    # wedges u->v, u->w (v<w in orientation order) closed by edge v->w
    e1 = oriented.select(F.col("u").alias("w_u"), F.col("v").alias("w_v"))
    e2 = oriented.select(F.col("u").alias("w_u"), F.col("v").alias("w_w"))
    wedges = e1.join(e2, "w_u").filter(F.col("w_v") != F.col("w_w"))
    closing = oriented.select(
        F.col("u").alias("w_v"), F.col("v").alias("w_w")
    )
    triangles = wedges.join(closing, ["w_v", "w_w"]).select(
        F.col("w_u").alias("x"), F.col("w_v").alias("y"), F.col("w_w").alias("z")
    )
    per_node = (
        triangles.select(F.col("x").alias("id"))
        .union(triangles.select(F.col("y").alias("id")))
        .union(triangles.select(F.col("z").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.select("id").join(per_node, "id", "left").select(
        "id", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def _broadcast_if_fits(frame: DataFrame, n_rows: int, bytes_per_row: int = 32):
    """Gated broadcast for the per-round rank/frontier attach join.

    The attach side of an iterative graph round is ≤ |V| rows of narrow
    BIGINTs — but it hangs off a checkpointed RDD scan, whose Catalyst
    size estimate is the (astronomical) default, so the planner would
    never broadcast it on its own and each round pays a full SMJ
    exchange of BOTH sides, including the big cached edge layout.  The
    node count is already known exactly at build time (the loop's
    ``count()``), so the decision is priced from real cardinality:
    under the session ``autoBroadcastJoinThreshold`` the frame is
    broadcast (each round = one broadcast + the one fundamental
    aggregation shuffle, guide §2.4/§3.1); above it — the 100 TB graph,
    where |V| itself is beyond any broadcast — the hint is withheld and
    the round keeps the shuffle-join shape.  This is Catalyst's own
    broadcast-by-size rule, restated only because the planner's
    estimate is unusable here: the relational tier's fact edges join
    plain scans, whose size Catalyst prices itself against the same
    threshold, and carry no such hint."""
    from .. import plans

    thr = plans.broadcast_threshold_bytes(frame.sparkSession)
    if thr > 0 and n_rows * bytes_per_row <= thr:
        return F.broadcast(frame)
    return frame


def pagerank_exact(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    *,
    iterations: int = 10,
    scale: int = 1_000_000,
    assume_no_dangling: bool = False,
    assume_bidirected: bool = False,
) -> DataFrame:
    """Bit-deterministic fixed-iteration PageRank over a directed edge
    list: (id, rank_scaled).  Power iteration from rank 1 per node with
    dangling-node mass redistributed uniformly, where every quantity is
    a BIGINT in units of 1/``scale`` and damping is the exact rational
    17/20 (0.85) applied with floor division.

    Why integers: cross-partition double sums are order-sensitive
    (reproducible to ~1e-12, not bitwise), so a float PageRank could
    only be rows-only checked.  Here every per-round step is exact
    integer arithmetic —

      share_u    = rank_u div out_deg_u                (floor)
      in_mass_v  = Σ share_u  over in-edges            (exact BIGINT)
      dangling   = Σ rank_u   over out-degree-0 nodes  (exact BIGINT)
      rank'_v    = (3·scale) div 20
                 + (17·(dangling div n)) div 20
                 + (17·in_mass_v) div 20

    — and BIGINT addition is associative/commutative, so the result is
    bit-identical under any partitioning or summation order and a
    DuckDB twin replaying the same floor arithmetic hash-matches.
    All quantities are nonnegative, so Spark's truncating ``div`` and
    DuckDB's flooring ``//`` agree.  Distribution shape: one shuffle
    per round (rank ⋈ out-edges → groupBy dst); the dangling scalar is
    not ``collect()``-ed per round (10 driver sync points) but stays
    in-plan as a 1-row aggregate cross-joined back (the broadcast
    scalar-total pattern), so the whole 10-round iteration is one job
    with no driver round-trips.  Lineage truncated with
    localCheckpoint.  Overflow headroom: 17·in_mass ≤ 17·n·scale, so
    scale=1e6 is safe to n≈5×10¹¹ nodes in BIGINT.

    Returns (id, rank_scaled BIGINT); rank_scaled/scale ≈ the float
    rank (L1 mass ≈ node count, the rank-1-per-node convention), up to
    floor loss of < 3 units per node per round.

    ``assume_no_dangling=True`` is a caller ASSERTION that every node
    has out-degree ≥ 1 (true by construction for any bidirected edge
    list): the dangling term is identically zero, so its per-round
    1-row aggregate + broadcast is skipped — 2 fewer plan branches per
    round, measurably faster at any scale.  Results are bit-identical
    to the general path on such graphs ((17·(0 div n)) div 20 = 0).

    ``assume_bidirected=True`` is the stronger ASSERTION that the edge
    list contains (v, u) for every (u, v) — again true by construction
    for any bidirected list.  It implies ``assume_no_dangling`` AND
    that every node has in-degree ≥ 1 with node set = src set = dst
    set, so (a) the node universe is the out-degree keys (no
    union+distinct pass) and (b) the per-round nodes-left-join that
    only exists to restore in-degree-0 nodes is skipped — the inbound
    aggregate already covers every node.  Results are bit-identical to
    the general path on such graphs (in_mass is never NULL there, so
    ``coalesce(in_mass, 0)`` never fires).
    """
    if assume_bidirected:
        assume_no_dangling = True
    # still checkpointed (r11): referenced by the elist_deg fold below
    # and by nodes/dangling_ids at setup — one build, not two or three
    out_deg = (
        edges.groupBy(F.col(src).alias("id"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint(eager=False)
    )
    if assume_bidirected:
        # src set == node set; one aggregation instead of union+distinct
        nodes = out_deg.select("id")
    else:
        nodes = (
            edges.select(F.col(src).alias("id"))
            .union(edges.select(F.col(dst).alias("id")))
            .distinct()
            .localCheckpoint(eager=False)
        )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("bigint"))
    # Out-degree FOLDED INTO the edge layout once (guide §2.4): the
    # previous loop opened every round with ranks ⋈ out_deg — one join
    # (and its broadcast/exchange + AQE stage job) × iterations for a
    # value that never changes.  ``elist_deg`` carries
    # (e_src, e_dst, out_deg) under a single checkpoint; each round is
    # now exactly one join (attach ranks by src) + one aggregation
    # (sum shares by dst).  ``rank div out_deg`` per edge row equals
    # the per-src share it replaces and BIGINT sums are
    # order-insensitive, so the result is bit-identical.
    # Checkpoint storage note (r11 advice): one-time layouts stay
    # pinned on executors for the session lifetime — the documented
    # cost of lineage truncation in every iterative operator here.
    elist_deg = (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .join(out_deg.select(F.col("id").alias("e_src"), "out_deg"), "e_src")
        .localCheckpoint(eager=False)
    )
    if not assume_no_dangling:
        dangling_ids = nodes.join(
            out_deg, "id", "left_anti"
        ).localCheckpoint(eager=False)
    ranks = nodes.withColumn("rank", F.lit(int(scale)).cast("bigint"))
    base_const = (3 * scale) // 20
    for it in range(iterations):
        inbound = (
            elist_deg.join(
                _broadcast_if_fits(
                    ranks.select(F.col("id").alias("e_src"), "rank"), n
                ),
                "e_src",
            )
            .groupBy(F.col("e_dst").alias("id"))
            .agg(
                F.sum(F.expr("rank div out_deg"))
                .cast("bigint")
                .alias("in_mass")
            )
        )
        # (1-d)·scale + d·(dangling/n) + d·in_mass, d = 17/20, floors
        if assume_bidirected:
            # every node has in-degree >= 1: inbound IS the node set
            out = inbound
        else:
            out = nodes.join(inbound, "id", "left")
        if assume_no_dangling:
            dangling_term = F.lit(0).cast("bigint")
        else:
            # dangling mass as an in-plan 1-row aggregate, broadcast
            # back (scalar-total pattern) — no per-round driver collect
            dangling_df = (
                ranks.join(_broadcast_if_fits(dangling_ids, n), "id", "semi")
                .agg(
                    F.coalesce(F.sum("rank"), F.lit(0))
                    .cast("bigint")
                    .alias("__dangling")
                )
            )
            out = out.crossJoin(F.broadcast(dangling_df))
            dangling_term = F.expr(
                f"(17 * (__dangling div {int(n)})) div 20"
            )
        ranks = out.select(
            "id",
            (
                F.lit(base_const).cast("bigint")
                + dangling_term
                + F.expr("(17 * coalesce(in_mass, 0)) div 20")
            ).cast("bigint").alias("rank"),
        )
        # Per-round lineage truncation.  (Sparser cadences were
        # measured: checkpointing every 4th round halves the job count
        # on the no-dangling path, but the deeper per-materialization
        # plans cost MORE cold — analysis + codegen of the compound
        # rounds exceeds the saved job barriers — so per-round stays.)
        ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("id", F.col("rank").alias("rank_scaled"))


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Attach (component, n_members, is_survivor) to ``df`` from a
    duplicate-pair list; survivor = the minimum id of each cluster.

    The component map is small relative to the corpus (only documents
    that matched anything), so the enrich join is id-keyed and AQE
    demotes it to broadcast when the map is tiny; singleton documents
    survive via ``coalesce`` to their own id without appearing in the
    map at all — the map never holds the full corpus.

    **Executes at call time**: delegates to ``connected_components``,
    whose convergence loop runs the full ``pairs`` pipeline eagerly
    (see its docstring) — the returned frame embeds a materialized
    component map, not a lazy plan over ``pairs``.
    """
    cc = connected_components(pairs, src, dst).withColumnRenamed(
        "id", "__cc_id"
    )
    out = (
        df.join(cc, df[id_col] == F.col("__cc_id"), "left")
        .drop("__cc_id")
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col(id_col))
        )
    )
    w = Window.partitionBy("component")
    return out.withColumn("n_members", F.count(F.lit(1)).over(w)).withColumn(
        "is_survivor", F.col(id_col) == F.col("component")
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "u",
    dst: str = "v",
    *,
    rounds: int = 4,
    seed_id: str | None = None,
) -> DataFrame:
    """Multi-source BFS as ``rounds`` fixed Bellman–Ford relaxations:
    (id, dist) with dist = hops from the nearest seed, NULL if no seed
    is within ``rounds`` hops.

    Each round is one shuffle (settled frontier ⋈ out-edges → groupBy
    min), the per-executor state is only the (id, dist) frame — no
    driver-side graph, no collect.  The round count is FIXED, not
    converge-tested, so the result is a pure function of (edges, seeds,
    rounds) and a DuckDB twin unrolling the same rounds hash-matches
    exactly (distances are BIGINTs; min is order-insensitive).  At 100
    TB the frame-size ceiling is |V| rows per round, same posture as
    ``pagerank_exact``; lineage is truncated per round with
    ``localCheckpoint`` exactly like ``connected_components``.

    The node universe is edge endpoints ∪ seed ids: a seed with no
    incident edge still reports dist=0 instead of being silently
    dropped (round-4 advice).  ``seed_id`` names the seed column
    explicitly; it defaults to the frame's first column for
    compatibility with the positional contract.

    Reference parity: the reference DSL (dpp.py) has no graph stage;
    BFS-from-seed-set is the standard reachability primitive its users
    hand-roll (influence radius, contamination spread, citation depth).
    """
    seed_col = seed_id if seed_id is not None else seeds.columns[0]
    seed_ids = (
        seeds.select(F.col(seed_col).alias("id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .union(seed_ids)
        .distinct()
        .localCheckpoint(eager=False)
    )
    elist = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
    ).localCheckpoint(eager=False)
    # NOTE (r12, measured and rejected): the pagerank_exact-style gated
    # broadcast of the settled frontier made this loop SLOWER at
    # fixture scale (17 -> 19 jobs/run, 1.27 -> 1.68 s warm median at
    # sf0.01) — unlike PageRank, each BFS round still shuffles the full
    # (dist ∪ frontier) union for the groupBy-min, so the hint only
    # added a broadcast job + the |V| count job without removing any
    # exchange.  The relaxation keeps its shuffle-join shape.
    dist = nodes.join(
        seed_ids.withColumn("dist", F.lit(0).cast("bigint")),
        "id",
        "left",
    )
    for _ in range(rounds):
        frontier = (
            dist.filter(F.col("dist").isNotNull())
            .join(elist, F.col("id") == F.col("e_src"))
            .select(
                F.col("e_dst").alias("id"),
                (F.col("dist") + F.lit(1)).cast("bigint").alias("dist"),
            )
        )
        # min over (previous dist ∪ new candidates); MIN skips NULLs,
        # so unreached nodes stay NULL until a candidate arrives and a
        # settled node can only improve — textbook relaxation.
        dist = (
            dist.select("id", "dist")
            .unionAll(frontier)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    *,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peeling over an UNDIRECTED edge list (one row
    per edge, canonical orientation): returns the node ids that survive
    ``rounds`` peels — i.e. still have degree ≥ k after repeatedly
    deleting sub-k nodes and their incident edges.

    Each peel is one degree aggregation (groupBy over the bidirected
    view) plus two semi-joins that drop edges touching deleted nodes —
    all key-partitioned, no driver state.  A FIXED round count (instead
    of loop-until-fixpoint) keeps the result a pure function of
    (edges, k, rounds) so the unrolled DuckDB twin hash-matches; real
    deployments converge in O(log) peels and can raise ``rounds``.

    k-core is the classic graph-quality gate for training-data curation
    (spam/link-farm nodes live in low cores; Reference: Batagelj &
    Zaveršnik's peeling algorithm) — the reference DSL has no graph
    stage, so this fills the same "users hand-roll it" gap as
    ``bfs_distances``.
    """
    cur = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    keep = None
    for _ in range(rounds):
        bidir = cur.select("u").unionAll(
            cur.select(F.col("v").alias("u"))
        )
        keep = (
            bidir.groupBy(F.col("u").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("id")
            .localCheckpoint(eager=False)
        )
        cur = (
            cur.join(keep.withColumnRenamed("id", "u"), "u", "semi")
            .join(keep.withColumnRenamed("id", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    assert keep is not None, "rounds must be >= 1"
    return keep


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    *,
    max_wedge_degree: int = 10_000,
) -> DataFrame:
    """Structural node-pair similarity: for every pair (a, b) sharing at
    least one neighbor, |N(a) ∩ N(b)|, the neighborhood Jaccard in exact
    ppm (BIGINT floor division — engine-identical), and whether the pair
    is itself an edge (is_edge=0 ⇒ a LINK-PREDICTION candidate).

    Shape: common neighbors enumerate through the shared-middle wedge
    join (bidir ⋈ bidir on the middle node, a < b to emit each pair
    once) — the same key-partitioned two-shuffle pattern as
    ``triangle_count``.  Fan-out is Σ_w deg(w)², so hub middles are the
    skew risk at scale; ``max_wedge_degree`` drops middles above the cap
    from wedge enumeration (the standard LSH-style frequency cap used by
    dedup banding — a hub shared by everything carries no similarity
    signal, exactly like a stop-shingle).  The cap is part of the
    operator's declared semantics, so the oracle applies it too.
    """
    bidir = (
        edges.select(F.col(src).alias("n"), F.col(dst).alias("w"))
        .unionAll(edges.select(F.col(dst).alias("n"), F.col(src).alias("w")))
    )
    deg = bidir.groupBy(F.col("n").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    mid_ok = deg.filter(F.col("deg") <= max_wedge_degree).select(
        F.col("id").alias("w")
    )
    wedged = bidir.join(mid_ok, "w")
    lhs = wedged.select(F.col("n").alias("a"), "w")
    rhs = wedged.select(F.col("n").alias("b"), "w")
    common = (
        lhs.join(rhs, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    canon = edges.select(
        F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
    ).distinct().withColumn("is_edge", F.lit(1))
    out = (
        common.join(deg.withColumnRenamed("id", "a")
                    .withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("id", "b")
              .withColumnRenamed("deg", "deg_b"), "b")
        .join(canon, ["a", "b"], "left")
    )
    return out.select(
        "a",
        "b",
        F.col("common").cast("bigint").alias("common"),
        F.expr(
            "(1000000 * common) div (deg_a + deg_b - common)"
        ).cast("bigint").alias("jaccard_ppm"),
        F.coalesce(F.col("is_edge"), F.lit(0)).cast("int").alias("is_edge"),
    )
