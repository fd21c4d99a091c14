"""Warehouse ETL primitives: SCD-1 upsert and SCD-2 history building.

Parquet has no transactional MERGE; at scale the workhorse patterns
are:

- **Upsert (SCD-1)**: reconcile a base table with a changes batch —
  update matched keys, insert new ones.  One full-outer join on the
  key, updates win per column.  The shuffle carries only (key, changed
  columns); at 100 TB the base side should be bucketed/partitioned on
  the key so the join co-locates and unchanged partitions rewrite
  selectively (partition-overwrite discipline, not a full rewrite).

- **SCD-2 (versioned history)**: turn a change log into interval
  versions — each change opens a version at its timestamp and closes
  the previous one.  One window per key ordered by change time:
  ``valid_to = lead(valid_from)``, open version has NULL ``valid_to``.
  Single shuffle on the key; a key's history lives in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._util import md5_key_expr

__all__ = [
    "cap_per_group",
    "compaction_bins",
    "domain_mix_weights",
    "expectations_report",
    "global_shuffle",
    "hash_sample",
    "hash_split",
    "snapshot_diff",
    "stratified_hash_sample",
    "temperature_mix_weights",
    "upsert",
    "scd2_from_changes",
    "weighted_priority_sample",
    "weighted_priority_sample_per_group",
]


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two snapshots: one row per key with
    ``change_type`` ∈ {insert, delete, update, unchanged}.

    One full-outer join on the key — the same single-shuffle shape as
    :func:`upsert`; at 100 TB both snapshots should be bucketed on the
    key so the join co-locates.  ``compare_cols`` (default: all shared
    non-key columns) decide update-vs-unchanged via null-safe
    equality (``eqNullSafe`` — a NULL→value transition is an update,
    not a match)."""
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keys
        ]
    o = old.alias("o")
    n = new.alias("n")
    cond = [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys]
    old_present = F.col(f"o.{keys[0]}").isNotNull()
    new_present = F.col(f"n.{keys[0]}").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(~old_present, F.lit("insert"))
        .when(~new_present, F.lit("delete"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    return o.join(n, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k)
            for k in keys
        ],
        change.alias("change_type"),
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    *,
    fractions: dict[str, float] | None = None,
    n_buckets: int = 100,
) -> DataFrame:
    """Deterministic train/val/test assignment: adds (bucket, split).

    The split a training pipeline actually needs: stable across runs,
    machines, and engines (no ``rand()``), derived only from the row's
    key — so re-ingesting a grown corpus never migrates an existing
    document between splits.  ``bucket = md5(key)[:8] as int64 mod
    n_buckets``; fraction boundaries partition the bucket space in
    dict-insertion order.  Map-only: no shuffle, no sampling pass, and
    an identical construction runs in SQL on any engine (the DuckDB
    oracle replays it verbatim)."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError("split fractions must sum to 1")
    bucket = F.expr(f"{md5_key_expr(key_col)} % {n_buckets}")
    out = df.withColumn("bucket", bucket)
    expr, cum = None, 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        edge = F.col("bucket") < int(round(cum * n_buckets))
        expr = (
            F.when(edge, F.lit(name))
            if expr is None
            else expr.when(edge, F.lit(name))
        )
    split = (
        expr.otherwise(F.lit(names[-1]))
        if expr is not None
        else F.lit(names[-1])
    )
    return out.withColumn("split", split)


def upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
) -> DataFrame:
    """SCD-1 merge: rows in ``changes`` replace same-key rows in
    ``base``; unmatched change rows insert.  Column set must match.
    Per column the change value wins when the key matched
    (``coalesce(change, base)`` — correct because a matched change row
    supplies every column)."""
    value_cols = [c for c in base.columns if c not in keys]
    if set(base.columns) != set(changes.columns):
        raise ValueError("upsert requires identical column sets")
    b = base.alias("b")
    c = changes.alias("c")
    cond = [F.col(f"b.{k}") == F.col(f"c.{k}") for k in keys]
    return b.join(c, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"c.{k}"), F.col(f"b.{k}")).alias(k)
            for k in keys
        ],
        *[
            F.when(F.col(f"c.{keys[0]}").isNotNull(), F.col(f"c.{v}"))
            .otherwise(F.col(f"b.{v}"))
            .alias(v)
            for v in value_cols
        ],
    )


def scd2_from_changes(
    changes: DataFrame,
    keys: list[str],
    ts_col: str,
    attr_cols: list[str],
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Build SCD-2 interval versions from a change log.

    Each change row becomes a version valid from its timestamp until
    the key's next change (NULL = still current).  ``tie_break``
    columns make the within-key order total when timestamps can
    collide — determinism of the version chain depends on it.
    """
    order = [F.col(ts_col)] + [F.col(t) for t in (tie_break or [])]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return changes.select(
        *keys,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
    ).withColumn(
        "is_current",
        F.when(F.col("valid_to").isNull(), F.lit(1)).otherwise(F.lit(0)),
    )


def expectations_report(
    df: DataFrame,
    rules: dict,
    *,
    unique: tuple[str, ...] = (),
) -> DataFrame:
    """Data-quality gate: evaluate row-level expectations and key-
    uniqueness checks in ONE aggregate pass; long-format report
    (rule, n_rows, n_violations, passed).

    ``rules`` maps rule name → boolean Column that is True when the row
    is VALID (NULL counts as a violation — an unevaluable rule is a
    failing rule, the conservative gate semantics).  ``unique`` lists
    columns that must be duplicate-free; each contributes
    ``count(*) − count(DISTINCT col)`` as its violation count inside
    the same aggregate.

    The whole report is one scan + one hash aggregate regardless of
    rule count (rules are codegen'd CASE sums, not per-rule jobs), then
    a map-side stack() to long format — the same one-pass discipline as
    ``operators/profile.py``.  At 100 TB this is the cheapest shape a
    full-table audit can take: cost is the scan, rules are free.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    names = []
    for name, valid in rules.items():
        aggs.append(
            F.sum(
                F.when(valid.isNull() | (~valid), 1).otherwise(0)
            ).cast("long").alias(f"__v_{len(names)}")
        )
        names.append(name)
    for col in unique:
        aggs.append(
            (F.count(col) - F.count_distinct(F.col(col)))
            .cast("long")
            .alias(f"__v_{len(names)}")
        )
        names.append(f"unique({col})")
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{n}', __v_{i}" for i, n in enumerate(names)
    )
    return wide.select(
        F.expr(
            f"stack({len(names)}, {stack_args}) AS (rule, n_violations)"
        ),
        F.col("__n").alias("n_rows"),
    ).select(
        "rule",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    *,
    n_buckets: int = 10000,
) -> DataFrame:
    """Deterministic Bernoulli-by-key sampling: keep a row iff its
    key's md5-derived bucket falls under ``fraction``.

    The sampling a 100 TB pipeline wants instead of ``rand()``:
    map-only (a codegen filter — no sampling pass, no seed state),
    EXACTLY reproducible across runs/engines/partitionings (so the
    sample is hash-checkable and a re-run touches the same rows), and
    consistent by key — every occurrence of a key is in or out
    together, which makes downstream joins between two hash-samples of
    related tables line up (sample orders and their lineitems with the
    SAME predicate on the shared key).  ``fraction`` resolution is
    1/n_buckets."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    bucket = F.expr(f"{md5_key_expr(key_col)} % {n_buckets}")
    return df.filter(bucket < int(round(fraction * n_buckets)))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    *,
    n_buckets: int = 10000,
) -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. downsample the
    majority class, keep all of a rare one) — the same md5-bucket
    mechanism as :func:`hash_sample` with the threshold chosen by the
    stratum value in a codegen CASE.  Strata absent from ``fractions``
    are dropped (rate 0).  Map-only, no per-stratum passes."""
    bucket = F.expr(f"{md5_key_expr(key_col)} % {n_buckets}")
    expr = None
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} out of [0, 1]")
        edge = int(round(frac * n_buckets))
        cond = F.col(stratum_col) == name
        expr = (
            F.when(cond, F.lit(edge))
            if expr is None
            else expr.when(cond, F.lit(edge))
        )
    threshold = expr.otherwise(F.lit(0)) if expr is not None else F.lit(0)
    return df.filter(bucket < threshold)


def compaction_bins(
    manifest: DataFrame,
    size_col: str,
    order_col: str,
    *,
    target: int,
) -> DataFrame:
    """Small-files compaction planner over a file manifest: assign each
    file to a rewrite bin of ~``target`` cumulative size; adds
    (cum_before, bin).

    The planning trick that makes this one sort instead of an
    iterative packer: greedy first-fit over a fixed file order is
    EXACTLY ``bin = floor(cumulative_size_before / target)`` — a
    window cumulative sum, so the plan is a single global sort over
    manifest rows (catalog-sized, not data-sized; at 100 TB the
    manifest is millions of rows where the table is billions).  The
    rewrite itself is then one job per bin reading that bin's files.
    Deterministic for a total ``order_col`` — callers sort by file
    path/id, never by mtime.
    """
    w = (
        Window.orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(size_col).over(w) - F.col(size_col)
    return (
        manifest.withColumn("cum_before", cum_before.cast("long"))
        .withColumn(
            "bin", F.floor(F.col("cum_before") / F.lit(target)).cast("long")
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
) -> DataFrame:
    """Keep at most ``n`` rows per group, selected by DETERMINISTIC
    hash rank (md5 of the key) — the per-domain document cap a crawl
    pipeline applies so no single host dominates the corpus.

    Hash rank ≈ a uniform random draw, but reproducible across runs
    and engines (the kept set itself hash-checks) and stable under
    corpus growth for the rows already ranked.  Routed through the
    salted two-phase top-k (operators/skew.py), not the plain
    ``topk_per_group``: ``n`` is the caller's choice and can exceed
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000), above
    which Spark plans no partial limit — and domains are exactly the
    hot-key case, so one mega-host would then sort all its rows on a
    single reducer.
    """
    from .skew import salted_topk_per_group

    ranked = df.withColumn(
        "__hr", F.md5(F.col(key_col).cast("string"))
    )
    kept = salted_topk_per_group(
        ranked,
        [group_col],
        [F.col("__hr"), F.col(key_col)],
        n,
    )
    return kept.drop("__hr")


def domain_mix_weights(
    df, group_col: str, *, max_weight_ppm: int = 3_000_000
):
    """Sampling weights that rebalance a corpus toward a uniform
    group mixture: (group, n_docs, weight_ppm, weight_capped_ppm).

    ``weight = target_share / actual_share = n_total / (k · n_group)``
    in exact parts-per-million (one IEEE divide then floor, engine-
    portable); ``weight_capped_ppm`` additionally clips upsampling at
    ``max_weight_ppm`` — the standard guard against exploding a tiny
    domain (DoReMi-style mixture tuning feeds on exactly this table).

    Scale: one k-row aggregate off the corpus scan plus a broadcast of
    the 1-row (n_total, k) frame — the weights table is dimension-sized
    at any corpus size.
    """
    from pyspark.sql import functions as F

    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = counts.agg(
        F.sum("n_docs").alias("__n_total"),
        F.count(F.lit(1)).alias("__k"),
    )
    w = F.floor(
        F.lit(1000000.0)
        * F.col("__n_total")
        / (F.col("__k") * F.col("n_docs"))
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "grp",
            "n_docs",
            w.alias("weight_ppm"),
            F.least(w, F.lit(max_weight_ppm).cast("long")).alias(
                "weight_capped_ppm"
            ),
        )
    )


def global_shuffle(
    df: DataFrame,
    key_col: str,
    *,
    seed: int = 0,
    n_shards: int = 32,
) -> DataFrame:
    """Deterministic corpus shuffle into internally-ordered shards:
    adds (``shard``, ``__skey``), hash-clusters rows by shard, and
    sorts each shard by the shuffle key.

    Training ingestion needs the corpus in a reproducible pseudo-random
    order, materialized as N shard files each already shuffled — NOT a
    single global ``orderBy(rand())``, which is non-deterministic
    across retries (``rand`` reseeds per partition attempt) and
    serializes recovery.  Here the order is a pure function of the
    data: ``__skey = md5(key:seed)[:8] as int64``, ``shard = __skey %
    n_shards``.  One hash exchange on ``shard`` (no range-boundary
    sampling job, unlike ``repartitionByRange``) + a spillable local
    sort per shard; re-running any shard — or the whole job — yields
    byte-identical output, and changing ``seed`` is a full reshuffle.
    Downstream: ``.write.partitionBy("shard")`` (one directory per
    shard).  Note the ``repartition(n, shard)`` clustering HASHES the
    shard id, so shard→task is many-to-some, not 1:1 — all rows of a
    shard still land in one task (the invariant that matters), but a
    direct per-partition file write would interleave shards; use the
    partitionBy sink for shard-per-file layout.  Collisions in the
    32-bit key space are broken by the key column itself, keeping the
    total order unique."""
    skey = F.expr(md5_key_expr(key_col, salt=f":{seed}"))
    return (
        df.withColumn("__skey", skey)
        .withColumn("shard", F.col("__skey") % n_shards)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "__skey", key_col)
    )


def weighted_priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sample of ``k`` rows without replacement
    — sequential Poisson / priority sampling (Ohlsson '98; Duffield,
    Lund & Thorup '07): each row draws a deterministic uniform
    ``u = (h + 0.5) / 2^32`` from the md5-derived 32-bit key ``h`` and
    races with priority ``q = w / u``; the ``k`` largest priorities
    win, giving inclusion probability ≈ ``min(1, k·w/Σw)`` — the
    quality-weighted corpus subsampling primitive (sample documents
    proportional to a quality/length score, reproducibly).

    Engine portability is the design constraint: ranking by ``q``
    descending is ranking by ``u/w ∝ (2h+1)/w`` ascending — ONE
    correctly-rounded IEEE divide of two exact integers (``h < 2^32``
    and sensible weights are exactly representable as doubles), so the
    order is bit-identical on any IEEE-754 engine.  The classic
    Efraimidis–Spirakis key ``u^(1/w)`` is the same scheme family but
    needs ``pow``/``ln``, whose last-ulp behavior is libm-specific —
    unacceptable for differential testing.  Ties (impossible for
    distinct ``h`` with equal weights, astronomically unlikely
    otherwise) break on the key column for a unique total order.

    Scale: the race key is a map-only projection;
    ``orderBy(key).limit(k)`` compiles to TakeOrderedAndProject —
    per-partition top-k heaps then one k-row merge, never a global
    range sort [pinned: test_plans.py::test_weighted_sample_is_take_ordered].
    Rows with non-positive weight are excluded (probability 0).
    """
    h = F.expr(md5_key_expr(key_col, salt=f":ws{seed}"))
    race = (h * F.lit(2) + F.lit(1)).cast("double") / F.col(
        weight_col
    ).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__wkey", race)
        .orderBy(F.col("__wkey").asc(), F.col(key_col).asc())
        .limit(k)
        .drop("__wkey")
    )


def temperature_mix_weights(
    df: DataFrame,
    group_col: str,
    *,
    budget: int = 10_000,
) -> DataFrame:
    """Temperature-scaled corpus mixture: sampling shares proportional
    to ``sqrt(n_group)`` — the multilingual rebalancing family
    ``p_g ∝ n_g^α`` (XLM-R trains with α=0.3; α=1/2 is the
    exact-arithmetic member) that upweights low-resource groups
    without letting head groups dominate.  Output per group:
    ``(grp, n_docs, share_ppm, quota_docs)`` where ``quota_docs``
    allocates a fixed sampling ``budget`` across groups by share,
    capped at the group's actual size.

    Exactness: ``s = floor(sqrt(n))`` is exact for ``n < 2^52`` (IEEE
    sqrt is correctly rounded, so it can only cross an integer
    boundary at a perfect square, where it is exact), and shares /
    quotas use BIGINT ``DIV`` — the whole table is integer-exact and
    engine-portable, with no double accumulation whose order could
    differ across engines.

    Scale: one k-row aggregate off the corpus scan plus a broadcast of
    the 1-row total — dimension-sized at any corpus size (same shape
    as :func:`domain_mix_weights`).
    """
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = counts.withColumn(
        "s", F.floor(F.sqrt(F.col("n_docs"))).cast("long")
    )
    totals = scored.agg(F.sum("s").alias("__s_total"))
    return scored.crossJoin(F.broadcast(totals)).select(
        "grp",
        "n_docs",
        F.expr("CAST((1000000 * s) DIV __s_total AS BIGINT)").alias(
            "share_ppm"
        ),
        F.least(
            F.col("n_docs"),
            F.expr(
                f"CAST(({budget} * s) DIV __s_total AS BIGINT)"
            ),
        ).alias("quota_docs"),
    )


def weighted_priority_sample_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    seed: int = 0,
) -> DataFrame:
    """Stratified weighted sampling: an independent sequential-Poisson
    draw of ``k`` rows (without replacement) inside EVERY group — e.g.
    "keep the 1000 best-weighted documents per language".  Same
    engine-portable race key as :func:`weighted_priority_sample`
    ((2h+1)/w, one exact-integer IEEE divide); per-group selection is
    ``row_number`` over (group) ordered by the race — one group-keyed
    shuffle, a group's draw never leaves its partition, and output is
    ≤ k·n_groups rows.  Per-group draws are independent because the
    uniform depends only on the row key, not the grouping — regrouping
    the corpus never changes a row's race.

    At 100 TB with a hot group this inherits the window's skew
    exposure; route extreme cases through the salted two-phase top-k
    (operators/skew.py) exactly as cap_per_group does — this variant
    keeps the plain one-window shape because its contract (exact
    per-group rank over a total order) matches it."""
    from pyspark.sql.window import Window

    h = F.expr(md5_key_expr(key_col, salt=f":ws{seed}"))
    race = (h * F.lit(2) + F.lit(1)).cast("double") / F.col(
        weight_col
    ).cast("double")
    w = Window.partitionBy(group_col).orderBy(
        F.col("__wkey").asc(), F.col(key_col).asc()
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__wkey", race)
        .withColumn("__wrank", F.row_number().over(w))
        .filter(F.col("__wrank") <= k)
        .drop("__wkey", "__wrank")
    )


def merge_aggregate_state(
    state: DataFrame,
    delta_state: DataFrame,
    keys: list[str],
    spec: dict[str, str],
) -> DataFrame:
    """Merge two MERGEABLE-aggregate partial frames (incremental
    materialized-view maintenance).

    ``spec`` maps each measure column to its merge function: ``"sum"``
    (count and sum partials combine additively), ``"min"`` or
    ``"max"``.  Because every supported measure is associative and
    commutative, ``merge(agg(base), agg(delta)) == agg(base ∪ delta)``
    exactly — refreshing a 100 TB base's aggregate view after a small
    delta costs one pass over the DELTA plus a shuffle of the
    |groups|-sized state, never a rescan of the base.  Non-mergeable
    measures (exact median, count-distinct) need a sketch substitute
    (see the HLL and quantile-histogram rollups in
    operators/sketches.py) — this operator deliberately refuses them:
    any spec value outside sum/min/max raises.
    """
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    bad = {c: f for c, f in spec.items() if f not in fns}
    if bad:
        raise ValueError(
            f"non-mergeable merge functions {bad}; use a sketch "
            "(HLL / quantile histogram) for distinct/percentile state"
        )
    cols = keys + list(spec)
    both = state.select(*cols).unionByName(delta_state.select(*cols))
    return both.groupBy(*keys).agg(
        *[fns[f](c).alias(c) for c, f in spec.items()]
    )
