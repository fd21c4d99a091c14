"""Product-analytics query shapes: SQL front door, funnel, cohort
retention.

These pin the engine's *user-facing* analytics surface: the SQL entry
point (text-to-result parity with the DataFrame API over the same
session catalog), and the two classic event-analytics patterns every
warehouse user writes — sequential funnels and cohort retention — each
as pure DataFrame algebra with a DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import time_bucket
from ..operators._util import md5_key_expr, scratch_dir
from ._registry import dsum, load, query


@query(
    "sql_front_door",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point as a first-class surface: the table
    registers in the session catalog (``createOrReplaceTempView``) and
    the query is pure SQL text through ``spark.sql`` — same Catalyst
    plan, same optimizations (pushdown/pruning visible in explain) as
    the DataFrame API.  A reference user migrating SQL workloads runs
    them verbatim through this door."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "dpp_lineitem_v"
    )
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               SUM(CAST(FLOOR(l_quantity * 100 + 0.5d) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS sum_qty
        FROM dpp_lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """)


@query(
    "funnel_view_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v1
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p1
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= v.v1
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT)
               AS n_users,
           CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_converted
    """,
)
def funnel_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (view → later purchase, first-touch): step 2
    only counts purchases at-or-after the user's FIRST view, which is
    what separates a funnel from two independent counts.  Shape: two
    per-user aggregates and one broadcast-joined conditional re-scan —
    each step is a narrow fixed-width shuffle on user_id, no windows
    over the raw stream, no driver loops.  One row out."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    v1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v1"))
    )
    p1 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v1, "user_id")
        .filter(F.col("ts") >= F.col("v1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p1"))
    )
    return (
        ev.agg(F.count_distinct("user_id").alias("n_users"))
        .crossJoin(v1.agg(F.count(F.lit(1)).alias("n_viewed")))
        .crossJoin(p1.agg(F.count(F.lit(1)).alias("n_converted")))
    )


@query(
    "cohort_retention_weekly",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             make_timestamp(CAST(floor(epoch(min(ts)) / 604800)
                 AS BIGINT) * 604800 * 1000000) AS cohort_week
      FROM events GROUP BY 1
    ), activity AS (
      SELECT DISTINCT user_id,
             make_timestamp(CAST(floor(epoch(ts) / 604800)
                 AS BIGINT) * 604800 * 1000000) AS week
      FROM events
    )
    SELECT f.cohort_week,
           CAST((epoch(a.week) - epoch(f.cohort_week)) / 604800
               AS BIGINT) AS week_offset,
           count(*) AS active_users
    FROM activity a JOIN first_seen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week,
    counted in each later week they were active.  Epoch-floor weeks on
    both engines (calendar-agnostic, cascade-friendly).  Shape: one
    per-user min, one distinct on (user, week) — both fixed-width
    shuffles on user_id — then a user-keyed join and a small
    (cohort, offset) aggregate.  The first-seen frame is dim-sized
    (one row per user) but grows with users, so it is NOT broadcast-
    pinned; AQE may choose to at runtime."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        time_bucket(F.min("ts"), "1 week").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", time_bucket("ts", "1 week").alias("week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .withColumn(
            "week_offset",
            (
                (F.unix_timestamp("week")
                 - F.unix_timestamp("cohort_week")) / F.lit(604800)
            ).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


def _profile_oracle() -> str:
    """Generated UNION ALL twin of operators.profile.profile_columns
    over the customer profile below (DuckDB lacks a direct analogue of
    the one-pass wide->long shape, but the VALUES are plain SQL)."""
    blocks = []
    for c in ("c_custkey", "c_nationkey", "c_acctbal"):
        blocks += [
            f"SELECT '{c}' AS col_name, 'n' AS metric,"
            f" CAST(count({c}) AS DOUBLE) AS value FROM customer",
            f"SELECT '{c}', 'n_null',"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f" AS DOUBLE) FROM customer",
            f"SELECT '{c}', 'n_distinct',"
            f" CAST(count(DISTINCT {c}) AS DOUBLE) FROM customer",
            f"SELECT '{c}', 'min', CAST(min({c}) AS DOUBLE) FROM customer",
            f"SELECT '{c}', 'max', CAST(max({c}) AS DOUBLE) FROM customer",
        ]
    for c in ("c_mktsegment",):
        blocks += [
            f"SELECT '{c}', 'n', CAST(count({c}) AS DOUBLE) FROM customer",
            f"SELECT '{c}', 'n_null',"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f" AS DOUBLE) FROM customer",
            f"SELECT '{c}', 'n_distinct',"
            f" CAST(count(DISTINCT {c}) AS DOUBLE) FROM customer",
        ]
    return " UNION ALL ".join(blocks)


@query("profile_customer", oracle=_profile_oracle())
def profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling in ONE job: every stat an aggregate expression
    in a single agg (exact distincts planned via Expand in the same
    scan), wide row unpivoted map-side to (col_name, metric, value).
    Profiling cost = one aggregation pass regardless of column count —
    the 100 TB data-quality primitive."""
    from ..operators.profile import profile_columns

    c = load(spark, sf_dir, "customer")
    return profile_columns(
        c,
        numeric_cols=("c_custkey", "c_nationkey", "c_acctbal"),
        other_cols=("c_mktsegment",),
    )


@query(
    "scan_parquet_merge_schema",
    oracle="""
    SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_price,
           CAST(count(*) AS BIGINT) AS n_status
    FROM orders
    """,
)
def scan_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches with different
    column sets (an old ingest without o_orderstatus, a new one
    without o_totalprice) land in one dataset; ``mergeSchema=true``
    reconciles them to the union schema with NULLs where a batch
    lacked the column.  The counts pin exactly which half carries
    which column — a silent column drop or misalignment breaks them."""
    orders = load(spark, sf_dir, "orders")
    base = scratch_dir("dpp_evolve_") + "/orders"
    orders.select("o_orderkey", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(f"{base}/batch=1")
    orders.select("o_orderkey", "o_orderstatus").write.mode(
        "overwrite"
    ).parquet(f"{base}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(base)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_price"),
        F.count("o_orderstatus").alias("n_status"),
    )


@query(
    "etl_upsert_customers",
    oracle="""
    WITH changes AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 100.0 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, c_name, c_nationkey,
             0.0 AS c_acctbal, 'NEW' AS c_mktsegment
      FROM customer WHERE c_custkey % 100 = 0
    )
    SELECT COALESCE(c.c_custkey, b.c_custkey) AS c_custkey,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_name
                ELSE b.c_name END AS c_name,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_nationkey
                ELSE b.c_nationkey END AS c_nationkey,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_acctbal
                ELSE b.c_acctbal END AS c_acctbal,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment
                ELSE b.c_mktsegment END AS c_mktsegment
    FROM customer b FULL OUTER JOIN changes c
      ON b.c_custkey = c.c_custkey
    """,
)
def etl_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 upsert: a changes batch (balance bump on every 10th key,
    brand-new keys for every 100th) merges into the customer base —
    matched keys take the change row wholesale, unmatched insert.  One
    full-outer join on the key; updates win via the matched-key flag,
    not blind coalesce (a change may legitimately carry NULLs)."""
    from ..operators.etl import upsert

    base = load(spark, sf_dir, "customer")
    bumped = (
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0))
    )
    fresh = (
        base.filter(F.col("c_custkey") % 100 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + F.lit(1000000))
        .withColumn("c_acctbal", F.lit(0.0))
        .withColumn("c_mktsegment", F.lit("NEW"))
    )
    changes = bumped.unionByName(fresh)
    return upsert(base, changes, keys=["c_custkey"])


@query(
    "etl_scd2_user_values",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           )) AS valid_to_us,
           CASE WHEN lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ) IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE event_type = 'signup'
    """,
)
def etl_scd2_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history from a change log: each signup event opens a
    version valid until the same user's next one (lead over a per-key
    window; event_id tie-break keeps the chain total and engine-
    identical).  Intervals surface as exact epoch-µs integers — both
    engines floor the fixture's ns timestamps to µs."""
    from ..operators.etl import scd2_from_changes

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    v = scd2_from_changes(
        ev, keys=["user_id"], ts_col="ts",
        attr_cols=["event_id"], tie_break=["event_id"],
    )
    return v.select(
        "user_id", "event_id",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type, next_type, count(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: counts of (event_type → next
    event_type) per user journey — the input to Markov-chain or
    next-action models.  One window per user (lead over a total
    within-key order) + one small aggregate; the raw stream shuffles
    once on user_id."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "etl_referential_check",
    oracle="""
    SELECT
      CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
      CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_customers,
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
           AS BIGINT) AS n_orphan_orders,
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
           AS BIGINT) AS n_orphan_lineitems,
      CAST((SELECT coalesce(sum(cnt), 0) FROM (
              SELECT count(*) AS cnt FROM customer
              GROUP BY c_custkey HAVING count(*) > 1))
           AS BIGINT) AS n_dup_pk_rows,
      CAST((SELECT count(*) FROM customer WHERE c_custkey IS NULL)
           AS BIGINT) AS n_null_pk
    """,
)
def etl_referential_check(spark, sf_dir):
    """Warehouse data-quality gate: primary-key uniqueness, PK
    null-freedom, and two foreign-key orphan counts in one result row.
    Orphans are left-anti joins (shuffle on the key, AQE broadcasts the
    dim side when small); PK duplication is one aggregate over the key.
    The five 1-row aggregates cross-join broadcast-style into a single
    report — the shape of a dbt-style expectations suite running as one
    Spark job, not five sequential driver round-trips."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    n_orders = o.agg(F.count(F.lit(1)).alias("n_orders"))
    n_customers = c.agg(F.count(F.lit(1)).alias("n_customers"))
    orphan_orders = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan_orders"))
    )
    orphan_lineitems = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan_lineitems"))
    )
    dup_pk = (
        c.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias(
                "n_dup_pk_rows"
            )
        )
    )
    null_pk = c.filter(F.col("c_custkey").isNull()).agg(
        F.count(F.lit(1)).alias("n_null_pk")
    )
    return (
        n_orders.crossJoin(n_customers)
        .crossJoin(orphan_orders)
        .crossJoin(orphan_lineitems)
        .crossJoin(dup_pk)
        .crossJoin(null_pk)
    )


@query(
    "etl_cdc_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 400
    ), new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
                 AS text
      FROM documents WHERE doc_id >= 200
    )
    SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'insert'
                WHEN n.doc_id IS NULL THEN 'delete'
                WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
                ELSE 'update' END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL
       OR o.text IS DISTINCT FROM n.text
    """,
)
def etl_cdc_diff(spark, sf_dir):
    """Change-data-capture between table snapshots: per-key insert /
    delete / update classification from ONE full-outer join on the key
    (operators/etl.py snapshot_diff) — the diff engine behind
    incremental downstream refreshes.  Null-safe value comparison so
    NULL→value transitions classify as updates.  The synthetic "new"
    snapshot drops doc_id < 200, mutates every 7th doc, and adds
    doc_id ≥ 400, exercising all three change classes."""
    from ..operators.etl import snapshot_diff

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 200).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, ["doc_id"], ["text"]).filter(
        F.col("change_type") != "unchanged"
    )


@query(
    "etl_expectations",
    oracle="""
    WITH agg AS (
      SELECT count(*) AS n_rows,
             SUM(CASE WHEN NOT (o_totalprice > 0)
                      OR o_totalprice IS NULL THEN 1 ELSE 0 END)
                 AS v_price_positive,
             SUM(CASE WHEN NOT (o_totalprice >= 5000)
                      OR o_totalprice IS NULL THEN 1 ELSE 0 END)
                 AS v_price_floor_5k,
             SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                 AS v_orderdate_present,
             SUM(CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P'))
                      OR o_orderstatus IS NULL THEN 1 ELSE 0 END)
                 AS v_status_domain,
             count(o_orderkey) - count(DISTINCT o_orderkey)
                 AS v_unique_orderkey
      FROM orders
    )
    SELECT rule, n_rows, CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM (
      SELECT 'price_positive' AS rule, n_rows,
             v_price_positive AS n_violations FROM agg
      UNION ALL SELECT 'price_floor_5k', n_rows, v_price_floor_5k FROM agg
      UNION ALL SELECT 'orderdate_present', n_rows,
                       v_orderdate_present FROM agg
      UNION ALL SELECT 'status_domain', n_rows, v_status_domain FROM agg
      UNION ALL SELECT 'unique(o_orderkey)', n_rows,
                       v_unique_orderkey FROM agg
    )
    """,
)
def etl_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations gate over orders: four row-level rules
    + key uniqueness, ALL evaluated in one scan + one hash aggregate
    regardless of rule count (operators/etl.py expectations_report) —
    rules are codegen CASE sums, the audit costs exactly one table
    pass at any scale.  price_floor_5k is deliberately violated so the
    report exercises both verdicts."""
    from ..operators.etl import expectations_report

    orders = load(spark, sf_dir, "orders")
    return expectations_report(
        orders,
        {
            "price_positive": F.col("o_totalprice") > 0,
            "price_floor_5k": F.col("o_totalprice") >= 5000,
            "orderdate_present": F.col("o_orderdate").isNotNull(),
            "status_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        },
        unique=("o_orderkey",),
    )


# Synthetic interaction graph for the graph-analytics queries: nodes are
# customer/order residues mod 100, an edge per order between them — a
# dense deterministic graph derivable identically in both engines (the
# warehouse tables have no native unipartite graph).
_GRAPH_EDGES_SQL = """
      SELECT DISTINCT
             least(o_custkey % 100, o_orderkey % 100) AS a,
             greatest(o_custkey % 100, o_orderkey % 100) AS b
      FROM orders
      WHERE (o_custkey % 100) <> (o_orderkey % 100)
"""


def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            (F.col("o_custkey") % 100).alias("cu"),
            (F.col("o_orderkey") % 100).alias("ov"),
        )
        .filter(F.col("cu") != F.col("ov"))
        .select(
            F.least("cu", "ov").alias("u"), F.greatest("cu", "ov").alias("v")
        )
        .distinct()
    )


@query(
    "graph_triangles",
    oracle=f"""
    WITH e AS ({_GRAPH_EDGES_SQL}),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pern AS (
      SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY id
    ),
    nodes AS (
      SELECT DISTINCT a AS id FROM e UNION SELECT DISTINCT b FROM e
    )
    SELECT n.id, COALESCE(p.n_triangles, 0) AS n_triangles
    FROM nodes n LEFT JOIN pern p USING (id)
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts with degree-ordered wedge enumeration
    (operators/graph.py triangle_count) — each triangle enumerated once,
    hot-node join fan-out capped near sqrt(|E|) by the orientation; two
    shuffles total.  The oracle counts the same triangles via the
    canonical a<b<c three-edge join; equality pins that orientation is
    an implementation detail, not a semantic one."""
    from ..operators.graph import triangle_count

    return triangle_count(_graph_edges(spark, sf_dir))


def _pagerank_oracle_sql(iterations: int = 10, scale: int = 1_000_000) -> str:
    """Unrolled exact-integer PageRank twin for DuckDB.

    Mirrors operators/graph.py pagerank_exact round for round: ranks
    are BIGINT in units of 1/scale, shares are floor divisions, the
    17/20 damping fold is the same floor arithmetic.  Ten fixed
    iterations unroll into ten chained CTE stages (no recursion needed
    — the iteration count is static), so every intermediate is plain
    relational algebra DuckDB executes exactly.  Every stage is
    ``AS MATERIALIZED``: DuckDB inlines CTEs by default and each round
    references the previous one three times, so un-materialized
    unrolling explodes the expression tree ~3^10 — materialization
    keeps it 10 linear passes."""
    base_const = (3 * scale) // 20
    parts = [
        f"g AS MATERIALIZED ({_GRAPH_EDGES_SQL})",
        "e AS MATERIALIZED"
        " (SELECT a AS u, b AS v FROM g UNION ALL SELECT b, a FROM g)",
        "nodes AS MATERIALIZED"
        " (SELECT DISTINCT u AS id FROM e UNION SELECT v FROM e)",
        "ncte AS MATERIALIZED"
        " (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        "outdeg AS MATERIALIZED (SELECT u AS id,"
        " CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1)",
        f"r0 AS MATERIALIZED (SELECT id, CAST({scale} AS BIGINT) AS rank"
        " FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"d{i} AS MATERIALIZED"
            " (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT)"
            f" AS dm FROM r{p} r LEFT JOIN outdeg o ON o.id = r.id"
            " WHERE o.d IS NULL)"
        )
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT e.v AS id,"
            " CAST(SUM(r.rank // o.d) AS BIGINT) AS mass"
            f" FROM e JOIN r{p} r ON r.id = e.u"
            " JOIN outdeg o ON o.id = e.u GROUP BY e.v)"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT nd.id, CAST({base_const}"
            f" + (17 * ((SELECT dm FROM d{i}) // (SELECT n FROM ncte)))"
            " // 20"
            " + (17 * COALESCE(m.mass, 0)) // 20 AS BIGINT) AS rank"
            f" FROM nodes nd LEFT JOIN m{i} m ON m.id = nd.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, rank AS rank_scaled FROM r{iterations}"
    )


@query("graph_pagerank", oracle=_pagerank_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 fixed rounds, damping 17/20) over the interaction
    graph, bidirected (operators/graph.py pagerank_exact): one shuffle
    per round, dangling mass folded back uniformly, lineage truncated
    per round with localCheckpoint — the connected-components
    discipline applied to power iteration.  Exact-integer (scaled
    BIGINT, floor-division damping) so the result is bit-deterministic
    and hash-checked against the DuckDB unrolled-CTE twin; its laws
    (mass conservation, uniform fixed point, symmetry, agreement with a
    float power iteration) are checked in tests/test_graph_ops.py."""
    from ..operators.graph import pagerank_exact

    e = _graph_edges(spark, sf_dir)
    bidir = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # bidirected by construction -> every node has out-degree >= 1 AND
    # in-degree >= 1 with node set = src set = dst set, so the dangling
    # term is identically zero, the node universe is the out-degree
    # keys, and the per-round nodes-left-join can be skipped entirely
    # (assertions documented in pagerank_exact; results bit-identical)
    return pagerank_exact(bidir, iterations=10, assume_bidirected=True)


@query(
    "etl_compaction_plan",
    oracle="""
    WITH manifest AS (
      SELECT o_orderkey % 200 AS file_id,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ),
    planned AS (
      SELECT file_id, n_rows,
             CAST(SUM(n_rows) OVER (ORDER BY file_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_rows AS BIGINT) AS cum_before
      FROM manifest
    )
    SELECT file_id, n_rows, cum_before,
           CAST(cum_before // 40 AS BIGINT) AS bin
    FROM planned
    """,
)
def etl_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (operators/etl.py
    compaction_bins): greedy size-binning expressed as one cumulative-
    sum window over a synthetic 200-file manifest — the catalog-driven
    shape real table formats use (plan over the manifest, never open
    data files).  Bin boundaries are engine-exact integers."""
    from ..operators.etl import compaction_bins

    manifest = (
        load(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 200).alias("file_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return compaction_bins(
        manifest, "n_rows", "file_id", target=40
    ).select("file_id", "n_rows", "cum_before", "bin")


@query(
    "etl_scd2_asof_lookup",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS version_id, ts AS valid_from,
             lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS valid_to
      FROM events WHERE event_type = 'signup'
    ),
    p AS (
      SELECT user_id, event_id, ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, v.version_id,
           epoch_us(p.ts) AS ts_us
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.valid_from <= p.ts
     AND (v.valid_to IS NULL OR p.ts < v.valid_to)
    """,
)
def etl_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of snapshot) lookup against SCD-2 history: each
    purchase resolves to the version row valid AT its event time
    (half-open [valid_from, valid_to) containment).  The temporal-join
    idiom every warehouse uses to reconstruct 'what did we believe about
    this key when X happened'.

    Scale: equality-keyed join on user_id with the interval containment
    as a residual predicate — per-key version chains are short, so the
    residual filters a few candidate versions per probe row; never a
    time-cross-join."""
    from ..operators.etl import scd2_from_changes

    ev = load(spark, sf_dir, "events")
    versions = scd2_from_changes(
        ev.filter(F.col("event_type") == "signup"),
        keys=["user_id"], ts_col="ts",
        attr_cols=["event_id"], tie_break=["event_id"],
    ).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("version_id"),
        "valid_from", "valid_to",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        purchases.join(
            versions,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select(
            "event_id", "user_id", "version_id",
            F.unix_micros("ts").alias("ts_us"),
        )
    )


@query(
    "etl_partition_skew_report",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_n,
           CAST(min(n) AS BIGINT) AS min_n,
           median(n) AS median_n,
           CAST(max(n) AS DOUBLE) / median(n) AS skew_ratio
    FROM counts
    """,
)
def etl_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit: per-key row counts rolled into
    (n_keys, max, min, median, max/median ratio) — the report you run
    BEFORE keying a 100 TB shuffle to decide whether the salted
    operators are needed.  Two aggregates, the second over key-count
    rows only; median via the engine-identical midpoint-interpolation
    percentile."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_n"),
        F.min("n").alias("min_n"),
        F.median("n").alias("median_n"),
        (F.max("n").cast("double") / F.median("n")).alias("skew_ratio"),
    )


@query(
    "etl_late_arriving_dim",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE c_custkey % 11 <> 0
    )
    SELECT COALESCE(d.c_mktsegment, 'UNKNOWN') AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(d.c_custkey) AS BIGINT) AS n_resolved
    FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
    GROUP BY 1
    """,
)
def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling: facts whose dimension row
    hasn't landed yet (a trickle-loaded dim, simulated by withholding
    every 11th customer) roll into an explicit UNKNOWN bucket instead
    of silently dropping — the LEFT-join-coalesce pattern every
    warehouse load uses, with per-segment resolved counts so the
    backfill job knows how much is pending.  Dim side broadcasts; the
    fact never shuffles for the join."""
    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 11 != 0)
        .select("c_custkey", "c_mktsegment")
    )
    o = load(spark, sf_dir, "orders").select("o_custkey")
    return (
        o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey, "left")
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
                "segment"
            ),
            "c_custkey",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("c_custkey").alias("n_resolved"),
        )
    )


@query(
    "etl_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS grp_n
      FROM customer
      GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(grp_n) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_groups,
           CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
               AS n_exposed_rows
    FROM g
    """,
)
def etl_k_anonymity(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers: how many
    (nationkey, segment) equivalence classes exist, the smallest class,
    and how many ROWS sit in classes below k=5 — the rows a release
    would re-identify.  The governance gate run before any dataset
    export: two hash aggregates, the second over |classes| rows, so
    audit cost is one scan at any table size.  A failing gate feeds the
    generalization loop (coarsen a quasi-identifier, re-audit) — each
    iteration is the same one-scan shape."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp_n")
    )
    small = F.col("grp_n") < 5
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("grp_n").alias("min_group_size"),
        F.sum(small.cast("long")).alias("n_small_groups"),
        F.sum(F.when(small, F.col("grp_n")).otherwise(F.lit(0))).alias(
            "n_exposed_rows"
        ),
    )


@query(
    "analytics_first_touch_attribution",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_type, ts, event_id, value,
             max(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
                 OVER w AS has_touch,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS)
                 OVER w AS first_touch
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT COALESCE(first_touch, 'organic') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS attributed_revenue
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def analytics_first_touch_attribution(spark, sf_dir):
    """First-touch marketing attribution: every purchase's revenue is
    credited to the FIRST non-purchase event type the user ever
    produced (purchases before any touch fall to 'organic').

    One window per user (running first-touch via IGNORE NULLS
    first_value over the user's time order — each user's history lives
    in one partition, no self-join against an 'earliest event' table),
    then a tiny channel rollup of exact integer revenue.  At 100 TB
    this is one user-keyed shuffle; the window state is O(1) per user."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    tagged = ev.select(
        "user_id",
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("first_touch"), F.lit("organic")).alias(
                "channel"
            ),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value").alias("attributed_revenue"),
        )
    )


@query(
    "analytics_linear_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS units,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS journey
      FROM events
    ),
    touches AS (
      SELECT user_id, journey, event_type AS channel,
             CAST(count(*) AS BIGINT) AS n_c
      FROM seq WHERE event_type <> 'purchase'
      GROUP BY user_id, journey, event_type
    ),
    tot AS (
      SELECT user_id, journey, CAST(SUM(n_c) AS BIGINT) AS n_tot
      FROM touches GROUP BY user_id, journey
    ),
    purchases AS (
      SELECT user_id, journey, units FROM seq
      WHERE event_type = 'purchase'
    ),
    credited AS (
      SELECT COALESCE(t.channel, 'organic') AS channel,
             CASE WHEN t.channel IS NULL THEN p.units * 1000
                  ELSE (p.units * 1000 * t.n_c) // tt.n_tot
             END AS millicents,
             p.user_id, p.journey
      FROM purchases p
      LEFT JOIN tot tt USING (user_id, journey)
      LEFT JOIN touches t USING (user_id, journey)
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_journeys,
           CAST(SUM(millicents) AS BIGINT) AS attributed_millicents,
           CAST(SUM(millicents) AS BIGINT) / 100000.0
               AS attributed_revenue
    FROM credited GROUP BY channel
    """,
)
def analytics_linear_attribution(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's revenue splits
    EQUALLY across the distinct-typed touches of its journey (the
    events since the user's previous purchase); a purchase with no
    preceding touches credits 'organic'.  The complement of
    first-touch: the judge of 'which channels participate' rather
    than 'which channel opened'.

    Exactness: per-journey credit is ``units·1000·n_c DIV n_tot`` —
    BIGINT floor division per (journey, channel), summed as BIGINTs,
    so no order-dependent double accumulation anywhere; the only
    double is one final constant division for display.

    Scale: journey assignment is one user-keyed window (running
    purchase count, frame-exclusive); touches/totals/purchases all
    aggregate and join on (user, journey) — every shuffle is
    user-prefixed, a user's history never leaves its partition chain,
    and the output is channel-cardinality."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("units"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ).alias("journey"),
    )
    touches = (
        seq.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "journey", F.col("event_type").alias("channel"))
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    tot = touches.groupBy("user_id", "journey").agg(
        F.sum("n_c").alias("n_tot")
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id", "journey", "units"
    )
    credited = (
        purchases.join(tot, ["user_id", "journey"], "left")
        .join(touches, ["user_id", "journey"], "left")
        .select(
            F.coalesce(F.col("channel"), F.lit("organic")).alias(
                "channel"
            ),
            F.when(
                F.col("channel").isNull(), F.col("units") * 1000
            )
            .otherwise(
                F.expr("(units * 1000 * n_c) DIV n_tot")
            )
            .alias("millicents"),
        )
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_journeys"),
        F.sum("millicents").alias("attributed_millicents"),
        (F.sum("millicents") / F.lit(100000.0)).alias(
            "attributed_revenue"
        ),
    )


@query(
    "analytics_rfm_segments",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '1970-01-01',
                            max(CAST(ts AS DATE))) AS BIGINT) AS last_epoch,
             CAST(count(*) AS BIGINT) AS f,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS m
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    fences AS (
      SELECT quantile_cont(last_epoch, 0.25) AS r1,
             quantile_cont(last_epoch, 0.50) AS r2,
             quantile_cont(last_epoch, 0.75) AS r3,
             quantile_cont(f, 0.25) AS f1,
             quantile_cont(f, 0.50) AS f2,
             quantile_cont(f, 0.75) AS f3,
             quantile_cont(m, 0.25) AS m1,
             quantile_cont(m, 0.50) AS m2,
             quantile_cont(m, 0.75) AS m3
      FROM per_user
    ),
    scored AS (
      SELECT 1 + CAST(last_epoch > r1 AS INT) + CAST(last_epoch > r2 AS INT)
               + CAST(last_epoch > r3 AS INT) AS r_score,
             1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT)
               + CAST(f > f3 AS INT) AS f_score,
             1 + CAST(m > m1 AS INT) + CAST(m > m2 AS INT)
               + CAST(m > m3 AS INT) AS m_score,
             m
      FROM per_user, fences
    )
    SELECT r_score, f_score, m_score,
           CASE WHEN r_score >= 3 AND f_score >= 3 THEN 'champion'
                WHEN r_score >= 3 THEN 'promising'
                WHEN f_score >= 3 THEN 'at_risk'
                ELSE 'hibernating' END AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(m) AS BIGINT) AS m_units_total
    FROM scored GROUP BY 1, 2, 3, 4
    """,
)
def analytics_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: per-user Recency (last purchase
    day), Frequency (purchase count), Monetary (revenue units), each
    quartile-scored 1-4 against corpus fences, mapped to the standard
    champion / promising / at-risk / hibernating grid.

    Scale posture is the broadcast-fence discipline of
    ml_quantile_binning, NOT a global ntile (whose single ORDER BY
    would serialize every user through one reducer): one user-keyed
    aggregate builds the RFM triple, exact quartiles of the three
    integer metrics are one k-row aggregate broadcast back, scores are
    map-side comparisons.  Quartile fractions are multiples of 0.25 —
    exact in binary — over integer metrics, so Spark's percentile and
    DuckDB's quantile_cont interpolate bit-identical doubles and no
    score can flip on a last-ulp difference."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            "CAST(datediff(max(CAST(ts AS DATE)), DATE'1970-01-01')"
            " AS BIGINT)"
        ).alias("last_epoch"),
        F.count(F.lit(1)).alias("f"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("m"),
    )
    fences = per_user.agg(
        *[
            F.expr(f"percentile({c}, {frac}d)").alias(f"{c[0]}{i}")
            for c in ("last_epoch", "f", "m")
            for i, frac in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    def score(col, fence_prefix):
        return (
            F.lit(1)
            + (F.col(col) > F.col(f"{fence_prefix}1")).cast("int")
            + (F.col(col) > F.col(f"{fence_prefix}2")).cast("int")
            + (F.col(col) > F.col(f"{fence_prefix}3")).cast("int")
        )
    scored = per_user.join(F.broadcast(fences)).select(
        score("last_epoch", "l").alias("r_score"),
        score("f", "f").alias("f_score"),
        score("m", "m").alias("m_score"),
        "m",
    )
    segment = (
        F.when(
            (F.col("r_score") >= 3) & (F.col("f_score") >= 3),
            F.lit("champion"),
        )
        .when(F.col("r_score") >= 3, F.lit("promising"))
        .when(F.col("f_score") >= 3, F.lit("at_risk"))
        .otherwise(F.lit("hibernating"))
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("r_score", "f_score", "m_score", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("m").alias("m_units_total"),
        )
    )


@query(
    "analytics_timedecay_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS units,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS journey
      FROM events
    ),
    touches AS (
      SELECT user_id, journey, event_type AS channel,
             CAST(ts AS DATE) AS t_day
      FROM seq WHERE event_type <> 'purchase'
    ),
    purchases AS (
      SELECT user_id, journey, units, CAST(ts AS DATE) AS p_day
      FROM seq WHERE event_type = 'purchase'
    ),
    weighted AS (
      SELECT p.user_id, p.journey, p.units, t.channel,
             (CAST(1048576 AS BIGINT) >>
              least(greatest(date_diff('day', t.t_day, p.p_day), 0)
                    // 7, 20)) AS w
      FROM purchases p JOIN touches t USING (user_id, journey)
    ),
    per_channel AS (
      SELECT user_id, journey, channel,
             CAST(SUM(w) AS BIGINT) AS w_c
      FROM weighted GROUP BY user_id, journey, channel
    ),
    tot AS (
      SELECT user_id, journey, CAST(SUM(w_c) AS BIGINT) AS w_tot
      FROM per_channel GROUP BY user_id, journey
    ),
    credited AS (
      SELECT COALESCE(c.channel, 'organic') AS channel,
             CASE WHEN c.channel IS NULL THEN p.units * 1000
                  ELSE (p.units * 1000 * c.w_c) // tt.w_tot
             END AS millicents
      FROM purchases p
      LEFT JOIN tot tt USING (user_id, journey)
      LEFT JOIN per_channel c USING (user_id, journey)
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_journeys,
           CAST(SUM(millicents) AS BIGINT) AS attributed_millicents
    FROM credited GROUP BY channel
    """,
)
def analytics_timedecay_attribution(spark, sf_dir):
    """Time-decay attribution: a purchase's revenue splits across its
    journey's touches with weight halving per week of age (recency
    beats volume — the scheme between last-touch and linear).

    Exactness by construction: the decay 0.5^(age_weeks) is DYADIC —
    weight = 2^20 >> min(age_days DIV 7, 20), an exact BIGINT for any
    age — so per-channel weights, totals, and the final
    units·1000·w_c DIV w_tot credits are all integer arithmetic.  The
    usual exp(-λ·age) formulation would be libm-dependent; the dyadic
    half-life is the same curve sampled at week boundaries with zero
    portability risk.

    Scale: identical posture to linear attribution — journey
    assignment is one user-keyed window, every join/aggregate keys on
    (user, journey), output is channel-cardinality."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("units"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ).alias("journey"),
    )
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "journey",
        F.col("event_type").alias("channel"),
        F.col("ts").cast("date").alias("t_day"),
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "journey",
        "units",
        F.col("ts").cast("date").alias("p_day"),
    )
    weighted = purchases.join(touches, ["user_id", "journey"]).select(
        "user_id",
        "journey",
        "units",
        "channel",
        F.expr(
            "shiftright(CAST(1048576 AS BIGINT), "
            "CAST(least(greatest(datediff(p_day, t_day), 0) DIV 7, 20)"
            " AS INT))"
        ).alias("w"),
    )
    per_channel = weighted.groupBy(
        "user_id", "journey", "channel"
    ).agg(F.sum("w").alias("w_c"))
    tot = per_channel.groupBy("user_id", "journey").agg(
        F.sum("w_c").alias("w_tot")
    )
    credited = (
        purchases.join(tot, ["user_id", "journey"], "left")
        .join(per_channel, ["user_id", "journey"], "left")
        .select(
            F.coalesce(F.col("channel"), F.lit("organic")).alias(
                "channel"
            ),
            F.when(
                F.col("channel").isNull(), F.col("units") * 1000
            )
            .otherwise(
                F.expr("(units * 1000 * w_c) DIV w_tot")
            )
            .alias("millicents"),
        )
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_journeys"),
        F.sum("millicents").alias("attributed_millicents"),
    )


@query(
    "analytics_ushape_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS units,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS journey
      FROM events
    ),
    touches AS (
      SELECT user_id, journey, event_type AS channel,
             row_number() OVER (PARTITION BY user_id, journey
                                ORDER BY ts, event_id) AS pos,
             CAST(count(*) OVER (PARTITION BY user_id, journey)
                  AS BIGINT) AS n
      FROM seq WHERE event_type <> 'purchase'
    ),
    weighted AS (
      SELECT user_id, journey, channel,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN pos = 1 OR pos = n THEN 400000
                  ELSE 200000 // (n - 2)
             END AS w_ppm
      FROM touches
    ),
    per_channel AS (
      SELECT user_id, journey, channel,
             CAST(SUM(w_ppm) AS BIGINT) AS w_c
      FROM weighted GROUP BY user_id, journey, channel
    ),
    purchases AS (
      SELECT user_id, journey, units FROM seq
      WHERE event_type = 'purchase'
    ),
    credited AS (
      SELECT COALESCE(c.channel, 'organic') AS channel,
             CASE WHEN c.channel IS NULL THEN p.units * 1000
                  ELSE (p.units * 1000 * c.w_c) // 1000000
             END AS millicents
      FROM purchases p
      LEFT JOIN per_channel c USING (user_id, journey)
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_journeys,
           CAST(SUM(millicents) AS BIGINT) AS attributed_millicents
    FROM credited GROUP BY channel
    """,
)
def analytics_ushape_attribution(spark, sf_dir):
    """Position-based (U-shaped) attribution: 40% of a purchase's
    revenue to the journey's first touch, 40% to its last, 20% split
    across the middles (50/50 at two touches, all at one) — the scheme
    that values introduction and closing over volume, completing the
    attribution family (first-touch, linear, time-decay, U-shaped).

    Exactness: position weights are exact ppm integers (200000 DIV
    (n-2) for middles) and credits are BIGINT floor divisions — the
    same no-double-accumulation discipline as the other schemes.

    Scale: journey windows and position windows all partition by
    (user) or (user, journey); joins and rollups stay user-prefixed
    until the final channel-cardinality aggregate."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    wj = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("units"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(wj),
            F.lit(0),
        ).alias("journey"),
    )
    wp = Window.partitionBy("user_id", "journey").orderBy(
        "ts", "event_id"
    )
    wn = Window.partitionBy("user_id", "journey")
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "journey",
        F.col("event_type").alias("channel"),
        F.row_number().over(wp).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    w_ppm = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.lit(400000),
        )
        .otherwise(F.expr("200000 DIV (n - 2)"))
    )
    per_channel = (
        touches.withColumn("w_ppm", w_ppm)
        .groupBy("user_id", "journey", "channel")
        .agg(F.sum("w_ppm").alias("w_c"))
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id", "journey", "units"
    )
    credited = purchases.join(
        per_channel, ["user_id", "journey"], "left"
    ).select(
        F.coalesce(F.col("channel"), F.lit("organic")).alias("channel"),
        F.when(F.col("channel").isNull(), F.col("units") * 1000)
        .otherwise(F.expr("(units * 1000 * w_c) DIV 1000000"))
        .alias("millicents"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_journeys"),
        F.sum("millicents").alias("attributed_millicents"),
    )


@query(
    "analytics_ab_ttest",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)
                  || ':ab'), 1, 8)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS units
      FROM events WHERE event_type = 'purchase'
    ), moments AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(units) AS BIGINT) AS s1,
             CAST(sum(units * units) AS DOUBLE) AS s2d
      FROM assigned GROUP BY arm
    ), stats AS (
      SELECT arm, n,
             (s1 / 100.0) / n AS mean,
             (s2d / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n)
                 / NULLIF(n - 1, 0) AS var
      FROM moments
    )
    SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
           (a.mean - b.mean)
             / sqrt(a.var / a.n + b.var / b.n) AS t_welch
    FROM stats a, stats b
    WHERE a.arm = 'A' AND b.arm = 'B'
    """,
)
def analytics_ab_ttest(spark, sf_dir):
    """A/B experiment readout: deterministic md5 arm assignment (the
    same hash-bucket mechanism as the samplers — assignment is
    reproducible and join-consistent across tables), per-arm exact
    moments in ONE aggregate, and the Welch t statistic computed from
    the two 1-row frames.  The whole readout is one scan + one 2-group
    aggregate at any experiment size; the t formula runs byte-identical
    double arithmetic on both engines over exact integer moments."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    assigned = ev.select(
        F.when(
            F.expr(f"{md5_key_expr('user_id', salt=':ab')} % 2") == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("arm"),
        F.expr("cast(floor(value * 100 + 0.5d) as bigint)").alias("units"),
    )
    moments = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("units").alias("s1"),
        F.sum((F.col("units") * F.col("units")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2d"),
    )
    stats = moments.select(
        "arm",
        "n",
        ((F.col("s1") / F.lit(100.0)) / F.col("n")).alias("mean"),
        # n=1 arm: variance is undefined — NULL on BOTH engines (Spark
        # ANSI mode would raise on /0; DuckDB would return inf; NULLIF
        # in the oracle + the when-guard here converge on NULL t_welch).
        F.when(
            F.col("n") > 1,
            (
                F.col("s2d") / F.lit(10000.0)
                - (F.col("s1") / F.lit(100.0))
                * (F.col("s1") / F.lit(100.0))
                / F.col("n")
            )
            / (F.col("n") - F.lit(1)),
        ).alias("var"),
    )
    a = stats.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = stats.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        (
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(
                F.col("var_a") / F.col("n_a")
                + F.col("var_b") / F.col("n_b")
            )
        ).alias("t_welch"),
    )


@query(
    "analytics_event_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT user_id, sum(n) AS tot FROM c GROUP BY 1
    ), h AS (
      SELECT c.user_id,
             -sum((n / CAST(tot AS DOUBLE))
                  * ln(n / CAST(tot AS DOUBLE))) AS entropy
      FROM c JOIN t ON c.user_id = t.user_id
      GROUP BY c.user_id
    )
    SELECT CAST(floor(entropy * 10 + 0.5) * 10 AS BIGINT) AS entropy_pct,
           CAST(count(*) AS BIGINT) AS n_users
    FROM h GROUP BY 1
    """,
)
def analytics_event_entropy(spark, sf_dir):
    """Behavioral-diversity metric: Shannon entropy of each user's
    event-type mix, reported as a histogram of entropy deciles.

    Two narrow aggregates — (user, type) counts, then per-user entropy
    from exact integer counts — both keyed on user_id so the second
    reuses the first's partitioning (AQE plans no new exchange for the
    per-user total).  ln() runs on exact count ratios, the same double
    arithmetic on both engines; the decile FLOOR makes the surface
    robust to any last-ulp ln() divergence between libm builds while
    still pinning every user's bucket."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_tot = F.sum("n").over(Window.partitionBy("user_id"))
    h = (
        c.withColumn("tot", w_tot)
        .groupBy("user_id")
        .agg(
            (
                -F.sum(
                    (F.col("n") / F.col("tot").cast("double"))
                    * F.log(F.col("n") / F.col("tot").cast("double"))
                )
            ).alias("entropy")
        )
    )
    return (
        h.select(
            (F.floor(F.col("entropy") * 10 + F.lit(0.5)) * 10)
            .cast("bigint")
            .alias("entropy_pct")
        )
        .groupBy("entropy_pct")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "sql_lateral_topn_per_row",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
    """,
)
def sql_lateral_topn_per_row(spark, sf_dir):
    """Correlated LATERAL subquery (Spark 4 SQL): per outer row, an
    ordered-and-limited dependent subquery — the top-2 customers by
    balance for each nation.  Catalyst DECORRELATES the lateral into a
    ranked window over the inner relation joined back on the
    correlation key (DomainJoin rewrite), so execution is the same
    partitioned top-k shape as ``window_topk_per_group``, never a
    per-outer-row re-execution — the property that makes LATERAL
    usable when the outer side has a billion rows."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("dpp_nation_v")
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "dpp_customer_v"
    )
    return spark.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM dpp_nation_v n,
        LATERAL (
          SELECT c_name, c_acctbal FROM dpp_customer_v c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) t
    """)


@query(
    "sql_recursive_cte_tree_depth",
    oracle="""
    WITH RECURSIVE walk(node, anc, depth) AS (
      SELECT n_nationkey, n_nationkey, 0 FROM nation
      UNION ALL
      SELECT node, CAST(FLOOR((anc - 1) / 2) AS BIGINT), depth + 1
      FROM walk WHERE anc > 0
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_keysum
    FROM (SELECT node, max(depth) AS depth FROM walk GROUP BY node) d
    GROUP BY depth
    """,
)
def sql_recursive_cte_tree_depth(spark, sf_dir):
    """WITH RECURSIVE (Spark 4): each nation key walks its implicit
    binary-tree ancestry (parent = (k−1)/2) up to the root, yielding
    per-node depth — the iterate-until-fixpoint SQL surface (org
    hierarchies, BOM explosions, graph reachability) that previously
    required driver-side loops.  Spark executes each recursion step as
    a distributed UNION ALL batch, so a step's cost is one join/scan
    over the frontier, and total depth bounds the step count — same
    frontier-batch model as the operators/graph.py connected
    components, but expressed in pure SQL."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("dpp_nation_r")
    return spark.sql("""
        WITH RECURSIVE walk(node, anc, depth) AS (
          SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
                 0 FROM dpp_nation_r
          UNION ALL
          SELECT node, CAST(FLOOR((anc - 1) / 2) AS BIGINT), depth + 1
          FROM walk WHERE anc > 0
        )
        SELECT depth, count(*) AS n_nodes, sum(node) AS node_keysum
        FROM (SELECT node, max(depth) AS depth FROM walk GROUP BY node) d
        GROUP BY depth
    """)


@query(
    "sql_parameterized_binding",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
               AS revenue
    FROM orders
    WHERE o_totalprice > 1000.0 AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY o_orderstatus
    """,
)
def sql_parameterized_binding(spark, sf_dir):
    """Parameterized SQL (named-marker binding, Spark 4): predicates
    arrive as TYPED arguments, not string-spliced text — the
    injection-safe front door an engine must offer callers that accept
    user input.  The bound plan is identical to the literal one
    (markers fold to literals at analysis), so pushdown and pruning are
    unaffected."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("dpp_orders_p")
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5d) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS revenue
        FROM dpp_orders_p
        WHERE o_totalprice > :min_price AND o_orderdate < :cutoff
        GROUP BY o_orderstatus
        """,
        args={"min_price": 1000.0, "cutoff": "1998-01-01 00:00:00"},
    )


@query(
    "etl_column_masking",
    oracle="""
    SELECT 'CUST_' || substring(md5(c_name), 1, 12) AS masked_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(c_custkey) AS BIGINT) AS min_key
    FROM customer
    GROUP BY 1
    """,
)
def etl_column_masking(spark, sf_dir):
    """Deterministic column tokenization (pseudonymization): the PII
    column is replaced by a keyed-format token derived from its md5 —
    referentially CONSISTENT (the same name always maps to the same
    token, so joins and group-bys over the masked column still line
    up across tables and runs) yet irreversible without the original.
    Map-only codegen; at 100 TB masking cost is the scan.  The
    group-by here pins the consistency property: token cardinality ==
    name cardinality."""
    c = load(spark, sf_dir, "customer")
    masked = c.select(
        F.concat(
            F.lit("CUST_"), F.substring(F.md5(F.col("c_name")), 1, 12)
        ).alias("masked_name"),
        "c_custkey",
    )
    return masked.groupBy("masked_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_custkey").alias("min_key"),
    )


@query(
    "agg_boxplot_per_group",
    oracle="""
    WITH u AS (
      SELECT o_orderstatus,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS units
      FROM orders
    ), q AS (
      SELECT o_orderstatus,
             quantile_cont(units, 0.25) AS q1,
             quantile_cont(units, 0.50) AS q2,
             quantile_cont(units, 0.75) AS q3
      FROM u GROUP BY 1
    )
    SELECT u.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           min(q.q1) AS q1, min(q.q2) AS median, min(q.q3) AS q3,
           CAST(sum(CASE WHEN u.units > q.q3 + 1.5 * (q.q3 - q.q1)
                           OR u.units < q.q1 - 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM u JOIN q USING (o_orderstatus)
    GROUP BY 1
    """,
)
def agg_boxplot_per_group(spark, sf_dir):
    """Per-group boxplot statistics: exact quartiles per order status
    plus the Tukey-fence outlier census (|x − fence| beyond 1.5·IQR).
    Quartiles interpolate over INTEGER units with dyadic fractions, so
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` agree
    bit-for-bit and the fence comparisons cannot flip on a ulp.  Two
    aggregates: grouped quartiles (group-count sized), broadcast back
    for the map-side fence test — the grouped profile analysts pull on
    every numeric column, costed at one scan + one tiny join."""
    u = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)").alias(
            "units"
        ),
    )
    q = u.groupBy("o_orderstatus").agg(
        F.expr("percentile(units, 0.25d)").alias("q1"),
        F.expr("percentile(units, 0.50d)").alias("q2"),
        F.expr("percentile(units, 0.75d)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    outlier = (F.col("units") > F.col("q3") + 1.5 * iqr) | (
        F.col("units") < F.col("q1") - 1.5 * iqr
    )
    return (
        u.join(F.broadcast(q), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("q1").alias("q1"),
            F.min("q2").alias("median"),
            F.min("q3").alias("q3"),
            F.sum(outlier.cast("long")).alias("n_outliers"),
        )
    )


@query(
    "analytics_sequence_pattern",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
                 AS s
      FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN regexp_matches(s, 'v.*p')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(sum(CASE WHEN regexp_matches(s, 'e[^p]*$')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_err_no_recovery,
           CAST(sum(length(s)) AS BIGINT) AS total_events
    FROM seq
    """,
)
def analytics_sequence_pattern(spark, sf_dir):
    """Sequence-pattern mining (MATCH_RECOGNIZE-lite): each user's
    time-ordered event-type initials collapse to one string per user
    and behavioral patterns become REGEXES — 'ever viewed then later
    purchased' is ``v.*p``, 'errored and never purchased again' is
    ``e[^p]*$``.  One user-keyed sort inside collect_list (array_join
    after sort_array of (ts, id, initial) structs keeps the order
    deterministic under parallel collection), then map-side regex —
    a user's whole history lives in one task, pattern evaluation is
    codegen, and the pattern library extends without re-shuffling."""
    ev = load(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                "ts", "event_id",
                F.substring("event_type", 1, 1).alias("c"),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x["c"]
                ),
                "",
            ).alias("s")
        )
    )
    return seq.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("s").rlike("v.*p").cast("long")).alias("n_converted"),
        F.sum(F.col("s").rlike("e[^p]*$").cast("long")).alias(
            "n_err_no_recovery"
        ),
        F.sum(F.length("s")).alias("total_events"),
    )


@query(
    "etl_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_disc,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
           CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS total_qty
    FROM lineitem
    """,
)
def etl_observe_metrics(spark, sf_dir):
    """In-flight data-quality observation (``DataFrame.observe`` +
    ``Observation``): audit metrics — row count, out-of-domain
    discount count, key range, exact total quantity — are accumulated
    BY THE SAME JOB that runs the pipeline's real aggregation, not by
    a second scan.  At 100 TB a separate metrics pass doubles the
    most expensive thing the pipeline does (reading the fact); observe
    attaches the metric accumulators to the already-running plan for
    free, the same mechanism streaming uses for per-batch telemetry.

    The returned one-row frame is rebuilt from the observed dict with
    an explicit schema (every metric exact BIGINT), so the DuckDB twin
    — a plain aggregate over the same table — hash-matches it."""
    from pyspark.sql import Observation

    obs = Observation("quality_gate")
    li = load(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)
            ).cast("long")
        ).alias("n_bad_disc"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        F.sum(
            F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
        ).alias("total_qty"),
    )
    # The pipeline's real work — a grouped aggregate the observation
    # rides along with (its result is consumed here; the METRICS are
    # this query's deliverable).
    li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_bad_disc"],
                m["min_key"],
                m["max_key"],
                m["total_qty"],
            )
        ],
        schema=(
            "n_rows bigint, n_bad_disc bigint, min_key bigint,"
            " max_key bigint, total_qty bigint"
        ),
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
               + 0.5) AS BIGINT)) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 / GoogleSQL ``|>`` operators): the
    query reads top-to-bottom as a pipeline — source |> filter |>
    extend computed column |> aggregate — the same staged shape the
    DSL's ``sequence`` expresses in Python, now at the SQL front door.
    Each pipe stage lowers to the identical Catalyst plan as the
    keyword form (pushdown and pruning included), so the DuckDB twin
    is simply the keyword spelling of the same query."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "dpp_pipe_lineitem_v"
    )
    return spark.sql("""
        FROM dpp_pipe_lineitem_v
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
        |> EXTEND CAST(FLOOR(l_extendedprice * (1 - l_discount)
                       * 10000 + 0.5d) AS BIGINT) AS units
        |> AGGREGATE CAST(SUM(units) AS DOUBLE) / 10000.0 AS revenue,
                     COUNT(*) AS n_lines
           GROUP BY l_returnflag
        |> SELECT l_returnflag, revenue, n_lines
    """)


@query(
    "sql_session_variables",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rich
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY 1
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables + IDENTIFIER() (Spark 4): operational SQL
    parameterization without string interpolation — segments and the
    balance threshold bind as typed ``DECLARE``/``SET VAR`` session
    state, and the table name itself resolves through
    ``IDENTIFIER(:var)``-style indirection.  This is the
    injection-safe front door for templated jobs (the cousin of
    ``sql_parameterized_binding``, which binds per-call named markers;
    variables persist across statements in the session).  Variable
    names are engine-namespaced to keep the shared test session
    clean."""
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "dpp_var_customer_v"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE dpp_segs ARRAY<STRING>"
        " DEFAULT ARRAY('BUILDING', 'MACHINERY')"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE dpp_rich_floor DOUBLE DEFAULT 5000.0"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE dpp_src STRING"
        " DEFAULT 'dpp_var_customer_v'"
    )
    return spark.sql("""
        SELECT c_mktsegment,
               COUNT(*) AS n_customers,
               CAST(SUM(CASE WHEN c_acctbal > dpp_rich_floor
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_rich
        FROM IDENTIFIER(dpp_src)
        WHERE array_contains(dpp_segs, c_mktsegment)
        GROUP BY 1
    """)


@query(
    "etl_incremental_agg_view",
    oracle="""
    SELECT o_orderstatus,
           strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents,
           CAST(MIN(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS min_cents,
           CAST(MAX(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS max_cents
    FROM orders
    GROUP BY 1, 2
    """,
)
def etl_incremental_agg_view(spark, sf_dir):
    """Incremental materialized-view maintenance
    (operators/etl.merge_aggregate_state): the pre-cutoff aggregate
    state is MATERIALIZED (written to parquet and read back — standing
    in for yesterday's stored view), the post-cutoff delta aggregates
    on its own, and the refreshed view is the mergeable-state merge of
    the two — count/sum partials add, min/max partials fold.  Because
    the measures are associative and exact-integer, the merged view
    equals the full recompute BIT-FOR-BIT, which is precisely what the
    oracle (a full-table aggregate) checks.

    Scale: the refresh scans only the delta plus the |groups|-sized
    stored state; the 100 TB base is never re-read
    (tests/test_plans.py pins exactly one orders.parquet scan, filter
    pushed to the cutoff)."""
    from ..operators.etl import merge_aggregate_state

    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    spec = {
        "n_orders": "sum",
        "cents": "sum",
        "min_cents": "min",
        "max_cents": "max",
    }

    def partial(df):
        return df.groupBy(
            "o_orderstatus",
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM"
            ).alias("ym"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("cents"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
        )

    o = load(spark, sf_dir, "orders")
    cutoff = "1997-06-01"
    path = scratch_dir("dpp_aggview_") + "/state"
    partial(o.filter(F.col("o_orderdate") < cutoff)).write.mode(
        "overwrite"
    ).parquet(path)
    stored = spark.read.parquet(path)
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return merge_aggregate_state(
        stored, delta, ["o_orderstatus", "ym"], spec
    )


@query(
    "pandas_api_front_door",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders WHERE o_orderkey < 4000
    GROUP BY 1
    """,
)
def pandas_api_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-API-on-Spark front door (``pyspark.pandas``): a
    pandas user's filter → assign → groupby/agg script runs verbatim,
    but every step lowers to the SAME Catalyst plan as the DataFrame
    API — distributed, pushed-down, never collected.  ``to_spark()``
    crosses back into the engine's native frame for the differential
    gate.  The third front door next to SQL text and the DataFrame
    DSL: a reference user migrating from the pure-Python reference
    keeps their pandas idioms and gains the cluster."""
    import pyspark.pandas as ps

    pdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
    pdf = pdf[pdf.o_orderkey < 4000]
    import numpy as np

    pdf = pdf.assign(
        cents=np.floor(pdf.o_totalprice * 100 + 0.5).astype("int64")
    )
    out = (
        pdf.groupby("o_orderstatus")
        .agg(
            n=("o_orderkey", "count"),
            key_sum=("o_orderkey", "sum"),
            cents=("cents", "sum"),
        )
        .reset_index()
    )
    return out.to_spark()


@query(
    "analytics_item_cf",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey % 100 AS item
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ni AS (
      SELECT item, CAST(count(*) AS BIGINT) AS n FROM inc GROUP BY 1
    ),
    nij AS (
      SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS n_ij
      FROM inc a JOIN inc b ON a.u = b.u AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT n.i, n.j, n.n_ij, ni.n AS n_i, nj.n AS n_j,
           CAST((1000000 * n.n_ij * n.n_ij) // (ni.n * nj.n) AS BIGINT)
               AS cosine2_ppm,
           CAST((1000000 * n.n_ij *
                 (SELECT count(DISTINCT u) FROM inc))
                // (ni.n * nj.n) AS BIGINT) AS lift_ppm
    FROM nij n
    JOIN ni ON ni.item = n.i
    JOIN ni nj ON nj.item = n.j
    """,
)
def analytics_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item–item collaborative filtering over the customer×part-bucket
    incidence (orders ⋈ lineitem): co-occurrence counts, exact-ppm
    cosine² (squared so no sqrt — BIGINT floor division stays
    bit-identical) and lift per item pair.  Shape: the incidence
    deduplicates to one row per (user, item) FIRST, then pairs
    enumerate through the shared-user self-join — fan-out is
    Σ_u items(u)², the wedge pattern with the per-user basket as the
    natural cap (heavy users would be capped exactly like hub middles
    in graph_neighbor_jaccard).  The one scalar (distinct-user count)
    rides along as a broadcast 1-row aggregate, not a collect."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    inc = (
        orders.select(F.col("o_orderkey").alias("ok"),
                      F.col("o_custkey").alias("u"))
        .join(
            li.select(F.col("l_orderkey").alias("ok"),
                      (F.col("l_partkey") % 100).alias("item")),
            "ok",
        )
        .select("u", "item")
        .distinct()
        .localCheckpoint(eager=False)  # read by ni, nij, and n_users
    )
    ni = inc.groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nij = (
        inc.select(F.col("u"), F.col("item").alias("i"))
        .join(inc.select("u", F.col("item").alias("j")), "u")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ij"))
    )
    n_users = inc.select(
        F.count_distinct("u").cast("bigint").alias("n_users")
    )
    out = (
        nij.join(F.broadcast(ni.select(F.col("item").alias("i"),
                                       F.col("n").alias("n_i"))), "i")
        .join(F.broadcast(ni.select(F.col("item").alias("j"),
                                    F.col("n").alias("n_j"))), "j")
        .crossJoin(F.broadcast(n_users))
    )
    return out.select(
        "i", "j", "n_ij", "n_i", "n_j",
        F.expr("(1000000 * n_ij * n_ij) div (n_i * n_j)")
        .cast("bigint")
        .alias("cosine2_ppm"),
        F.expr("(1000000 * n_ij * n_users) div (n_i * n_j)")
        .cast("bigint")
        .alias("lift_ppm"),
    )


@query(
    "analytics_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey)
                     AS BIGINT) AS i
      FROM rev
    ),
    st AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS six
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS BIGINT) AS total_units,
           CAST(FLOOR(1000000.0 * CAST(2 * six - (n + 1) * sx AS DOUBLE)
                      / CAST(n * sx AS DOUBLE)) AS BIGINT) AS gini_ppm
    FROM st
    """,
)
def analytics_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of customer revenue — the
    inequality readout behind "what share of revenue do the top
    customers carry".  Sorted-index formula
    G = (2Σi·xᵢ − (n+1)Σx) / (n·Σx) over exact cent units; the index
    comes from row_number with a total-order tie-break, and the formula
    is invariant to the order among equal x, so the value is a pure
    function of the multiset.  The rank pass is TWO-PHASE
    (operators/prefix.prefix_sums): cumulative counts of smaller
    revenues over revenue-range buckets plus a revenue-partitioned
    row_number — no |customers|-row single-partition window; the
    scalar combination is DECIMAL(38,0) on Spark / HUGEINT in the
    oracle — exact far past BIGINT range (the ppm multiply overflows
    int64 already at sf0.01).
    """
    from ..operators.prefix import prefix_rank

    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("bigint")
            ).cast("bigint").alias("x")
        )
    )
    ranked = prefix_rank(
        rev, key="x", tiebreak="o_custkey",
        bucket=F.expr("x div 1000000"), out="i",
    ).select("x", "i")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    st = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(dec(F.col("i")) * dec(F.col("x")))
        .cast("decimal(38,0)")
        .alias("six"),
    )
    n, sx, six = dec(F.col("n")), dec(F.col("sx")), F.col("six")
    # every term promotes to DECIMAL(38,0) BEFORE multiplying (n·sx in
    # raw BIGINT would silently wrap around sf100); the final ratio is
    # taken in DOUBLE — both engines cast the SAME exact integers to
    # the SAME doubles and IEEE division/floor are deterministic, which
    # sidesteps Spark's decimal-division scale-6 rounding AND its
    # decimal `div` (which wraps through int64 — probed, garbage).
    num = (2 * six - (n + F.lit(1)) * sx).cast("decimal(38,0)")
    den = (n * sx).cast("decimal(38,0)")
    return st.select(
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_units"),
        F.floor(
            F.lit(1000000.0) * num.cast("double") / den.cast("double")
        ).cast("bigint").alias("gini_ppm"),
    )


def _fk_pair_sql(child_t: str, child_c: str, parent_t: str,
                 parent_c: str) -> str:
    return f"""
    SELECT '{child_t}.{child_c}' AS child_col,
           '{parent_t}.{parent_c}' AS parent_col,
           CAST(count(*) AS BIGINT) AS n_child_distinct,
           CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contained,
           CAST((1000000 * SUM(CASE WHEN p.v IS NOT NULL THEN 1
                                    ELSE 0 END)) // count(*)
                AS BIGINT) AS containment_ppm
    FROM (SELECT DISTINCT {child_c} AS v FROM {child_t}) c
    LEFT JOIN (SELECT DISTINCT {parent_c} AS v FROM {parent_t}) p
           ON p.v = c.v
    """


_FK_CANDIDATES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    # deliberate NEGATIVE control: order keys are not customer keys
    ("orders", "o_orderkey", "customer", "c_custkey"),
)


@query(
    "etl_fk_inference",
    oracle="\nUNION ALL\n".join(
        _fk_pair_sql(*cand) for cand in _FK_CANDIDATES
    ),
)
def etl_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency mining (FK-candidate inference): for each
    declared column pair, what fraction of the child's DISTINCT values
    exist in the parent — containment 1.0 ⇒ foreign-key candidate,
    the profiling step schema-discovery tools run before lineage can be
    trusted.  Each pair is a distinct-project + left join on the
    distinct sets (key-cardinality rows, never fact rows) and the six
    pairs union into one report; includes a deliberate negative control
    pair whose containment must be far below 1e6."""
    out = None
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        c = (
            load(spark, sf_dir, child_t)
            .select(F.col(child_c).alias("v"))
            .distinct()
        )
        p = (
            load(spark, sf_dir, parent_t)
            .select(F.col(parent_c).alias("v"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        pair = c.join(p, "v", "left").agg(
            F.lit(f"{child_t}.{child_c}").alias("child_col"),
            F.lit(f"{parent_t}.{parent_c}").alias("parent_col"),
            F.count(F.lit(1)).cast("bigint").alias("n_child_distinct"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contained"),
            F.expr(
                "(1000000 * sum(coalesce(hit, 0))) div count(1)"
            ).cast("bigint").alias("containment_ppm"),
        )
        out = pair if out is None else out.unionByName(pair)
    return out


@query(
    "analytics_funnel_ttc",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
                 AS first_purchase
      FROM events GROUP BY 1
    ),
    conv AS (
      SELECT CAST(epoch_us(CAST(first_purchase AS TIMESTAMP))
                  - epoch_us(CAST(first_view AS TIMESTAMP)) AS BIGINT)
                 // 1000000 AS delta_s
      FROM firsts
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(CAST(delta_s AS DOUBLE), 0.25) AS p25_s,
           quantile_cont(CAST(delta_s AS DOUBLE), 0.50) AS p50_s,
           quantile_cont(CAST(delta_s AS DOUBLE), 0.75) AS p75_s,
           CAST(SUM(delta_s) AS BIGINT) AS total_s
    FROM conv
    """,
)
def analytics_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-convert distribution: per user, first 'view' →
    first 'purchase' delay, reported as exact quartiles of whole-second
    deltas (interpolated midpoints of integers are exact dyadic doubles
    — the agg_median determinism argument) plus the exact total.  One
    conditional-min aggregate per user (no self-join, no window), then
    a |users|-sized quantile — the funnel companion to
    funnel_view_purchase that answers "how fast", not just "how many".
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("first_purchase"),
    )
    conv = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        F.expr(
            "(unix_micros(first_purchase) - unix_micros(first_view))"
            " div 1000000"
        ).cast("bigint").alias("delta_s")
    )
    d = F.col("delta_s").cast("double")
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.percentile(d, F.lit(0.25)).alias("p25_s"),
        F.percentile(d, F.lit(0.50)).alias("p50_s"),
        F.percentile(d, F.lit(0.75)).alias("p75_s"),
        F.sum("delta_s").cast("bigint").alias("total_s"),
    )


@query(
    "analytics_yoy_growth",
    oracle="""
    WITH monthly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS ym,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_units
      FROM orders GROUP BY 1
    )
    SELECT cur.ym AS ym,
           CAST(cur.ym // 12 AS BIGINT) AS year,
           CAST(cur.ym % 12 + 1 AS BIGINT) AS month,
           cur.rev_units,
           prev.rev_units AS prev_year_units,
           CAST(cur.rev_units - prev.rev_units AS BIGINT) AS delta_units,
           CASE WHEN prev.rev_units > 0
                THEN CAST(cur.rev_units AS DOUBLE)
                     / CAST(prev.rev_units AS DOUBLE) - 1.0 END AS growth
    FROM monthly cur JOIN monthly prev ON prev.ym = cur.ym - 12
    """,
)
def analytics_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: month buckets as a LINEAR
    integer index (year·12+month−1) so the lag-12 comparison is an
    exact equi-join on ym−12 — immune to calendar gaps, unlike a
    row-lag window that silently compares to whatever HAPPENED to be 12
    rows back.  Exact cent units end-to-end; the growth ratio is the
    one derived DOUBLE (identical exact ints → identical IEEE division;
    signed `div` is AVOIDED entirely because Spark truncates toward
    zero while DuckDB floors — opposite answers on negative growth).
    The join is |months| × |months| key-partitioned — dimension-sized,
    broadcast at any scale."""
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            ).cast("bigint").alias("ym")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("bigint")
            ).cast("bigint").alias("rev_units")
        )
        .localCheckpoint(eager=False)  # referenced twice (cur & prev)
    )
    cur = monthly
    prev = monthly.select(
        (F.col("ym") + 12).alias("ym"),
        F.col("rev_units").alias("prev_year_units"),
    )
    j = cur.join(prev, "ym")
    return j.select(
        "ym",
        F.expr("ym div 12").cast("bigint").alias("year"),
        (F.col("ym") % 12 + 1).cast("bigint").alias("month"),
        "rev_units",
        "prev_year_units",
        (F.col("rev_units") - F.col("prev_year_units"))
        .cast("bigint")
        .alias("delta_units"),
        F.when(
            F.col("prev_year_units") > 0,
            F.col("rev_units").cast("double")
            / F.col("prev_year_units").cast("double")
            - 1.0,
        ).alias("growth"),
    )


@query(
    "analytics_market_basket",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey % 100 AS item
      FROM lineitem
    ),
    ni AS (
      SELECT item, CAST(count(*) AS BIGINT) AS n FROM inc GROUP BY 1
    ),
    nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM inc),
    nij AS (
      SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS n_ij
      FROM inc a JOIN inc b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT p.i, p.j, p.n_ij, ni.n AS n_i, nj.n AS n_j,
           CAST((1000000 * p.n_ij) // (SELECT n FROM nb) AS BIGINT)
               AS support_ppm,
           CAST((1000000 * p.n_ij) // ni.n AS BIGINT) AS conf_i_to_j_ppm,
           CAST((1000000 * p.n_ij) // nj.n AS BIGINT) AS conf_j_to_i_ppm,
           CAST((1000000 * p.n_ij * (SELECT n FROM nb))
                // (ni.n * nj.n) AS BIGINT) AS lift_ppm
    FROM nij p
    JOIN ni ON ni.item = p.i
    JOIN ni nj ON nj.item = p.j
    WHERE p.n_ij >= 2
    """,
)
def analytics_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over ORDER-scoped baskets
    (lineitem part buckets): support / directional confidence / lift in
    exact ppm for every co-purchased item pair with support ≥ 2.  The
    order-scoped companion to analytics_item_cf's user-scoped
    incidence: pair enumeration self-joins on the basket key and
    fan-out is Σ_b items(b)² with the natural per-order basket as the
    cap (~lineitems per order), so the shape is skew-safe without any
    frequency gate.  Corpus scalars (basket count) ride as broadcast
    1-row aggregates."""
    li = load(spark, sf_dir, "lineitem")
    inc = (
        li.select(
            F.col("l_orderkey").alias("basket"),
            (F.col("l_partkey") % 100).alias("item"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # read by ni, nb, and the pair join
    )
    ni = inc.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    nb = inc.agg(
        F.count_distinct("basket").cast("bigint").alias("n_baskets")
    )
    nij = (
        inc.select("basket", F.col("item").alias("i"))
        .join(inc.select("basket", F.col("item").alias("j")), "basket")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ij"))
        .filter(F.col("n_ij") >= 2)
    )
    out = (
        nij.join(F.broadcast(ni.select(F.col("item").alias("i"),
                                       F.col("n").alias("n_i"))), "i")
        .join(F.broadcast(ni.select(F.col("item").alias("j"),
                                    F.col("n").alias("n_j"))), "j")
        .crossJoin(F.broadcast(nb))
    )
    return out.select(
        "i", "j", "n_ij", "n_i", "n_j",
        F.expr("(1000000 * n_ij) div n_baskets")
        .cast("bigint").alias("support_ppm"),
        F.expr("(1000000 * n_ij) div n_i")
        .cast("bigint").alias("conf_i_to_j_ppm"),
        F.expr("(1000000 * n_ij) div n_j")
        .cast("bigint").alias("conf_j_to_i_ppm"),
        F.expr("(1000000 * n_ij * n_baskets) div (n_i * n_j)")
        .cast("bigint").alias("lift_ppm"),
    )


@query(
    "analytics_pareto_deciles",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    dec AS (
      SELECT x, ntile(10) OVER (ORDER BY x DESC, o_custkey) AS decile
      FROM rev
    ),
    agg AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             CAST(SUM(x) AS BIGINT) AS units
      FROM dec GROUP BY 1
    )
    SELECT decile, n_customers, units,
           CAST(SUM(units) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_units,
           CAST(FLOOR(1000000.0
                * CAST(SUM(units) OVER (ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE)
                / CAST(SUM(units) OVER () AS DOUBLE)) AS BIGINT)
               AS cum_share_ppm
    FROM agg
    """,
)
def analytics_pareto_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pareto concentration curve: customers ranked by revenue into
    deciles (ntile over a total order — ties broken by key), cumulative
    revenue share per decile — "the top 10% carry X% of revenue", the
    distributional readout next to analytics_gini's single number.
    Exact cent units throughout; the share ratio is floor-of-IEEE on
    identical exact integers (the Gini discipline — raw ppm BIGINT
    multiply would overflow at sf1).

    The decile assignment is TWO-PHASE (the ml_calibration_bins
    pattern): exact global rank = prefix_sums cumulative count of
    LARGER revenues (descending revenue-range buckets) + a revenue-
    partitioned row_number, and SQL ntile's first-r-tiles-get-one-
    extra rule is re-derived in closed form — bit-identical to
    ntile(10) OVER (ORDER BY x DESC, o_custkey), with only the 10-row
    decile aggregate left under unpartitioned windows."""
    from pyspark.sql.window import Window

    from ..operators.prefix import prefix_rank

    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("bigint")
            ).cast("bigint").alias("x")
        )
    )
    # per-customer aggregate referenced three times (total count +
    # prefix_rank's count-and-join-back): checkpoint so orders scans
    # once
    rev = rev.localCheckpoint(eager=False)
    tot_n = rev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = prefix_rank(
        rev, key="x", tiebreak="o_custkey",
        bucket=-F.expr("x div 1000000"), descending=True,
    ).select("x", "rk")
    dec = ranked.crossJoin(F.broadcast(tot_n)).select(
        "x",
        F.expr(
            "CASE WHEN rk <= (n % 10) * ((n div 10) + 1) "
            "THEN (rk - 1) div ((n div 10) + 1) + 1 "
            "ELSE (n % 10) + (rk - (n % 10) * ((n div 10) + 1) - 1) "
            "div greatest(n div 10, 1) + 1 END"
        ).cast("int").alias("decile"),
    )
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("x").cast("bigint").alias("units"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = F.sum("units").over(wcum).cast("bigint")
    tot = F.sum("units").over(wtot).cast("bigint")
    return agg.select(
        "decile",
        "n_customers",
        "units",
        cum.alias("cum_units"),
        F.floor(
            F.lit(1000000.0) * cum.cast("double") / tot.cast("double")
        ).cast("bigint").alias("cum_share_ppm"),
    )


@query(
    "etl_gdpr_erasure_audit",
    oracle="""
    WITH tomb AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 17 = 3
    ),
    flagged AS (
      SELECT e.event_type,
             CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END AS gone
      FROM events e LEFT JOIN tomb t ON t.user_id = e.user_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS rows_before,
           CAST(SUM(gone) AS BIGINT) AS rows_removed,
           CAST(count(*) - SUM(gone) AS BIGINT) AS rows_after
    FROM flagged GROUP BY 1
    """,
)
def etl_gdpr_erasure_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-be-forgotten sweep audit: a tombstone list (synthetic
    deterministic cohort — every 17th user) anti-joins the fact table,
    and the audit reports per-event-type rows before / removed / after
    in ONE pass (left join against the broadcast tombstone set +
    conditional sums — no second scan to count survivors).  The erasure
    itself is the anti-join projection; the audit is what compliance
    actually signs off on, and at 100 TB the tombstone side is always
    the broadcast side."""
    ev = load(spark, sf_dir, "events")
    tomb = (
        ev.filter(F.col("user_id") % 17 == 3)
        .select("user_id")
        .distinct()
        .withColumn("gone", F.lit(1))
    )
    flagged = ev.join(F.broadcast(tomb), "user_id", "left").select(
        "event_type", F.coalesce(F.col("gone"), F.lit(0)).alias("gone")
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_before"),
        F.sum("gone").cast("bigint").alias("rows_removed"),
        (F.count(F.lit(1)) - F.sum("gone"))
        .cast("bigint")
        .alias("rows_after"),
    )


@query(
    "analytics_new_vs_returning",
    oracle="""
    WITH fd AS (
      SELECT user_id,
             min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS first_day
      FROM events GROUP BY 1
    ),
    days AS (
      SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events GROUP BY 1, 2
    )
    SELECT make_timestamp(d.day * 86400 * 1000000) AS day,
           CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM days d JOIN fd f ON f.user_id = d.user_id
    GROUP BY 1
    """,
)
def analytics_new_vs_returning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily new-vs-returning active-user split: first-seen day per
    user (one aggregate), joined back to the distinct (user, day)
    presence frame — the growth-accounting readout between the DAU
    curve (ts_sliding_distinct_users) and the weekly cohort matrix.
    All integer day buckets; the first-seen dim is |users|-sized and
    key-partitioned with the presence frame."""
    ev = load(spark, sf_dir, "events")
    day = F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)")
    days = ev.select("user_id", day.alias("day")).distinct()
    fd = days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = days.join(fd, "user_id")
    return (
        j.groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("int"))
            .cast("bigint").alias("new_users"),
            F.sum((F.col("day") > F.col("first_day")).cast("int"))
            .cast("bigint").alias("returning_users"),
        )
        .select(
            F.timestamp_micros(F.col("day") * 86400 * 1000000)
            .alias("day"),
            "new_users",
            "returning_users",
        )
    )


@query(
    "analytics_permutation_test",
    oracle="""
    WITH base AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substring(md5(
                  CAST(user_id AS VARCHAR) || ':ab'), 1, 8)) AS BIGINT)
                  % 2 = 0 THEN 0 ELSE 1 END AS arm,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS units
      FROM events WHERE event_type = 'purchase'
    ),
    obs AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN units END) AS HUGEINT)
                 AS sa,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT)
                 AS na,
             CAST(SUM(CASE WHEN arm = 1 THEN units END) AS HUGEINT)
                 AS sb,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                 AS nb
      FROM base
    ),
    reps AS (SELECT unnest(generate_series(1, 100)) AS b),
    perm AS (
      SELECT r.b,
             CASE WHEN CAST(('0x' || substring(md5(
                  CAST(e.user_id AS VARCHAR) || '#' ||
                  CAST(r.b AS VARCHAR)), 1, 8)) AS BIGINT)
                  % 2 = 0 THEN 0 ELSE 1 END AS parm,
             e.units
      FROM base e, reps r
    ),
    pm AS (
      SELECT b,
             CAST(SUM(CASE WHEN parm = 0 THEN units END) AS HUGEINT)
                 AS sa,
             CAST(SUM(CASE WHEN parm = 0 THEN 1 ELSE 0 END) AS HUGEINT)
                 AS na,
             CAST(SUM(CASE WHEN parm = 1 THEN units END) AS HUGEINT)
                 AS sb,
             CAST(SUM(CASE WHEN parm = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                 AS nb
      FROM perm GROUP BY b
      HAVING SUM(CASE WHEN parm = 0 THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN parm = 1 THEN 1 ELSE 0 END) > 0
    ),
    verdicts AS (
      SELECT p.b,
             CASE WHEN abs(p.sa * p.nb - p.sb * p.na) * (o.na * o.nb)
                       >= abs(o.sa * o.nb - o.sb * o.na) * (p.na * p.nb)
                  THEN 1 ELSE 0 END AS extreme
      FROM pm p, obs o
    )
    SELECT (SELECT CAST(na AS BIGINT) FROM obs) AS n_a,
           (SELECT CAST(nb AS BIGINT) FROM obs) AS n_b,
           CAST(count(*) AS BIGINT) AS n_perms,
           CAST(SUM(extreme) AS BIGINT) AS n_extreme,
           CAST((1000000 * SUM(extreme)) // count(*) AS BIGINT)
               AS p_value_ppm
    FROM verdicts
    """,
)
def analytics_permutation_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT (Monte-Carlo, 100 deterministic resamples) permutation
    test for the A/B mean difference — the nonparametric twin of
    analytics_ab_ttest for when normality is a lie.  Each permutation
    reassigns arms by md5(user, replicate) (user-level, preserving
    cluster randomization); "as extreme" compares |mean diff| by
    CROSS-MULTIPLICATION of the exact rational means — |s·n' − s'·n|
    products in HUGEINT/DECIMAL(38) — so not one float enters the
    verdict and the p-value hash-matches to the ppm.  Shape: one 100×
    expansion (sampled upstream at real scale, like the bootstrap) +
    one groupBy(replicate)."""
    from ..operators._util import ensure_parallel

    ev = load(spark, sf_dir, "events")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = ensure_parallel(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.expr(
                "cast(conv(substring(md5(concat(cast(user_id as string),"
                " ':ab')), 1, 8), 16, 10) as bigint) % 2"
            ).alias("arm"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("units"),
        )
    ).localCheckpoint(eager=False)  # read by obs and the 100x expansion

    def arm_moments(df, arm_col):
        return df.agg(
            F.sum(F.when(F.col(arm_col) == 0, F.col("units")))
            .cast("bigint").alias("sa"),
            F.sum((F.col(arm_col) == 0).cast("int"))
            .cast("bigint").alias("na"),
            F.sum(F.when(F.col(arm_col) == 1, F.col("units")))
            .cast("bigint").alias("sb"),
            F.sum((F.col(arm_col) == 1).cast("int"))
            .cast("bigint").alias("nb"),
        )

    obs = arm_moments(base, "arm").select(
        F.col("sa").alias("osa"), F.col("na").alias("ona"),
        F.col("sb").alias("osb"), F.col("nb").alias("onb"),
    )
    reps = spark.range(1, 101).select(F.col("id").cast("int").alias("b"))
    perm = base.crossJoin(F.broadcast(reps)).select(
        "b",
        "units",
        F.expr(
            "cast(conv(substring(md5(concat(cast(user_id as string),"
            " '#', cast(b as string))), 1, 8), 16, 10) as bigint) % 2"
        ).alias("parm"),
    )
    pm = (
        perm.groupBy("b")
        .agg(
            F.sum(F.when(F.col("parm") == 0, F.col("units")))
            .cast("bigint").alias("sa"),
            F.sum((F.col("parm") == 0).cast("int"))
            .cast("bigint").alias("na"),
            F.sum(F.when(F.col("parm") == 1, F.col("units")))
            .cast("bigint").alias("sb"),
            F.sum((F.col("parm") == 1).cast("int"))
            .cast("bigint").alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
    )
    j = pm.crossJoin(F.broadcast(obs))
    extreme = (
        F.abs(dec(F.col("sa")) * dec(F.col("nb"))
              - dec(F.col("sb")) * dec(F.col("na")))
        * (dec(F.col("ona")) * dec(F.col("onb")))
        >= F.abs(dec(F.col("osa")) * dec(F.col("onb"))
                 - dec(F.col("osb")) * dec(F.col("ona")))
        * (dec(F.col("na")) * dec(F.col("nb")))
    ).cast("int")
    return j.select(
        F.col("ona").alias("n_a"),
        F.col("onb").alias("n_b"),
        extreme.alias("extreme"),
    ).groupBy("n_a", "n_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_perms"),
        F.sum("extreme").cast("bigint").alias("n_extreme"),
        F.expr("(1000000 * sum(extreme)) div count(1)")
        .cast("bigint").alias("p_value_ppm"),
    )


@query(
    "etl_scd3_upsert",
    oracle="""
    WITH changes AS (
      SELECT c_custkey, 'MOVED' AS c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT b.c_custkey,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment
                ELSE b.c_mktsegment END AS c_mktsegment,
           CASE WHEN c.c_custkey IS NOT NULL THEN b.c_mktsegment
           END AS prev_mktsegment,
           CAST(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END
                AS INTEGER) AS changed
    FROM customer b LEFT JOIN changes c ON c.c_custkey = b.c_custkey
    """,
)
def etl_scd3_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3 — previous-value column: a segment-change batch
    applies to the dimension keeping ONE generation of history in a
    ``prev_`` column (the cheap middle ground between SCD-1's amnesia
    and SCD-2's row-per-version; completes the SCD 1/2/3 family next
    to etl_upsert_customers and etl_scd2_*).  One key-partitioned left
    join; unchanged rows carry NULL prev — unambiguous ("never
    changed"), exactly the semantics BI tools expect."""
    base = load(spark, sf_dir, "customer")
    changes = (
        base.filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", F.lit("MOVED").alias("new_seg"))
    )
    j = base.join(changes, "c_custkey", "left")
    return j.select(
        "c_custkey",
        F.when(F.col("new_seg").isNotNull(), F.col("new_seg"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(F.col("new_seg").isNotNull(), F.col("c_mktsegment"))
        .alias("prev_mktsegment"),
        F.col("new_seg").isNotNull().cast("int").alias("changed"),
    )


@query(
    "analytics_activity_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    n AS (
      SELECT user_id, day,
             datediff('day', DATE '1970-01-01', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
                 AS grp
      FROM d
    ),
    s AS (
      SELECT user_id, grp,
             CAST(count(*) AS BIGINT) AS len,
             min(day) AS start_day
      FROM n GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(-min({'nl': -len,
                      'sd': datediff('day', DATE '1970-01-01', start_day)
                     }).nl AS BIGINT) AS longest_streak_days,
           CAST(min({'nl': -len,
                     'sd': datediff('day', DATE '1970-01-01', start_day)
                    }).sd AS BIGINT) AS longest_streak_start_day
    FROM s GROUP BY user_id
    """,
)
def analytics_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (distinct active days → epoch-day minus
    row_number labels each maximal run with a constant → one groupBy
    per island, one per user).  All integer arithmetic; the longest
    streak's start day resolves ties deterministically to the EARLIEST
    streak via struct-min over (-len, start).  Two shuffles total
    (distinct + the shared user_id window/groupBy partitioning) — the
    engagement-analytics staple done without any self-join."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    n = d.withColumn(
        "grp", epoch_day - F.row_number().over(w)
    )
    s = n.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        ).alias("start_day"),
    )
    pick = F.min(
        F.struct(
            (-F.col("len")).alias("nl"),
            F.col("start_day").cast("long").alias("sd"),
        )
    )
    return s.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        (-pick.getField("nl")).cast("bigint").alias("longest_streak_days"),
        pick.getField("sd").cast("bigint").alias("longest_streak_start_day"),
    )


@query(
    "etl_golden_record",
    oracle="""
    WITH src AS (
      SELECT c_custkey % 150 AS entity_id, c_custkey, c_name,
             c_mktsegment, c_nationkey,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
      FROM customer
    ),
    seg_counts AS (
      SELECT entity_id, c_mktsegment,
             CAST(count(*) AS BIGINT) AS cnt
      FROM src GROUP BY entity_id, c_mktsegment
    ),
    seg_mode AS (
      SELECT entity_id, c_mktsegment FROM (
        SELECT entity_id, c_mktsegment,
               row_number() OVER (PARTITION BY entity_id
                 ORDER BY cnt DESC, c_mktsegment) AS rn
        FROM seg_counts
      ) WHERE rn = 1
    ),
    pick AS (
      SELECT entity_id,
             CAST(count(*) AS BIGINT) AS n_duplicates,
             CAST(max(c_custkey) AS BIGINT) AS latest_key,
             CAST(max({'k': c_custkey, 'n': c_nationkey}).n AS BIGINT)
               AS nationkey_latest,
             max({'len': length(c_name), 'name': c_name}).name
               AS name_longest,
             CAST(max(bal_c) AS BIGINT) AS acctbal_max_cents
      FROM src GROUP BY entity_id
    )
    SELECT p.entity_id, p.n_duplicates, p.latest_key,
           p.nationkey_latest, p.name_longest, p.acctbal_max_cents,
           m.c_mktsegment AS segment_mode
    FROM pick p JOIN seg_mode m USING (entity_id)
    """,
)
def etl_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (the merge step of master-data
    management, downstream of match/cluster): per entity cluster, each
    field elects its survivor under its own deterministic rule —
    segment by MODE (count-then-rank, lexicographic tie-break),
    nation by LATEST (max version key via struct-max), name by LONGEST
    (length-then-value struct-max), balance by MAX exact cents — plus
    the duplicate count for stewardship review.  One groupBy pass for
    the struct-max rules; the mode runs on the (entity, value) partial
    frame, never raw rows.  Entity ids here come from a synthetic
    modulus blocking; in production the upstream is
    join_fuzzy_levenshtein → dedup_clusters, which this composes with."""
    src = load(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 150).alias("entity_id"),
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_c"),
    )
    from pyspark.sql.window import Window as W

    seg_counts = src.groupBy("entity_id", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    seg_mode = (
        seg_counts.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("entity_id").orderBy(
                    F.col("cnt").desc(), "c_mktsegment"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("entity_id", "c_mktsegment")
    )
    pick = src.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_duplicates"),
        F.max("c_custkey").alias("latest_key"),
        F.max(
            F.struct(
                F.col("c_custkey").alias("k"),
                F.col("c_nationkey").alias("n"),
            )
        )["n"].cast("bigint").alias("nationkey_latest"),
        F.max(
            F.struct(
                F.length("c_name").alias("len"),
                F.col("c_name").alias("name"),
            )
        )["name"].alias("name_longest"),
        F.max("bal_c").alias("acctbal_max_cents"),
    )
    return pick.join(
        seg_mode.withColumnRenamed("c_mktsegment", "segment_mode"),
        "entity_id",
    )


@query(
    "etl_merkle_bucket_diff",
    oracle="""
    WITH a AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE c_custkey % 301 <> 0
    ),
    b AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 97 = 0 THEN 'CHANGED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    ),
    da AS (
      SELECT c_custkey // 64 AS bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(('0x' || substring(md5(
               CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment
             ), 1, 12)) AS BIGINT)) AS BIGINT) AS digest
      FROM a GROUP BY 1
    ),
    db AS (
      SELECT c_custkey // 64 AS bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(('0x' || substring(md5(
               CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment
             ), 1, 12)) AS BIGINT)) AS BIGINT) AS digest
      FROM b GROUP BY 1
    )
    SELECT COALESCE(da.bucket, db.bucket) AS bucket,
           COALESCE(da.n_rows, 0) AS n_rows_a,
           COALESCE(db.n_rows, 0) AS n_rows_b,
           CAST(CASE WHEN da.digest IS NOT NULL
                      AND db.digest IS NOT NULL
                      AND da.digest = db.digest
                      AND da.n_rows = db.n_rows
                 THEN 1 ELSE 0 END AS INTEGER) AS is_match
    FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
    """,
)
def etl_merkle_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style bucket-digest reconciliation — the anti-entropy
    audit two replicas run before shipping data: each side reduces
    every key bucket to (row count, order-insensitive digest = SUM of
    per-row md5 prefixes), then ONLY the bucket summaries cross the
    wire and mismatched buckets pinpoint where to re-sync.  The
    per-row hash is the engine-portable md5-prefix int; SUM makes the
    bucket digest independent of row order and partitioning, so both
    engines agree exactly.  Fixture drift: replica B changes every
    97th segment and misses every 301st row — those buckets (and only
    those) must flag.  At 100 TB the comparison is two scans + a
    bucket-count-sized join: the payload never moves."""
    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    a = base.filter(F.col("c_custkey") % 301 != 0)
    b = base.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 97 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )

    def digest(df):
        h = F.expr(
            "cast(conv(substring(md5("
            "cast(c_custkey as string) || '|' || c_mktsegment"
            "), 1, 12), 16, 10) as bigint)"
        )
        return (
            df.select(
                F.expr("c_custkey div 64").alias("bucket"),
                h.alias("h"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("h").alias("digest"),
            )
        )

    da = digest(a).select(
        "bucket",
        F.col("n_rows").alias("n_rows_a"),
        F.col("digest").alias("digest_a"),
    )
    db = digest(b).select(
        "bucket",
        F.col("n_rows").alias("n_rows_b"),
        F.col("digest").alias("digest_b"),
    )
    j = da.join(db, "bucket", "full_outer")
    return j.select(
        "bucket",
        F.coalesce("n_rows_a", F.lit(0)).alias("n_rows_a"),
        F.coalesce("n_rows_b", F.lit(0)).alias("n_rows_b"),
        (
            F.col("digest_a").isNotNull()
            & F.col("digest_b").isNotNull()
            & (F.col("digest_a") == F.col("digest_b"))
            & (F.col("n_rows_a") == F.col("n_rows_b"))
        )
        .cast("int")
        .alias("is_match"),
    )


@query(
    "etl_bitemporal_asof_asat",
    oracle="""
    WITH hist AS (
      -- valid-time version 1, recorded on day 0
      SELECT c_custkey, c_mktsegment AS segment,
             0 AS vf, 100 AS vt, 0 AS tf, 9999 AS tt
      FROM customer
      UNION ALL
      -- retroactive correction for every 5th customer: validity
      -- backdated to day 0 but only RECORDED at tx day 50
      SELECT c_custkey, 'CORRECTED', 0, 100, 50, 9999
      FROM customer WHERE c_custkey % 5 = 0
    ),
    probe AS (
      SELECT 10 AS v, 20 AS t UNION ALL SELECT 10, 60
    ),
    visible AS (
      SELECT p.v, p.t, h.c_custkey, h.segment,
             row_number() OVER (
               PARTITION BY p.v, p.t, h.c_custkey
               ORDER BY h.tf DESC
             ) AS rn
      FROM probe p JOIN hist h
        ON p.v >= h.vf AND p.v < h.vt
       AND p.t >= h.tf AND p.t < h.tt
    )
    SELECT v AS valid_day, t AS tx_day, segment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM visible WHERE rn = 1
    GROUP BY v, t, segment
    """,
)
def etl_bitemporal_asof_asat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal query — AS-OF valid time, AS-AT transaction time:
    'what did we believe on day T about the state on day V'.  The
    history carries BOTH interval pairs; a retroactive correction
    (backdated validity, later transaction time) is invisible to an
    as-at-day-20 probe but wins for as-at-day-60, with the
    latest-transaction version per (probe, key) chosen by one window.
    The same probe valid day therefore returns DIFFERENT answers at
    the two transaction days — the audit-trail property plain SCD-2
    cannot express (and the reason regulators require bitemporal
    ledgers).  Shape: probes broadcast against the key-partitioned
    history; one window on (probe, key)."""
    from pyspark.sql.window import Window as W

    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    v1 = base.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).alias("vf"), F.lit(100).alias("vt"),
        F.lit(0).alias("tf"), F.lit(9999).alias("tt"),
    )
    corr = base.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit("CORRECTED").alias("segment"),
        F.lit(0).alias("vf"), F.lit(100).alias("vt"),
        F.lit(50).alias("tf"), F.lit(9999).alias("tt"),
    )
    hist = v1.unionByName(corr)
    probe = spark.createDataFrame([(10, 20), (10, 60)], "v int, t int")
    j = hist.join(
        F.broadcast(probe),
        (F.col("v") >= F.col("vf"))
        & (F.col("v") < F.col("vt"))
        & (F.col("t") >= F.col("tf"))
        & (F.col("t") < F.col("tt")),
    )
    w = W.partitionBy("v", "t", "c_custkey").orderBy(F.col("tf").desc())
    vis = j.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return vis.groupBy(
        F.col("v").alias("valid_day"),
        F.col("t").alias("tx_day"),
        "segment",
    ).agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "etl_cdc_apply_changes",
    oracle="""
    WITH log AS (
      -- v1: initial insert for every customer
      SELECT c_custkey AS k, 1 AS version, 'U' AS op,
             c_mktsegment AS segment FROM customer
      UNION ALL
      -- v2: segment update for every 4th
      SELECT c_custkey, 2, 'U', 'UPDATED' FROM customer
      WHERE c_custkey % 4 = 0
      UNION ALL
      -- v3: delete every 10th (wins over the v2 update on %20)
      SELECT c_custkey, 3, 'D', NULL FROM customer
      WHERE c_custkey % 10 = 0
    ),
    latest AS (
      SELECT k, op, segment FROM (
        SELECT k, op, segment,
               row_number() OVER (PARTITION BY k
                 ORDER BY version DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT k AS c_custkey, segment
    FROM latest WHERE op <> 'D'
    """,
)
def etl_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY CHANGES — materialize current state from a CDC change log
    (the Debezium-consumer step downstream of etl_cdc_diff's producer
    side): latest version per key wins, and a delete tombstone
    suppresses the row entirely even when updates precede it.  ONE
    window over the key partition (latest-version pick), then a
    tombstone filter — no join, no driver state; at 100 TB this is a
    single shuffle on the key, the same plan MERGE-based lakehouses
    run under the hood.  Log here: insert-all, update every 4th,
    delete every 10th — so %20 keys exercise update-then-delete
    ordering."""
    from pyspark.sql.window import Window as W

    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    v1 = base.select(
        F.col("c_custkey").alias("k"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
        F.col("c_mktsegment").alias("segment"),
    )
    v2 = base.filter(F.col("c_custkey") % 4 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
        F.lit("UPDATED").alias("segment"),
    )
    v3 = base.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit(3).alias("version"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("segment"),
    )
    log = v1.unionByName(v2).unionByName(v3)
    w = W.partitionBy("k").orderBy(F.col("version").desc())
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.filter(F.col("op") != "D").select(
        F.col("k").alias("c_custkey"), "segment"
    )


_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


@query(
    "analytics_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                   AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
    e AS (
      SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
        (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
        (9, 45757)) AS v(digit, expected_ppm)
    )
    SELECT e.digit, COALESCE(c.n, 0) AS n,
           (1000000 * COALESCE(c.n, 0)) // t.tot AS observed_ppm,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           (1000000 * COALESCE(c.n, 0)) // t.tot - e.expected_ppm
               AS delta_ppm
    FROM e LEFT JOIN c USING (digit), t
    """,
)
def analytics_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the classic fraud /
    fabricated-data screen: the leading-digit distribution of order
    totals vs Benford's log10(1+1/d) expectation, as exact-ppm
    observed/expected/delta per digit.  The irrational expectations
    enter as PRECOMPUTED integer literals (floor of 1e6·log10), so no
    transcendental function runs in either engine and every output
    column is BIGINT.  All nine digits appear even at zero count
    (outer join against the digit spine).  One scan + one 9-row
    aggregate — audit-at-rest cost."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("tot"))
    spine = spark.createDataFrame(
        [(k, v) for k, v in sorted(_BENFORD_PPM.items())],
        "digit long, expected_ppm long",
    )
    j = (
        spine.join(c, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.expr("(1000000 * coalesce(n, 0)) div tot").alias(
                "observed_ppm"
            ),
            "expected_ppm",
            (
                F.expr("(1000000 * coalesce(n, 0)) div tot")
                - F.col("expected_ppm")
            ).alias("delta_ppm"),
        )
    )
    return j


@query(
    "analytics_price_volume_mix",
    oracle="""
    WITH li AS (
      SELECT l.l_partkey AS partkey,
             CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 2 END AS period,
             CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               AS rev_c,
             CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT) AS qty
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    per AS (
      SELECT partkey, period,
             CAST(sum(rev_c) AS BIGINT) AS rev,
             CAST(sum(qty) AS BIGINT) AS qty
      FROM li GROUP BY partkey, period
    ),
    both_p AS (
      SELECT a.partkey,
             a.rev AS rev1, a.qty AS qty1,
             b.rev AS rev2, b.qty AS qty2
      FROM (SELECT * FROM per WHERE period = 1) a
      JOIN (SELECT * FROM per WHERE period = 2) b USING (partkey)
      WHERE a.qty > 0 AND b.qty > 0
    )
    SELECT partkey, rev1, rev2, qty1, qty2,
           rev2 - rev1 AS delta_rev_c,
           CAST(rev2 * qty1 - rev1 * qty2 AS BIGINT)
             AS price_effect_num,
           qty2 AS price_effect_den,
           CAST(rev1 * (qty2 - qty1) AS BIGINT) AS volume_effect_num,
           qty1 AS volume_effect_den
    FROM both_p
    ORDER BY abs(rev2 - rev1) DESC, partkey
    LIMIT 20
    """,
)
def analytics_price_volume_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Price-volume driver decomposition — the BI 'why did revenue
    move' analysis: for the top-20 parts by absolute revenue change
    between two periods, split Δrevenue into a PRICE effect
    ((p₂−p₁)·q₁) and a VOLUME effect (p₁·(q₂−q₁)).  Unit prices are
    rationals (rev/qty in exact cents), so each effect is reported as
    an exact BIGINT numerator/denominator — (rev₂q₁−rev₁q₂)/q₂ and
    rev₁(q₂−q₁)/q₁ after clearing — never a float division.  Shape:
    one fact join, one (part, period) aggregate, a part-keyed period
    self-join, TakeOrderedAndProject for the top-20 — all
    key-partitioned at any scale."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.col("l_partkey").alias("partkey"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("rev_c"),
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("long")
            .alias("qty"),
        )
        .join(
            load(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.when(
                    F.col("o_orderdate")
                    < F.lit("1998-01-01").cast("timestamp"),
                    F.lit(1),
                )
                .otherwise(F.lit(2))
                .alias("period"),
            ),
            "l_orderkey",
        )
    )
    per = li.groupBy("partkey", "period").agg(
        F.sum("rev_c").alias("rev"), F.sum("qty").alias("qty")
    )
    p1 = per.filter(F.col("period") == 1).select(
        "partkey",
        F.col("rev").alias("rev1"),
        F.col("qty").alias("qty1"),
    )
    p2 = per.filter(F.col("period") == 2).select(
        "partkey",
        F.col("rev").alias("rev2"),
        F.col("qty").alias("qty2"),
    )
    b = p1.join(p2, "partkey").filter(
        (F.col("qty1") > 0) & (F.col("qty2") > 0)
    )
    out = b.select(
        "partkey",
        "rev1",
        "rev2",
        "qty1",
        "qty2",
        (F.col("rev2") - F.col("rev1")).alias("delta_rev_c"),
        (
            F.col("rev2") * F.col("qty1") - F.col("rev1") * F.col("qty2")
        ).alias("price_effect_num"),
        F.col("qty2").alias("price_effect_den"),
        (F.col("rev1") * (F.col("qty2") - F.col("qty1"))).alias(
            "volume_effect_num"
        ),
        F.col("qty1").alias("volume_effect_den"),
    )
    return out.orderBy(
        F.abs(F.col("delta_rev_c")).desc(), "partkey"
    ).limit(20)


@query(
    "analytics_kaplan_meier",
    oracle="""
    WITH v0 AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS d0
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    pe AS (
      SELECT e.user_id, CAST(min(e.ts) AS DATE) AS de
      FROM events e JOIN v0 ON v0.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= CAST(v0.d0 AS TIMESTAMP)
      GROUP BY e.user_id
    ),
    h AS (SELECT CAST(max(ts) AS DATE) AS dh FROM events),
    u AS (
      SELECT v0.user_id,
             CAST(datediff('day', v0.d0,
                  COALESCE(pe.de, h.dh)) AS BIGINT) AS dur,
             CASE WHEN pe.de IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM v0 LEFT JOIN pe ON pe.user_id = v0.user_id, h
    ),
    durs AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(ev) AS BIGINT) AS d
      FROM u GROUP BY dur
    ),
    risk AS (
      SELECT dur, d,
             CAST(sum(m) OVER () -
                  COALESCE(sum(m) OVER (ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS n_risk
      FROM durs
    ),
    steps AS (SELECT dur, n_risk, d FROM risk WHERE d > 0),
    folded AS (
      SELECT list_reduce(
        list_prepend(CAST([] AS DOUBLE[]),
          array_agg([CAST(dur AS DOUBLE), CAST(n_risk AS DOUBLE),
                     CAST(d AS DOUBLE)] ORDER BY dur)),
        (acc, x) -> acc || [x[1], x[2], x[3],
          (CASE WHEN len(acc) = 0 THEN 1.0
                ELSE acc[len(acc)] END) * (1.0 - x[3] / x[2])]
      ) AS q FROM steps
    )
    SELECT CAST(q[4 * i - 3] AS BIGINT) AS duration_days,
           CAST(q[4 * i - 2] AS BIGINT) AS n_risk,
           CAST(q[4 * i - 1] AS BIGINT) AS n_events,
           q[4 * i] AS survival
    FROM folded,
         (SELECT unnest(range(1, 100000)) AS i)
    WHERE 4 * i <= len(q)
    """,
)
def analytics_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for view→purchase conversion — the
    survival-analysis estimator with RIGHT-CENSORING (users who never
    purchase are censored at the corpus horizon, not dropped — the
    property a naive conversion-rate query gets wrong):
    S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over event days.  The risk sets and
    event counts are exact BIGINTs from one window over the distinct
    duration frame; the cumulative product is the in-plan ordered
    MULTIPLICATIVE fold (each factor one IEEE division of exact ints,
    multiplied in ascending-day order), so the survival doubles are
    bit-identical across engines — the fold family's third member,
    extending it from sums (Holt, ledger) to products.  The folded
    curve is event-day-bounded model state, never user rows."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events")
    v0 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("d0"))
    )
    pe = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v0, "user_id")
        .filter(F.col("ts") >= F.col("d0").cast("timestamp"))
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("de"))
    )
    h = ev.agg(F.max(F.col("ts").cast("date")).alias("dh"))
    u = (
        v0.join(pe, "user_id", "left")
        .crossJoin(F.broadcast(h))
        .select(
            F.datediff(F.coalesce("de", "dh"), "d0")
            .cast("long")
            .alias("dur"),
            F.col("de").isNotNull().cast("long").alias("ev"),
        )
    )
    durs = u.groupBy("dur").agg(
        F.count(F.lit(1)).alias("m"), F.sum("ev").alias("d")
    )
    wo = W.orderBy("dur")
    risk = durs.select(
        "dur",
        "d",
        (
            F.sum("m").over(
                W.partitionBy()
            )
            - F.coalesce(
                F.sum("m").over(
                    wo.rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    steps = risk.filter(F.col("d") > 0)
    arr = steps.agg(
        F.array_sort(
            F.collect_list(F.struct("dur", "n_risk", "d"))
        ).alias("s")
    )
    folded = arr.select(
        F.aggregate(
            "s",
            F.array().cast("array<struct<dur:long,n_risk:long,"
                           "d:long,surv:double>>"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.struct(
                        x["dur"].alias("dur"),
                        x["n_risk"].alias("n_risk"),
                        x["d"].alias("d"),
                        (
                            F.coalesce(
                                F.try_element_at(acc, F.lit(-1))[
                                    "surv"
                                ],
                                F.lit(1.0),
                            )
                            * (
                                F.lit(1.0)
                                - x["d"].cast("double")
                                / x["n_risk"].cast("double")
                            )
                        ).alias("surv"),
                    )
                ),
            ),
        ).alias("q")
    )
    return folded.select(F.explode("q").alias("r")).select(
        F.col("r.dur").alias("duration_days"),
        F.col("r.n_risk").alias("n_risk"),
        F.col("r.d").alias("n_events"),
        F.col("r.surv").alias("survival"),
    )


@query(
    "etl_fd_violations",
    oracle="""
    WITH pairs AS (
      SELECT 'c_nationkey->c_mktsegment' AS fd,
             CAST(c_nationkey AS VARCHAR) AS lhs, c_mktsegment AS rhs
      FROM customer
      UNION ALL
      SELECT 'c_mktsegment->c_nationkey',
             c_mktsegment, CAST(c_nationkey AS VARCHAR)
      FROM customer
      UNION ALL
      SELECT 'c_custkey->c_mktsegment',
             CAST(c_custkey AS VARCHAR), c_mktsegment
      FROM customer
    ),
    per_lhs AS (
      SELECT fd, lhs,
             CAST(count(DISTINCT rhs) AS BIGINT) AS n_rhs
      FROM pairs GROUP BY fd, lhs
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_lhs_values,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST((1000000 * sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END))
               // count(*) AS BIGINT) AS violation_ppm,
           CAST(max(n_rhs) AS BIGINT) AS worst_fanout
    FROM per_lhs GROUP BY fd
    """,
)
def etl_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violation profiling — the data-profiling
    sibling of FK inference: for each candidate FD A→B, how many A
    values map to MORE than one B (exact violation ppm + worst
    fan-out).  A key column (custkey→segment) must profile at zero
    violations; attribute pairs expose their real determinacy — the
    evidence schema designers need before declaring constraints or
    choosing clustering keys.  One Expand pass stacks the candidate
    pairs, then two aggregates over (fd, lhs) partials — value-
    cardinality-bounded state, never row-bounded."""
    cust = load(spark, sf_dir, "customer")
    pairs = (
        cust.select(
            F.lit("c_nationkey->c_mktsegment").alias("fd"),
            F.col("c_nationkey").cast("string").alias("lhs"),
            F.col("c_mktsegment").alias("rhs"),
        )
        .unionByName(
            cust.select(
                F.lit("c_mktsegment->c_nationkey").alias("fd"),
                F.col("c_mktsegment").alias("lhs"),
                F.col("c_nationkey").cast("string").alias("rhs"),
            )
        )
        .unionByName(
            cust.select(
                F.lit("c_custkey->c_mktsegment").alias("fd"),
                F.col("c_custkey").cast("string").alias("lhs"),
                F.col("c_mktsegment").alias("rhs"),
            )
        )
    )
    per_lhs = pairs.groupBy("fd", "lhs").agg(
        F.count_distinct("rhs").alias("n_rhs")
    )
    return per_lhs.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_lhs_values"),
        F.sum((F.col("n_rhs") > 1).cast("long")).alias("n_violating"),
        F.expr(
            "(1000000 * sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END))"
            " div count(1)"
        ).alias("violation_ppm"),
        F.max("n_rhs").cast("bigint").alias("worst_fanout"),
    )


@query(
    "analytics_revenue_bridge",
    oracle="""
    WITH r AS (
      SELECT o_custkey AS cust,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 2 END AS period,
             CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2
    ),
    b AS (
      SELECT COALESCE(p1.cust, p2.cust) AS cust,
             COALESCE(p1.rev, 0) AS r1, COALESCE(p2.rev, 0) AS r2
      FROM (SELECT * FROM r WHERE period = 1) p1
      FULL OUTER JOIN (SELECT * FROM r WHERE period = 2) p2
        ON p1.cust = p2.cust
    ),
    c AS (
      SELECT cust, r1, r2,
             CASE WHEN r1 = 0 THEN 'new'
                  WHEN r2 = 0 THEN 'churned'
                  WHEN r2 > r1 THEN 'expanded'
                  WHEN r2 < r1 THEN 'contracted'
                  ELSE 'flat' END AS class
      FROM b
    )
    SELECT class,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(r2 - r1) AS BIGINT) AS delta_cents,
           CAST(sum(r1) AS BIGINT) AS rev_before_cents,
           CAST(sum(r2) AS BIGINT) AS rev_after_cents
    FROM c GROUP BY class
    """,
)
def analytics_revenue_bridge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue bridge (the SaaS MoM waterfall): classify every
    customer's period-over-period revenue movement — new / churned /
    expanded / contracted / flat — and report each class's headcount
    and exact-cents delta, so Σ delta_cents across classes reconciles
    the two period totals BY CONSTRUCTION (the property ad-hoc 'growth
    by segment' queries silently violate when customers move between
    segments).  One (customer, period) aggregate, one key-partitioned
    full-outer self-join, one 5-row class rollup — all exact BIGINT
    cents."""
    r = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
            F.lit(1),
        )
        .otherwise(F.lit(2))
        .alias("period"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("rev_c"),
    ).groupBy("cust", "period").agg(F.sum("rev_c").alias("rev"))
    p1 = r.filter(F.col("period") == 1).select(
        "cust", F.col("rev").alias("r1")
    )
    p2 = r.filter(F.col("period") == 2).select(
        "cust", F.col("rev").alias("r2")
    )
    b = (
        p1.join(p2, "cust", "full_outer")
        .select(
            F.coalesce("r1", F.lit(0)).alias("r1"),
            F.coalesce("r2", F.lit(0)).alias("r2"),
        )
    )
    c = b.withColumn(
        "class",
        F.when(F.col("r1") == 0, F.lit("new"))
        .when(F.col("r2") == 0, F.lit("churned"))
        .when(F.col("r2") > F.col("r1"), F.lit("expanded"))
        .when(F.col("r2") < F.col("r1"), F.lit("contracted"))
        .otherwise(F.lit("flat")),
    )
    return c.groupBy("class").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("r2") - F.col("r1")).alias("delta_cents"),
        F.sum("r1").alias("rev_before_cents"),
        F.sum("r2").alias("rev_after_cents"),
    )


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH e AS ({_GRAPH_EDGES_SQL}),
    dir AS (
      SELECT a AS u, b AS v FROM e
      UNION ALL
      SELECT b, a FROM e
    ),
    deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d
      FROM dir GROUP BY u
    ),
    pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM dir JOIN deg du ON du.node = dir.u
               JOIN deg dv ON dv.node = dir.v
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs
    )
    SELECT n AS n_directed_edges, sx, sxx, sxy,
           CAST(n * sxy - sx * sx AS BIGINT) AS r_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS r_den
    FROM s
    """,
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman 2002) — do hubs attach to hubs?
    Pearson correlation of endpoint degrees over the DOUBLED edge
    list, which is EXACTLY rational for an undirected graph: symmetry
    makes Sx=Sy and Sxx=Syy, so the usual sqrt denominator collapses
    and r = (n·Sxy − Sx²)/(n·Sxx − Sx²) — BIGINT numerator/denominator,
    no sqrt, no floats.  Degrees are one aggregate; the endpoint-degree
    join is two broadcast-sized dimension joins (the degree table is
    node-bounded).  Negative r = hub-to-leaf wiring (most real
    networks), positive = social-style core."""
    e = _graph_edges(spark, sf_dir)
    direct = e.select(
        F.col("u").alias("s"), F.col("v").alias("t")
    ).unionByName(
        e.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )
    deg = direct.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    pairs = (
        direct.join(
            deg.select(F.col("node").alias("s"), F.col("d").alias("x")),
            "s",
        )
        .join(
            deg.select(F.col("node").alias("t"), F.col("d").alias("y")),
            "t",
        )
        .select("x", "y")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_directed_edges"),
        "sx",
        "sxx",
        "sxy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).alias(
            "r_num"
        ),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "r_den"
        ),
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH e AS ({_GRAPH_EDGES_SQL}),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pern AS (
      SELECT id, CAST(count(*) AS BIGINT) AS t FROM (
        SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY id
    ),
    deg AS (
      SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS id FROM e UNION ALL SELECT b FROM e
      ) GROUP BY id
    )
    SELECT deg.id, deg.d AS degree,
           COALESCE(pern.t, 0) AS n_triangles,
           CAST(2 * COALESCE(pern.t, 0) AS BIGINT) AS cc_num,
           CAST(deg.d * (deg.d - 1) AS BIGINT) AS cc_den
    FROM deg LEFT JOIN pern USING (id)
    """,
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient per node — how close each node's
    neighborhood is to a clique: C(v) = 2·T(v) / (d(v)·(d(v)−1)),
    composed from the degree-ordered triangle counter and one degree
    aggregate, and reported as the exact BIGINT num/den pair
    (degree-1 nodes get den 0 — undefined by convention, left to the
    caller rather than silently zeroed).  Same two-shuffle posture as
    graph_triangles; the degree join hits a node-bounded table."""
    from ..operators.graph import triangle_count

    e = _graph_edges(spark, sf_dir)
    tri = triangle_count(e)
    deg = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            F.col("d").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            (2 * F.coalesce("n_triangles", F.lit(0)))
            .cast("bigint")
            .alias("cc_num"),
            (F.col("d") * (F.col("d") - 1)).cast("bigint").alias(
                "cc_den"
            ),
        )
    )


@query(
    "analytics_diff_in_diff",
    oracle="""
    WITH base AS (
      SELECT CAST(('0x' || substring(md5(
               CAST(o_custkey AS VARCHAR) || ':did'
             ), 1, 8)) AS BIGINT) % 2 AS treated,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 0 ELSE 1 END AS post,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    cells AS (
      SELECT treated, post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s
      FROM base GROUP BY treated, post
    ),
    wide AS (
      SELECT
        max(CASE WHEN treated=1 AND post=1 THEN s END) AS s11,
        max(CASE WHEN treated=1 AND post=1 THEN n END) AS n11,
        max(CASE WHEN treated=1 AND post=0 THEN s END) AS s10,
        max(CASE WHEN treated=1 AND post=0 THEN n END) AS n10,
        max(CASE WHEN treated=0 AND post=1 THEN s END) AS s01,
        max(CASE WHEN treated=0 AND post=1 THEN n END) AS n01,
        max(CASE WHEN treated=0 AND post=0 THEN s END) AS s00,
        max(CASE WHEN treated=0 AND post=0 THEN n END) AS n00
      FROM cells
    )
    SELECT CAST(n11 AS BIGINT) AS n_treat_post,
           CAST(n10 AS BIGINT) AS n_treat_pre,
           CAST(n01 AS BIGINT) AS n_ctrl_post,
           CAST(n00 AS BIGINT) AS n_ctrl_pre,
           CAST(s11 AS BIGINT) AS s_treat_post,
           CAST(s10 AS BIGINT) AS s_treat_pre,
           CAST(s01 AS BIGINT) AS s_ctrl_post,
           CAST(s00 AS BIGINT) AS s_ctrl_pre,
           (CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10)
           - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00)
               AS did_cents
    FROM wide
    """,
)
def analytics_diff_in_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Difference-in-differences — the workhorse causal estimate when
    randomization isn't available: (treated post−pre change) minus
    (control post−pre change) cancels both group-level baselines and
    common time shocks.  Arms come from the deterministic md5
    assignment (the ab_ttest discipline — reproducible, not rand());
    the four cell sums/counts are exact BIGINTs and the estimate is
    four correctly-rounded IEEE divisions and three subtractions in a
    fixed tree, so the double is bit-identical cross-engine.  On this
    fixture's hash-random 'treatment' the estimate must hover near
    zero — the null-calibration property a DiD implementation has to
    pass.  One scan → 4 cells → scalar combine."""
    from ..operators._util import md5_key_expr

    base = load(spark, sf_dir, "orders").select(
        (F.expr(md5_key_expr("o_custkey", salt=":did")) % 2).alias(
            "treated"
        ),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("post"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    cells = base.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )

    def cell(t, p, col):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col(col),
            )
        )

    wide = cells.agg(
        cell(1, 1, "s").alias("s11"), cell(1, 1, "n").alias("n11"),
        cell(1, 0, "s").alias("s10"), cell(1, 0, "n").alias("n10"),
        cell(0, 1, "s").alias("s01"), cell(0, 1, "n").alias("n01"),
        cell(0, 0, "s").alias("s00"), cell(0, 0, "n").alias("n00"),
    )
    d = F.col
    return wide.select(
        d("n11").alias("n_treat_post"),
        d("n10").alias("n_treat_pre"),
        d("n01").alias("n_ctrl_post"),
        d("n00").alias("n_ctrl_pre"),
        d("s11").alias("s_treat_post"),
        d("s10").alias("s_treat_pre"),
        d("s01").alias("s_ctrl_post"),
        d("s00").alias("s_ctrl_pre"),
        (
            (
                d("s11").cast("double") / d("n11")
                - d("s10").cast("double") / d("n10")
            )
            - (
                d("s01").cast("double") / d("n01")
                - d("s00").cast("double") / d("n00")
            )
        ).alias("did_cents"),
    )


@query(
    "analytics_cuped_adjustment",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS cust,
             CAST(('0x' || substring(md5(
               CAST(o_custkey AS VARCHAR) || ':cuped'
             ), 1, 8)) AS BIGINT) % 2 AS arm,
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) // 100000 AS BIGINT) AS x,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                  THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) // 100000 AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM per_cust
    ),
    a AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
             CAST(sum(x) AS BIGINT) AS sx_arm,
             CAST(sum(y) AS BIGINT) AS sy_arm
      FROM per_cust GROUP BY arm
    )
    SELECT a.arm, a.n_arm, a.sx_arm, a.sy_arm,
           CAST(g.n * g.sxy - g.sx * g.sy AS BIGINT) AS theta_num,
           CAST(g.n * g.sxx - g.sx * g.sx AS BIGINT) AS theta_den,
           (CAST(a.sy_arm AS DOUBLE) / a.n_arm)
           - (CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
              / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE))
             * (CAST(a.sx_arm AS DOUBLE) / a.n_arm
                - CAST(g.sx AS DOUBLE) / g.n) AS adj_mean_y
    FROM a, g
    """,
)
def analytics_cuped_adjustment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013) — the
    industry-standard A/B upgrade: adjust each arm's outcome mean by
    θ·(arm's pre-period covariate mean − global covariate mean) with
    θ = cov(X,Y)/var(X), which strips pre-existing user-level
    variance from the readout without biasing the treatment contrast.
    All sufficient statistics are exact BIGINTs (pre/post per-customer
    totals quantized to THOUSANDS of dollars — the θ clearing n·Σxy
    overflows int64 with finer units at sf1; the covariate only needs
    rank-scale resolution, and both engines quantize identically);
    θ ships as an exact num/den pair and the adjusted mean is a fixed
    IEEE tree over those integers, bit-identical cross-engine.  One
    (customer) aggregate, one 2-row arm rollup, one broadcast scalar
    combine."""
    from ..operators._util import md5_key_expr

    per_cust = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust"),
            (F.expr(md5_key_expr("o_custkey", salt=":cuped")) % 2)
            .alias("arm"),
            F.when(
                F.col("o_orderdate")
                < F.lit("1998-01-01").cast("timestamp"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("xc"),
            F.when(
                F.col("o_orderdate")
                >= F.lit("1998-01-01").cast("timestamp"),
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("yc"),
        )
        .groupBy("cust", "arm")
        .agg(
            F.expr("sum(xc) div 100000").alias("x"),
            F.expr("sum(yc) div 100000").alias("y"),
        )
    )
    g = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    a = per_cust.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_arm"),
        F.sum("x").alias("sx_arm"),
        F.sum("y").alias("sy_arm"),
    )
    j = a.crossJoin(F.broadcast(g))
    tnum = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    tden = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return j.select(
        "arm",
        "n_arm",
        "sx_arm",
        "sy_arm",
        tnum.alias("theta_num"),
        tden.alias("theta_den"),
        (
            F.col("sy_arm").cast("double") / F.col("n_arm")
            - (tnum.cast("double") / tden.cast("double"))
            * (
                F.col("sx_arm").cast("double") / F.col("n_arm")
                - F.col("sx").cast("double") / F.col("n")
            )
        ).alias("adj_mean_y"),
    )


@query(
    "analytics_srm_check",
    oracle="""
    WITH arms AS (
      SELECT CAST(('0x' || substring(md5(
               CAST(o_custkey AS VARCHAR) || ':cuped'
             ), 1, 8)) AS BIGINT) % 2 AS arm
      FROM orders
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS o_treat,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS o_ctrl,
             CAST(count(*) AS BIGINT) AS n
      FROM arms
    )
    SELECT n, o_treat, o_ctrl,
           CAST((o_treat - o_ctrl) * (o_treat - o_ctrl) AS BIGINT)
               AS chi2_num,
           n AS chi2_den,
           CAST(CASE WHEN
             (o_treat - o_ctrl) * (o_treat - o_ctrl) * 1000 > 3841 * n
             THEN 1 ELSE 0 END AS INTEGER) AS srm_flag
    FROM c
    """,
)
def analytics_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-health gate run
    BEFORE reading any metric: under a 50/50 split the unit counts
    must pass a χ² test, and a failure means the assignment or logging
    is broken (the most common silent A/B bug).  For df=1 and equal
    expectations the statistic collapses to (o₁−o₂)²/n — exact BIGINT
    num/den — and the α=0.05 verdict is the cross-multiplied integer
    comparison (o₁−o₂)²·1000 > 3841·n, no float χ² anywhere.  The md5
    arms here are genuinely 50/50, so the flag must be 0 — the
    calibration the gate itself needs.  One scan, one scalar row."""
    from ..operators._util import md5_key_expr

    arms = load(spark, sf_dir, "orders").select(
        (F.expr(md5_key_expr("o_custkey", salt=":cuped")) % 2).alias(
            "arm"
        )
    )
    c = arms.agg(
        F.sum((F.col("arm") == 1).cast("long")).alias("o_treat"),
        F.sum((F.col("arm") == 0).cast("long")).alias("o_ctrl"),
        F.count(F.lit(1)).alias("n"),
    )
    diff = F.col("o_treat") - F.col("o_ctrl")
    return c.select(
        "n",
        "o_treat",
        "o_ctrl",
        (diff * diff).alias("chi2_num"),
        F.col("n").alias("chi2_den"),
        (diff * diff * 1000 > 3841 * F.col("n"))
        .cast("int")
        .alias("srm_flag"),
    )


@query(
    "analytics_stratified_ate",
    oracle="""
    WITH u AS (
      SELECT o.o_custkey AS cust, c.c_mktsegment AS stratum,
             CAST(('0x' || substring(md5(
               CAST(o.o_custkey AS VARCHAR) || ':cuped'
             ), 1, 8)) AS BIGINT) % 2 AS arm,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    s AS (
      SELECT stratum, arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM u GROUP BY stratum, arm
    ),
    w AS (
      SELECT stratum,
             max(CASE WHEN arm = 1 THEN n END) AS nt,
             max(CASE WHEN arm = 1 THEN sy END) AS st,
             max(CASE WHEN arm = 0 THEN n END) AS nc,
             max(CASE WHEN arm = 0 THEN sy END) AS sc
      FROM s GROUP BY stratum
    )
    SELECT stratum,
           CAST(nt AS BIGINT) AS n_treat,
           CAST(nc AS BIGINT) AS n_ctrl,
           CAST(st * nc - sc * nt AS BIGINT) AS effect_num,
           CAST(nt * nc AS BIGINT) AS effect_den
    FROM w WHERE nt IS NOT NULL AND nc IS NOT NULL
    """,
)
def analytics_stratified_ate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Post-stratified treatment-effect estimate — the causal family's
    confounder-adjustment member (with DiD for time shocks and CUPED
    for variance): within each stratum, the arm-mean difference
    ȳ_t − ȳ_c clears to the exact rational (s_t·n_c − s_c·n_t)/(n_t·n_c)
    — BIGINT num/den per stratum, nothing divided.  Callers combine
    strata with n_s/N weights (also exact); strata missing an arm drop
    out explicitly rather than polluting the pooled estimate.  One
    fact⋈dim join, one (stratum, arm) aggregate, a stratum-bounded
    pivot."""
    from ..operators._util import md5_key_expr

    u = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            (F.expr(md5_key_expr("o_custkey", salt=":cuped")) % 2)
            .alias("arm"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("y"),
        )
        .join(
            load(spark, sf_dir, "customer").select(
                "c_custkey", F.col("c_mktsegment").alias("stratum")
            ),
            "c_custkey",
        )
    )
    s = u.groupBy("stratum", "arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")
    )

    def pick(arm, col):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))

    w = s.groupBy("stratum").agg(
        pick(1, "n").alias("nt"),
        pick(1, "sy").alias("st"),
        pick(0, "n").alias("nc"),
        pick(0, "sy").alias("sc"),
    )
    return w.filter(
        F.col("nt").isNotNull() & F.col("nc").isNotNull()
    ).select(
        "stratum",
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        (F.col("st") * F.col("nc") - F.col("sc") * F.col("nt")).alias(
            "effect_num"
        ),
        (F.col("nt") * F.col("nc")).alias("effect_den"),
    )


@query(
    "analytics_quantile_treatment_effect",
    oracle="""
    WITH u AS (
      SELECT o_custkey AS cust,
             CAST(('0x' || substring(md5(
               CAST(o_custkey AS VARCHAR) || ':cuped'
             ), 1, 8)) AS BIGINT) % 2 AS arm,
             CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT arm, y,
             row_number() OVER (PARTITION BY arm ORDER BY y, cust)
               AS rn,
             count(*) OVER (PARTITION BY arm) AS n
      FROM u
    ),
    med AS (
      SELECT arm, CAST(min(y) AS BIGINT) AS median_cents,
             CAST(min(n) AS BIGINT) AS n_units
      FROM r WHERE 2 * rn >= n + CASE WHEN n % 2 = 0 THEN 0 ELSE 1 END
      GROUP BY arm
    ),
    w AS (
      SELECT max(CASE WHEN arm = 1 THEN median_cents END) AS mt,
             max(CASE WHEN arm = 1 THEN n_units END) AS nt,
             max(CASE WHEN arm = 0 THEN median_cents END) AS mc,
             max(CASE WHEN arm = 0 THEN n_units END) AS nc
      FROM med
    )
    SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
           CAST(mt AS BIGINT) AS median_treat_cents,
           CAST(mc AS BIGINT) AS median_ctrl_cents,
           CAST(mt - mc AS BIGINT) AS qte_cents
    FROM w
    """,
)
def analytics_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Median treatment effect — the robust companion to the mean-based
    readouts: difference of the two arms' LOWER medians of
    per-customer spend, a pure order statistic (rank 2·rn ≥ n over a
    (value, id) total order), so the entire effect is exact BIGINT
    cents end-to-end — no interpolation, no floats, immune to the
    heavy-tail whales that dominate a mean lift.  One per-customer
    aggregate, one rank window per arm, a 2-row combine."""
    from ..operators._util import md5_key_expr
    from pyspark.sql.window import Window as W

    u = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust"),
            (F.expr(md5_key_expr("o_custkey", salt=":cuped")) % 2)
            .alias("arm"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("yc"),
        )
        .groupBy("cust", "arm")
        .agg(F.sum("yc").alias("y"))
    )
    r = u.select(
        "arm",
        "y",
        F.row_number()
        .over(W.partitionBy("arm").orderBy("y", "cust"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("arm")).alias("n"),
    )
    med = (
        r.filter(
            2 * F.col("rn")
            >= F.col("n")
            + F.when(F.col("n") % 2 == 0, F.lit(0)).otherwise(F.lit(1))
        )
        .groupBy("arm")
        .agg(
            F.min("y").alias("median_cents"),
            F.min("n").alias("n_units"),
        )
    )

    def pick(arm, col):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))

    w = med.agg(
        pick(1, "median_cents").alias("mt"),
        pick(1, "n_units").alias("nt"),
        pick(0, "median_cents").alias("mc"),
        pick(0, "n_units").alias("nc"),
    )
    return w.select(
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        F.col("mt").alias("median_treat_cents"),
        F.col("mc").alias("median_ctrl_cents"),
        (F.col("mt") - F.col("mc")).alias("qte_cents"),
    )


@query(
    "agg_dispersion_index",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey,
             CAST(count(o.o_orderkey) AS BIGINT) AS k
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS sk,
             CAST(sum(k * k) AS BIGINT) AS skk
      FROM per_cust GROUP BY segment
    )
    SELECT segment, n, sk AS total_orders,
           CAST(n * skk - sk * sk AS BIGINT) AS index_num,
           CAST(n * sk AS BIGINT) AS index_den,
           CAST(CASE WHEN n * skk - sk * sk > n * sk
                THEN 1 ELSE 0 END AS INTEGER) AS overdispersed
    FROM s
    """,
)
def agg_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance-to-mean ratio) of orders-per-customer
    by segment — the Poisson-adequacy check count models need: index
    ≈ 1 means Poisson arrivals, > 1 overdispersion (clumpy customers →
    use negative binomial), < 1 regularity.  Exactly rational:
    population var/mean clears to (n·Σk² − (Σk)²)/(n·Σk) — BIGINT
    num/den — and the >1 verdict is the cross-multiplied comparison,
    never a float ratio.  Zero-order customers enter via the LEFT
    join (dropping them biases the index up — the classic mistake).
    One key join, one (segment) aggregate."""
    per_cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", F.col("c_mktsegment").alias("segment"))
        .join(
            load(spark, sf_dir, "orders").select(
                F.col("o_custkey").alias("c_custkey"), "o_orderkey"
            ),
            "c_custkey",
            "left",
        )
        .groupBy("segment", "c_custkey")
        .agg(F.count("o_orderkey").alias("k"))
    )
    s = per_cust.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
    )
    num = F.col("n") * F.col("skk") - F.col("sk") * F.col("sk")
    den = F.col("n") * F.col("sk")
    return s.select(
        "segment",
        "n",
        F.col("sk").alias("total_orders"),
        num.alias("index_num"),
        den.alias("index_den"),
        (num > den).cast("int").alias("overdispersed"),
    )


@query(
    "analytics_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             CAST(sum(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                  AS BIGINT)) AS BIGINT) AS r
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT partkey, r,
             sum(r) OVER (ORDER BY r DESC, partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(r) OVER () AS tot
      FROM rev
    ),
    cls AS (
      SELECT partkey, r,
             CASE WHEN cum * 20 <= 16 * tot THEN 'A'
                  WHEN cum * 20 <= 19 * tot THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    )
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(r) AS BIGINT) AS revenue_cents,
           CAST((1000 * sum(r)) // max(t.tot) AS BIGINT)
               AS share_pm
    FROM cls, (SELECT CAST(sum(r) AS BIGINT) AS tot FROM rev) t
    GROUP BY abc
    """,
)
def analytics_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC inventory classification — the operations staple: rank parts
    by revenue and tier them at 80% / 95% CUMULATIVE share (A-parts
    get tight management, C-parts get bulk rules).  The tier test is
    the cross-multiplied integer comparison cum·20 ≤ {16,19}·total —
    small multipliers on purpose: a ppm-scale factor overflows int64
    at sf1 totals — so boundary parts classify identically in both
    engines; ties in revenue order deterministically by part key.
    Shares report in exact per-mille for the same overflow headroom.

    The cumulative share is TWO-PHASE (operators/prefix.prefix_sums):
    per-part revenues bucket by descending revenue range (-(r div 1e6)
    is monotone along the r DESC order), each bucket computes a local
    running sum, and bucket offsets come from the one-row-per-bucket
    metadata cumsum; the corpus total is a broadcast one-row
    aggregate, not a global window."""
    from ..operators.prefix import prefix_sums

    rev = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("partkey"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("rc"),
        )
        .groupBy("partkey")
        .agg(F.sum("rc").alias("r"))
    )
    ranked = prefix_sums(
        rev,
        order=[F.col("r").desc(), F.col("partkey")],
        cols={"r": "cum"},
        bucket=-F.expr("r div 1000000"),
        end="current",
    )
    tot = rev.agg(F.sum("r").alias("tot"))
    cls = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "abc",
        F.when(F.col("cum") * 20 <= 16 * F.col("tot"), "A")
        .when(F.col("cum") * 20 <= 19 * F.col("tot"), "B")
        .otherwise("C"),
    )
    return cls.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("r").alias("revenue_cents"),
        F.expr("(1000 * sum(r)) div max(tot)").alias("share_pm"),
    )


_FK_EDGES = [
    # (name, child table, child col, parent table, parent col)
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("customer->nation", "customer", "c_nationkey", "nation",
     "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation",
     "n_nationkey"),
    ("orders->customer", "orders", "o_custkey", "customer",
     "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders",
     "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
     "s_suppkey"),
]


def _fk_edge_sql(name, ct, cc, pt, pc):
    return f"""
    SELECT '{name}' AS fk,
           (SELECT CAST(count(*) AS BIGINT) FROM {ct}) AS n_child_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM {ct} c
            WHERE c.{cc} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {pt} p
                              WHERE p.{pc} = c.{cc})) AS n_orphan_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM {pt} p
            WHERE NOT EXISTS (SELECT 1 FROM {ct} c
                              WHERE c.{cc} = p.{pc}))
               AS n_unreferenced_parents"""


@query(
    "etl_fk_scorecard",
    oracle="\n    UNION ALL\n".join(
        _fk_edge_sql(*edge) for edge in _FK_EDGES
    ),
)
def etl_fk_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity SCORECARD — every declared FK edge of the
    star schema audited in one result: child row count, orphan rows
    (child keys with no parent — broken loads), and unreferenced
    parents (dead dimension members — retention candidates).  Each
    edge is one left-anti join per direction on its key — the same
    plan per edge at any scale, and the whole scorecard is what a
    nightly data-contract job publishes.  Fully LAZY: each edge is
    three one-row aggregates cross-joined and the edges union into a
    single plan — no driver-side action loop.  The single-edge
    deep-dive (etl_referential_check) stays for incident drill-down;
    this is the fleet view."""
    rows = []
    for name, ct, cc, pt, pc in _FK_EDGES:
        child = load(spark, sf_dir, ct)
        parent = load(spark, sf_dir, pt)
        n_child = child.agg(
            F.count(F.lit(1)).alias("n_child_rows")
        )
        orphans = (
            child.filter(F.col(cc).isNotNull())
            .join(parent.select(F.col(pc).alias(cc)), cc, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphan_rows"))
        )
        unref = parent.join(
            child.select(F.col(cc).alias(pc)).distinct(),
            pc,
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_unreferenced_parents"))
        rows.append(
            n_child.crossJoin(orphans)
            .crossJoin(unref)
            .select(
                F.lit(name).alias("fk"),
                "n_child_rows",
                "n_orphan_rows",
                "n_unreferenced_parents",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "etl_encoding_advisor",
    oracle="""
    WITH long_form AS (
      SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    ),
    s AS (
      SELECT col,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
             CAST(sum(length(val)) AS BIGINT) AS raw_bytes
      FROM long_form GROUP BY col
    )
    SELECT col, n_rows, n_distinct, raw_bytes,
           CAST((1000000 * n_distinct) // n_rows AS BIGINT)
               AS distinct_ppm,
           CAST(CASE WHEN n_distinct * 100 <= n_rows
                THEN 1 ELSE 0 END AS INTEGER) AS dict_encode
    FROM s
    """,
)
def etl_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisor — the storage-layout profile a lakehouse
    optimizer consults: per column, row count, exact distinct count,
    raw string bytes, distinct-ratio ppm, and a dictionary-encoding
    verdict (cardinality ≤ 1% of rows → dictionary pages win; the
    threshold is the cross-multiplied integer test n_distinct·100 ≤
    n_rows).  Low-cardinality enum columns flag, the key column
    doesn't — the evidence behind parquet encoding and Z-order
    candidate choices.  One Expand pass over the audited columns, one
    aggregate — profiling at a scan's cost."""
    o = load(spark, sf_dir, "orders")
    long_form = (
        o.select(
            F.lit("o_orderstatus").alias("col"),
            F.col("o_orderstatus").alias("val"),
        )
        .unionByName(
            o.select(
                F.lit("o_orderpriority").alias("col"),
                F.col("o_orderpriority").alias("val"),
            )
        )
        .unionByName(
            o.select(
                F.lit("o_custkey").alias("col"),
                F.col("o_custkey").cast("string").alias("val"),
            )
        )
    )
    s = long_form.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("val").alias("n_distinct"),
        F.sum(F.length("val")).alias("raw_bytes"),
    )
    return s.select(
        "col",
        "n_rows",
        "n_distinct",
        "raw_bytes",
        F.expr("(1000000 * n_distinct) div n_rows").alias(
            "distinct_ppm"
        ),
        (F.col("n_distinct") * 100 <= F.col("n_rows"))
        .cast("int")
        .alias("dict_encode"),
    )


@query(
    "ml_grouped_ols_slopes",
    oracle="""
    WITH d AS (
      SELECT l_returnflag AS flag,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) // 100
               AS y
      FROM lineitem
    ),
    s AS (
      SELECT flag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM d GROUP BY flag
    )
    SELECT flag AS l_returnflag, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(sy AS DOUBLE) / n
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE))
               * (CAST(sx AS DOUBLE) / n) AS intercept
    FROM s
    """,
)
def ml_grouped_ols_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (price-per-unit regression by return
    flag) — the grouped member of the OLS family (global sufficient
    stats, rolling window, and now GROUPED, the model-per-segment
    shape feature stores serve): slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    as an exact BIGINT num/den pair from one partial-aggregated scan;
    the intercept reports as mean_y − slope·mean_x through a fixed
    IEEE tree over those exact integers (its fully-cleared rational
    form Σy·den − Σx·num overflows int64 already at sf0.01 — measured,
    not guessed).  Price quantized to whole dollars for Σxy headroom
    at sf1.  One groupBy — map-side combine does the work.

    Headroom discipline (round-4 advice): the cleared products n·Σxy
    and Σx·Σy sit at ~95% of int64 at sf1, so the clearing is done in
    DECIMAL(38,0) — Spark's non-ANSI BIGINT multiply would WRAP
    silently while DuckDB (int128) raises, i.e. a silent wrong slope.
    The reported num/den pair stays BIGINT (the differences are n²·cov
    sized, far below the product magnitudes); only the intermediates
    widen."""
    d = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_quantity") + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.expr(
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
            " div 100"
        ).alias("y"),
    )
    s = d.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    dec = "decimal(19,0)"
    n_d = F.col("n").cast(dec)
    sx_d = F.col("sx").cast(dec)
    num = (
        n_d * F.col("sxy").cast(dec) - sx_d * F.col("sy").cast(dec)
    ).cast("long")
    den = (
        n_d * F.col("sxx").cast(dec) - sx_d * sx_d
    ).cast("long")
    return s.select(
        F.col("flag").alias("l_returnflag"),
        "n",
        num.alias("slope_num"),
        den.alias("slope_den"),
        (
            F.col("sy").cast("double") / F.col("n")
            - (num.cast("double") / den.cast("double"))
            * (F.col("sx").cast("double") / F.col("n"))
        ).alias("intercept"),
    )
