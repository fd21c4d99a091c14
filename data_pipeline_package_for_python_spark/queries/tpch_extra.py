"""The remaining TPC-H query shapes (SURVEY §2.2.3/§2.2.4 extensions).

Rounds 1-3 covered Q1/Q3/Q4/Q5/Q6/Q13/Q14/Q17/Q18/Q22; this module closes
the sweep with the twelve shapes a reference user would still reach for:
Q2 (min-cost supplier), Q7 (bilateral nation trade), Q8 (market share),
Q9 (profit by nation x year), Q10 (returned-item top customers), Q11
(important-part value share), Q12 (lateness x priority), Q15 (top
supplier vs scalar max), Q16 (supplier variety), Q19 (disjunctive
predicate pushdown), Q20 (excess shippers), Q21 (waiting suppliers).

The driver fixtures are slim TPC-H (TESTDATA.md): no ``partsupp``, no
``l_commitdate``/``l_receiptdate``/``l_shipmode``, no ``p_container``.
Where the official query touches a missing column the shape is preserved
and the predicate re-expressed over what exists — Q2/Q11/Q16/Q20 use the
``lineitem`` (partkey, suppkey) bridge in place of partsupp; Q12/Q21
define lateness as ``l_shipdate > o_orderdate + 90 days``; each docstring
notes its deviation.  All money aggregates go through the exact
scaled-integer discipline (``ssum`` / floor-to-units) so Spark's parallel
summation order can never diverge from DuckDB's, and every ratio is a
BIGINT/BIGINT division both engines lower to the same double.

Scale posture shared by the module: true dims (region/nation/supplier —
fixed or near-fixed cardinality) carry ``BROADCAST`` hints; the
orders↔lineitem fact edge carries none, as in Q3/Q5.  Each query writes
its orders side as the filtered, projected orders scan joined directly
to lineitem, so Catalyst's ``JoinSelection`` compares that scan's size
estimate with ``autoBroadcastJoinThreshold``: small orders broadcast and
lineitem streams; at the 100 TB design point (or with the threshold at
-1) the edge is a sort-merge join on the orderkey and no fact data is
broadcast.

Build discipline (round 12, guide §4 applied at plan-build time): every
query here is ONE ``spark.sql()`` statement (Q11/Q15 are two, split at a
``localCheckpoint`` boundary that removes a second fact scan).  Classic
DataFrame chains run the analyzer eagerly per transformation — the r11
decomposition measured 12-71% of per-run cost as pure driver-side
py4j/analyzer work, and the round-12 pure-build probe put this module at
2.59 s per registry sweep.  Join ORDER in each FROM clause plus explicit
``/*+ BROADCAST */`` dim hints reproduce the old DataFrame join shapes
(Catalyst keeps written order without CBO).
"""

from __future__ import annotations

from ._registry import load, query

_UNITS = "floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5d)"
_SQL_UNITS = (
    "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)"
    " AS BIGINT)"
)
# Spark-side revenue rollup: exact BIGINT unit sum, one double division.
_REV = f"sum({_UNITS}) / cast(10000 as double)"


# ---------------------------------------------------------------------- #
# Q7 — bilateral nation trade                                            #
# ---------------------------------------------------------------------- #

@query(
    "join_q7_nation_trade",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
           SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
               + 0.5) AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
)
def join_q7_nation_trade(spark, sf_dir):
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year — supplier nation comes from the lineitem side, customer
    nation from the orders side, so the query exercises dims hanging
    off BOTH ends of the fact edge.

    Deviation from official Q7: ``l_year`` from ``l_shipdate`` (the
    fixture has no separate receipt date), nations are the fixture's
    ``NATION_1``/``NATION_2``.

    Scale: supplier⋈nation (≤ 10⁴ rows at any SF) broadcasts into the
    lineitem scan map-side, as does customer⋈nation into orders; the
    one fact-sized exchange is the orderkey edge, whose orders child is
    the plain scan Catalyst prices, and the final rollup groups
    ≤ 2·|years| rows."""
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(s), BROADCAST(n1), BROADCAST(c),
                   BROADCAST(n2) */
               n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               {_REV} AS revenue
        FROM {{li}} l
        JOIN {{s}} s  ON l.l_suppkey = s.s_suppkey
        JOIN {{n}} n1 ON s.s_nationkey = n1.n_nationkey
        JOIN {{o}} o  ON l.l_orderkey = o.o_orderkey
        JOIN {{c}} c  ON o.o_custkey = c.c_custkey
        JOIN {{n}} n2 ON c.c_nationkey = n2.n_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
          AND n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
        """,
        li=li, s=s, n=n, o=o, c=c,
    )


# ---------------------------------------------------------------------- #
# Q8 — market share                                                      #
# ---------------------------------------------------------------------- #

@query(
    "join_q8_market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CASE WHEN rs.r_name = 'ASIA'
                    THEN {u} ELSE 0 END) AS BIGINT)
             / CAST(SUM({u}) AS BIGINT) AS mkt_share,
           SUM({u}) / 10000.0 AS total_revenue
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN region rs  ON rs.r_regionkey = ns.n_regionkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    JOIN region rc  ON rc.r_regionkey = nc.n_regionkey
    WHERE rc.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    GROUP BY 1
    """.format(u=_SQL_UNITS),
)
def join_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: the market share of ASIA-region suppliers,
    within AMERICA-region customers' PROMO-part orders, by year — a
    conditional-sum / total-sum ratio over an 8-table star.

    Deviation: supplier side grouped at region (not single-nation)
    granularity so every fixture SF produces a non-degenerate share.

    Exactness: numerator and denominator are both BIGINT unit sums;
    the share is one BIGINT/BIGINT division both engines lower to the
    identical double.  Scale: part/supplier/customer enrichments are
    broadcast map-side; the single fact exchange is the orderkey edge,
    whose orders child is the plain scan Catalyst prices; output is
    |years| rows."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(p), BROADCAST(s), BROADCAST(ns),
                   BROADCAST(rs), BROADCAST(c), BROADCAST(nc),
                   BROADCAST(rc) */
               year(o.o_orderdate) AS o_year,
               sum(CASE WHEN rs.r_name = 'ASIA'
                        THEN {_UNITS} ELSE CAST(0 AS BIGINT) END)
                 / sum({_UNITS}) AS mkt_share,
               {_REV} AS total_revenue
        FROM {{li}} l
        JOIN {{p}} p  ON l.l_partkey = p.p_partkey
        JOIN {{s}} s  ON l.l_suppkey = s.s_suppkey
        JOIN {{n}} ns ON s.s_nationkey = ns.n_nationkey
        JOIN {{r}} rs ON ns.n_regionkey = rs.r_regionkey
        JOIN {{o}} o  ON l.l_orderkey = o.o_orderkey
        JOIN {{c}} c  ON o.o_custkey = c.c_custkey
        JOIN {{n}} nc ON c.c_nationkey = nc.n_nationkey
        JOIN {{r}} rc ON nc.n_regionkey = rc.r_regionkey
        WHERE rc.r_name = 'AMERICA' AND p.p_type = 'PROMO'
        GROUP BY 1
        """,
        li=li, p=p, s=s, n=n, r=r, o=o, c=c,
    )


# ---------------------------------------------------------------------- #
# Q9 — profit by nation x year                                           #
# ---------------------------------------------------------------------- #

@query(
    "join_q9_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)
                - 0.6 * p.p_retailprice * l.l_quantity) * 10000 + 0.5)
               AS BIGINT)) / 10000.0 AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def join_q9_profit(spark, sf_dir):
    """TPC-H Q9 shape: product-type profit by supplier nation and
    order year, over parts whose name contains 'red'.

    Deviation: the fixture has no partsupp, so supply cost is modeled
    as ``0.6 * p_retailprice`` — the profit expression keeps Q9's
    ``revenue - cost*quantity`` algebra and its floating subexpression
    is written with the identical association on both engines before
    the floor-to-units fold, so the unit sums agree bit-for-bit.

    Scale: part filter and supplier⋈nation broadcast; one orderkey
    edge; |nations|·|years| output rows."""
    n = load(spark, sf_dir, "nation")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(p), BROADCAST(s), BROADCAST(n) */
               n.n_name AS nation,
               year(o.o_orderdate) AS o_year,
               sum(floor((l_extendedprice * (1 - l_discount)
                   - 0.6d * p_retailprice * l_quantity)
                   * 10000 + 0.5d)) / cast(10000 as double) AS sum_profit
        FROM {li} l
        JOIN {p} p ON l.l_partkey = p.p_partkey
        JOIN {s} s ON l.l_suppkey = s.s_suppkey
        JOIN {n} n ON s.s_nationkey = n.n_nationkey
        JOIN {o} o ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2
        """,
        li=li, p=p, s=s, n=n, o=o,
    )


# ---------------------------------------------------------------------- #
# Q10 — returned-item top customers                                      #
# ---------------------------------------------------------------------- #

@query(
    "join_q10_returned_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           SUM({u}) / 10000.0 AS revenue,
           c.c_acctbal, n.n_name
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
    GROUP BY 1, 2, 4, 5
    ORDER BY SUM({u}) DESC, c.c_custkey
    LIMIT 20
    """.format(u=_SQL_UNITS),
)
def join_q10_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape: the 20 customers who returned the most revenue
    in a quarter — grouped aggregate over the fact edge with a global
    top-k on the aggregate.

    Determinism: revenue ranks on exact BIGINT units with c_custkey as
    the total-order tie-break, so the LIMIT boundary is identical on
    both engines.  Scale: the top-k compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of 20
    rows), never a global sort."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        WITH per_cust AS (
          SELECT o.o_custkey, sum({_UNITS}) AS rev_units
          FROM {{li}} l
          JOIN {{o}} o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_returnflag = 'R'
            AND o.o_orderdate >= TIMESTAMP '1996-07-01'
            AND o.o_orderdate <  TIMESTAMP '1996-10-01'
          GROUP BY 1
        )
        SELECT /*+ BROADCAST(c), BROADCAST(n) */
               c.c_custkey, c.c_name,
               pc.rev_units / cast(10000 as double) AS revenue,
               c.c_acctbal, n.n_name
        FROM per_cust pc
        JOIN {{c}} c ON pc.o_custkey = c.c_custkey
        JOIN {{n}} n ON c.c_nationkey = n.n_nationkey
        ORDER BY pc.rev_units DESC, c.c_custkey
        LIMIT 20
        """,
        li=li, o=o, c=c, n=n,
    )


# ---------------------------------------------------------------------- #
# Q11 — important-part value share                                       #
# ---------------------------------------------------------------------- #

@query(
    "agg_q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             CAST(SUM({u}) AS BIGINT) AS part_units
      FROM lineitem GROUP BY 1
    )
    SELECT l_partkey, part_units / 10000.0 AS part_value
    FROM val
    WHERE part_units > (SELECT (5 * CAST(SUM(part_units) AS BIGINT))
                               // (4 * COUNT(*))
                        FROM val)
    """.format(u=_SQL_UNITS),
)
def agg_q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: parts carrying an outsized share of total
    traded value — a grouped sum filtered against an uncorrelated
    scalar subquery of the global sum.

    Deviation: value comes from the lineitem bridge (the fixture has
    no partsupp); the official ``0.0001/SF`` fraction is replaced by a
    scale-free boundary — parts worth more than 5/4 of the mean
    per-part value (the fixture's per-part values are tight: max is
    only ~1.8x mean, so this captures roughly the top decile) —
    computed as ``(5·total) DIV (4·n_parts)`` in exact
    BIGINT units so the HAVING boundary cannot float-drift and stays
    non-degenerate at every SF.  Scale: one fact-sized partial agg;
    the scalar threshold re-aggregates the small per-part frame and
    broadcasts as a single-row frame (the legitimate
    BroadcastNestedLoopJoin pattern), never a driver collect.
    ``per_part`` is lazily local-checkpointed so the threshold branch
    reads the materialized |parts|-sized frame instead of replanning
    (and re-scanning) the fact subtree — Catalyst does not dedup
    identical subtrees across branches on its own."""
    li = load(spark, sf_dir, "lineitem")
    per_part = spark.sql(
        f"""
        SELECT l_partkey, sum({_UNITS}) AS part_units
        FROM {{li}}
        GROUP BY 1
        """,
        li=li,
    ).localCheckpoint(eager=False)
    return spark.sql(
        """
        SELECT /*+ BROADCAST(t) */
               pp.l_partkey,
               pp.part_units / cast(10000 as double) AS part_value
        FROM {pp} pp
        CROSS JOIN (
          SELECT (5 * sum(part_units)) div (4 * count(*))
                   AS threshold_units
          FROM {pp}
        ) t
        WHERE pp.part_units > t.threshold_units
        """,
        pp=per_part,
    )


# ---------------------------------------------------------------------- #
# Q12 — lateness x priority                                              #
# ---------------------------------------------------------------------- #

@query(
    "join_q12_late_priority",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY 1
    """,
)
def join_q12_late_priority(spark, sf_dir):
    """TPC-H Q12 shape: late-shipment census split by order priority —
    a fact-edge join with a cross-table inequality predicate and
    conditional counts.

    Deviation: the fixture has no l_shipmode/l_commitdate/
    l_receiptdate, so the grouping key is l_returnflag and 'late'
    means shipped more than 90 days after the order date.  Scale: the
    inequality predicate evaluates inside the join's output (no
    pair-blowup — it's still an equi-join on orderkey); conditional
    sums fold map-side."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l.l_returnflag,
               cast(sum(CASE WHEN o.o_orderpriority
                                  IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS high_line_count,
               cast(sum(CASE WHEN o.o_orderpriority
                                  IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                 AS low_line_count
        FROM {li} l
        JOIN {o} o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAYS
        GROUP BY 1
        """,
        li=li, o=o,
    )


# ---------------------------------------------------------------------- #
# Q15 — top supplier vs scalar max                                       #
# ---------------------------------------------------------------------- #

@query(
    "join_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM({u}) AS BIGINT) AS rev_units
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           r.rev_units / 10000.0 AS total_revenue
    FROM rev r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_units = (SELECT MAX(rev_units) FROM rev)
    """.format(u=_SQL_UNITS),
)
def join_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue
    — a derived revenue view equi-joined against its own scalar max
    (the official query's CREATE VIEW + MAX subquery, expressed as
    plan reuse).

    Determinism: revenue is exact BIGINT units, so the max-equality
    keeps all true ties on both engines.  Scale: the per-supplier agg
    is one fact-sized partial+final agg, lazily local-checkpointed so
    the scalar-max branch re-aggregates the |suppliers|-sized frame
    instead of replanning (and re-scanning) the fact subtree — one
    fact scan total; the max broadcasts as a single-row frame joined
    back."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    rev = spark.sql(
        f"""
        SELECT l_suppkey, sum({_UNITS}) AS rev_units
        FROM {{li}}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY 1
        """,
        li=li,
    ).localCheckpoint(eager=False)
    return spark.sql(
        """
        SELECT /*+ BROADCAST(m), BROADCAST(s) */
               s.s_suppkey, s.s_name,
               r.rev_units / cast(10000 as double) AS total_revenue
        FROM {rev} r
        CROSS JOIN (SELECT max(rev_units) AS max_units FROM {rev}) m
        JOIN {s} s ON r.l_suppkey = s.s_suppkey
        WHERE r.rev_units = m.max_units
        """,
        rev=rev, s=s,
    )


# ---------------------------------------------------------------------- #
# Q16 — supplier variety per part class                                  #
# ---------------------------------------------------------------------- #

@query(
    "agg_q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
      AND ps.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def agg_q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: how many distinct suppliers can furnish each
    (brand, type, size) part class, excluding a blacklisted supplier
    set — distinct-pair bridge, dim filter, NOT-IN anti-join, grouped
    COUNT(DISTINCT).

    Deviation: the part↔supplier bridge is the observed lineitem
    pairs (no partsupp); the blacklist is negative-balance suppliers
    (no s_comment in the fixture).  Scale: the distinct-pair reduction
    happens BEFORE the part join (fact → |parts|·|supps-per-part|
    rows); the blacklist anti-join broadcasts; count distinct runs on
    the already-deduplicated pairs."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(p), BROADCAST(bad) */
               p.p_brand, p.p_type, p.p_size,
               count(DISTINCT pr.l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM {li}) pr
        JOIN {p} p ON pr.l_partkey = p.p_partkey
        LEFT ANTI JOIN (
          SELECT s_suppkey FROM {s} WHERE s_acctbal < 0
        ) bad ON pr.l_suppkey = bad.s_suppkey
        WHERE p.p_brand <> 'Brand#45'
          AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
        GROUP BY 1, 2, 3
        """,
        li=li, p=p, s=s,
    )


# ---------------------------------------------------------------------- #
# Q19 — disjunctive predicate revenue                                    #
# ---------------------------------------------------------------------- #

@query(
    "filter_q19_disjunctive",
    oracle="""
    SELECT SUM({u}) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """.format(u=_SQL_UNITS),
)
def filter_q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR of three conjunct groups
    mixing part attributes and lineitem quantities — the classic test
    that a planner converts a disjunctive join predicate into an
    equi-join (on partkey) plus a residual filter instead of a nested
    loop.

    Deviation: no p_container/l_shipmode in the fixture; the brand ×
    size × quantity disjuncts carry the shape.  Scale: Catalyst plans
    partkey equi-join (part side broadcasts after its implied
    brand-OR filter) with the disjunction as a post-join filter; the
    residual quantity bounds are lineitem-local and push to the
    scan."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(p) */
               {_REV} AS revenue,
               count(1) AS n_lines
        FROM {{li}} l
        JOIN {{p}} p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
        """,
        li=li, p=p,
    )


# ---------------------------------------------------------------------- #
# Q20 — excess shippers                                                  #
# ---------------------------------------------------------------------- #

@query(
    "join_q20_excess_shippers",
    oracle="""
    WITH ps AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT))
                  AS BIGINT) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%red%'
      GROUP BY 1, 2
    ), tot AS (
      SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS part_qty,
             CAST(COUNT(*) AS BIGINT) AS n_supp
      FROM ps GROUP BY 1
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM ps
    JOIN tot USING (l_partkey)
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.qty * tot.n_supp > 2 * tot.part_qty
    """,
)
def join_q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who dominate the supply of 'red'
    parts — per-(part, supplier) quantity compared against a
    correlated per-part total, then projected to the distinct
    supplier set.

    Deviation: quantities come from shipped lineitems (no partsupp
    availqty); 'dominates' = more than TWICE the part's mean
    per-supplier shipped quantity (``qty·n_supp > 2·part_qty``) — a
    scale-free boundary that stays non-degenerate as supplier counts
    grow with SF, in exact BIGINT (quantities are integral; the
    floor(q+0.5) fold makes the cast identical on both engines).

    Scale: the fact collapses to |parts|·|suppliers-per-part| rows in
    the first partial agg; the per-part total and supplier count come
    from ONE partkey-partitioned window over that small frame — no
    self-join, no second fact scan (the windowed-total discipline of
    window_share_of_total, relational.py)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return spark.sql(
        """
        WITH ps AS (
          SELECT /*+ BROADCAST(p) */
                 l.l_partkey, l.l_suppkey,
                 sum(floor(l_quantity + 0.5d)) AS qty
          FROM {li} l
          JOIN (SELECT p_partkey FROM {part}
                WHERE p_name LIKE '%red%') p
            ON l.l_partkey = p.p_partkey
          GROUP BY 1, 2
        ), w AS (
          SELECT l_suppkey, qty,
                 sum(qty) OVER (PARTITION BY l_partkey) AS part_qty,
                 count(1) OVER (PARTITION BY l_partkey) AS n_supp
          FROM ps
        )
        SELECT /*+ BROADCAST(s) */ s.s_suppkey, s.s_name
        FROM (SELECT DISTINCT l_suppkey FROM w
              WHERE qty * n_supp > 2 * part_qty) d
        JOIN {s} s ON d.l_suppkey = s.s_suppkey
        """,
        li=li, part=part, s=s,
    )


# ---------------------------------------------------------------------- #
# Q21 — waiting suppliers                                                #
# ---------------------------------------------------------------------- #

@query(
    "join_q21_waiting_suppliers",
    oracle="""
    WITH j AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
               AS n_late_supp
      FROM j GROUP BY 1
    ), late_pairs AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM j WHERE is_late = 1
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late_pairs lp
    JOIN per_order po ON po.l_orderkey = lp.l_orderkey
    JOIN supplier s   ON s.s_suppkey = lp.l_suppkey
    WHERE po.n_supp > 1 AND po.n_late_supp = 1
    GROUP BY 1, 2
    """,
)
def join_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier orders — the official query's EXISTS (another
    supplier in the order) AND NOT EXISTS (another LATE supplier)
    pair, decorrelated into one per-order aggregate the same way
    join_exists_q4 decorrelates its EXISTS (relational.py).

    Deviation: 'late' = shipped >90 days after the order date (the
    fixture has no commit/receipt dates); no status filter or LIMIT —
    every qualifying supplier surfaces, keeping the result
    order-insensitive.

    Scale: one orderkey edge; per-order supplier counts and the
    distinct late-pair set reuse the same orderkey partitioning, so
    the verdict join is co-partitioned; output is ≤ |suppliers|."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    return spark.sql(
        """
        WITH j AS (
          SELECT l.l_orderkey, l.l_suppkey,
                 CAST((l.l_shipdate
                       > o.o_orderdate + INTERVAL 90 DAYS) AS INT)
                   AS is_late
          FROM {li} l
          JOIN {o} o ON l.l_orderkey = o.o_orderkey
        ), per_order AS (
          SELECT l_orderkey
          FROM j
          GROUP BY 1
          HAVING count(DISTINCT l_suppkey) > 1
             AND count(DISTINCT CASE WHEN is_late = 1
                                     THEN l_suppkey END) = 1
        ), late_pairs AS (
          SELECT DISTINCT l_orderkey, l_suppkey FROM j WHERE is_late = 1
        )
        SELECT /*+ BROADCAST(s) */
               s.s_suppkey, s.s_name, cnt.numwait
        FROM (SELECT lp.l_suppkey, count(1) AS numwait
              FROM late_pairs lp
              JOIN per_order po ON lp.l_orderkey = po.l_orderkey
              GROUP BY 1) cnt
        JOIN {s} s ON cnt.l_suppkey = s.s_suppkey
        """,
        li=li, o=o, s=s,
    )


# ---------------------------------------------------------------------- #
# Q2 — min-cost supplier                                                 #
# ---------------------------------------------------------------------- #

@query(
    "join_q2_min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(l.l_extendedprice) AS offer_price
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'EUROPE'
        AND p.p_type = 'STANDARD' AND p.p_size <= 25
      GROUP BY 1, 2
    ), best AS (
      SELECT l_partkey, MIN(offer_price) AS min_price
      FROM offers GROUP BY 1
    )
    SELECT s.s_acctbal, s.s_name, n.n_name,
           o.l_partkey AS p_partkey, p.p_name, o.offer_price
    FROM offers o
    JOIN best b ON b.l_partkey = o.l_partkey
               AND o.offer_price = b.min_price
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN part p     ON p.p_partkey = o.l_partkey
    """,
)
def join_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each qualifying part, the EUROPE-region
    supplier(s) offering it at the minimum price — a correlated
    min-per-group subquery joined back to recover the argmin rows,
    with all ties retained.

    Deviation: the offer book is MIN(l_extendedprice) per observed
    (part, supplier) lineitem pair (no partsupp/ps_supplycost).  The
    min is over stored doubles with no arithmetic, so the equality
    join-back is exact on both engines.

    Scale: region/nation/part dims broadcast into the fact scan; the
    offers agg is the one fact-sized exchange; best-per-part
    re-aggregates the small offers frame and joins back
    co-partitioned on partkey."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    sup = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        WITH s_eu AS (
          SELECT /*+ BROADCAST(n), BROADCAST(r) */
                 s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
          FROM {sup} s
          JOIN {nat} n ON s.s_nationkey = n.n_nationkey
          JOIN {reg} r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'EUROPE'
        ), pq AS (
          SELECT p_partkey, p_name FROM {part}
          WHERE p_type = 'STANDARD' AND p_size <= 25
        ), offers AS (
          SELECT /*+ BROADCAST(se), BROADCAST(p) */
                 l.l_partkey, l.l_suppkey,
                 min(l.l_extendedprice) AS offer_price
          FROM {li} l
          JOIN (SELECT s_suppkey FROM s_eu) se
            ON l.l_suppkey = se.s_suppkey
          JOIN pq p ON l.l_partkey = p.p_partkey
          GROUP BY 1, 2
        ), best AS (
          SELECT l_partkey AS b_partkey, min(offer_price) AS min_price
          FROM offers GROUP BY 1
        )
        SELECT /*+ BROADCAST(s), BROADCAST(p) */
               s.s_acctbal, s.s_name, s.n_name,
               o.l_partkey AS p_partkey, p.p_name, o.offer_price
        FROM offers o
        JOIN best b ON o.l_partkey = b.b_partkey
                   AND o.offer_price = b.min_price
        JOIN s_eu s ON o.l_suppkey = s.s_suppkey
        JOIN pq p   ON o.l_partkey = p.p_partkey
        """,
        sup=sup, nat=n, reg=r, part=part, li=li,
    )
