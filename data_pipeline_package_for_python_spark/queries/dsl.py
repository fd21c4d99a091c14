"""SURVEY §2.1 — the reference DSL surface, driver-checkable.

The DSL layer (``Pipeline`` + ``>>`` expressions, re-expressing
/root/reference/dpp.py:168-622's combinators over Spark DataFrames) is
covered structurally by ``tests/test_dsl.py`` and end-to-end by
``tests/test_golden_pipelines.py``; the queries here additionally route
it through the DRIVER's differential gate: each builds its result
exclusively through ``common``/``branch``/``all``/``sequence`` and is
hash-checked against a DuckDB oracle, proving the orchestration layer
composes with the engine without perturbing results (slots hold lazy
plans, so the combinators must add zero computation of their own).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core import PREV, Pipeline, V
from . import llm  # noqa: F401  (registers search_hybrid_rrf)
from ._registry import QUERIES, dsum, load, query


@query(
    "dsl_sequence_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0
               AS sum_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def dsl_sequence_q1(spark, sf_dir):
    """Q1-shape built through ``sequence`` + ``PREV`` threading
    (dpp.py:466-505's ordered composition): the filter step rebinds a
    slot to a new lazy plan, the aggregation step reads it via PREV,
    and Catalyst still fuses everything into the same
    scan→filter→partial-agg→shuffle plan the direct DataFrame build
    produces — the combinators are pure plan plumbing."""
    li = load(spark, sf_dir, "lineitem")
    with Pipeline(lineitem=li) as p:
        p.sequence(
            p.lineitem
            >> (lambda df: df.filter(F.col("l_shipdate") <= "1998-09-02"))
            >> p.filtered,
            PREV
            >> (
                lambda df: df.groupBy("l_returnflag", "l_linestatus").agg(
                    F.count(F.lit(1)).alias("n"),
                    dsum("l_quantity").alias("sum_qty"),
                )
            )
            >> p.q1,
        )
    return p.q1


@query(
    "dsl_branch_fanin_join",
    oracle="""
    WITH counts AS (
      SELECT o_orderstatus, count(*) AS n
      FROM orders GROUP BY 1
    ), revenue AS (
      SELECT o_orderstatus,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                 AS revenue
      FROM orders GROUP BY 1
    )
    SELECT c.o_orderstatus, c.n, r.revenue
    FROM counts c JOIN revenue r USING (o_orderstatus)
    """,
)
def dsl_branch_fanin_join(spark, sf_dir):
    """Fan-out/fan-in through ``branch`` + ``all`` (dpp.py:414-464,
    378-412): two branches aggregate the SAME orders slot independently
    (each reads the pre-branch context snapshot — true fan-out, the
    reference's leaky-context bug is deliberately not replicated), then
    the ``all`` step joins the two branch outputs.  The shared input is
    auto-persisted by the branch combinator (``cache_shared``) so the
    orders scan is not recomputed per branch when an action runs."""
    o = load(spark, sf_dir, "orders")
    with Pipeline(orders=o) as p:
        p.branch(
            (
                p.orders
                >> (
                    lambda df: df.groupBy("o_orderstatus").agg(
                        F.count(F.lit(1)).alias("n")
                    )
                )
                >> p.counts
            ),
            (
                p.orders
                >> (
                    lambda df: df.groupBy("o_orderstatus").agg(
                        dsum("o_totalprice").alias("revenue")
                    )
                )
                >> p.revenue
            ),
        )
        p.all(
            V(p.counts, p.revenue)
            >> (lambda a, b: a.join(b, "o_orderstatus"))
            >> p.merged
        )
    return p.merged


@query(
    "dsl_common_elementwise",
    oracle="""
    SELECT n_nationkey, upper(n_name) AS n_name_uc,
           n_regionkey * 10 AS region_x10
    FROM nation
    """,
)
def dsl_common_elementwise(spark, sf_dir):
    """``common`` (dpp.py:337-376): the elementwise map combinator
    applied to a DataFrame slot — one projection step expressed through
    the DSL's tuple syntax, compiled to a map-only codegen plan."""
    n = load(spark, sf_dir, "nation")
    with Pipeline(nation=n) as p:
        p.common(
            p.nation
            >> (
                lambda df: df.select(
                    "n_nationkey",
                    F.upper("n_name").alias("n_name_uc"),
                    (F.col("n_regionkey") * 10).alias("region_x10"),
                )
            )
            >> p.projected
        )
    return p.projected


@query(
    "dsl_curation_graph_bridge",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    ),
    b AS (
      SELECT doc_id, lang, ws,
             list_filter(generate_series(1, len(ws)),
               i -> (CAST(('0x' || substring(md5(ws[i]), 1, 8)) AS BIGINT)
                     % 4) = 0) AS bpos
      FROM w
    ),
    s AS (
      SELECT doc_id, lang, ws,
             list_prepend(0, bpos) AS starts,
             list_append(bpos, len(ws)) AS ends
      FROM b
    ),
    ch AS (
      SELECT doc_id, lang,
             md5(array_to_string(ws[starts[j]+1:ends[j]], ' '))
                 AS chunk_hash
      FROM s, unnest(generate_series(1, len(starts))) AS t(j)
      WHERE array_to_string(ws[starts[j]+1:ends[j]], ' ') != ''
    ),
    cnt AS (
      SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_occ
      FROM ch GROUP BY 1
    ),
    per_doc AS (
      SELECT ch.doc_id, ch.lang,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN cnt.n_occ > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup
      FROM ch JOIN cnt USING (chunk_hash)
      GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS chunks,
           CAST(SUM(n_dup) AS BIGINT) AS dup_chunks,
           CAST((1000000 * SUM(n_dup)) // SUM(n_chunks) AS BIGINT)
               AS dup_ratio_ppm
    FROM per_doc GROUP BY 1
    """,
)
def dsl_curation_graph_bridge(spark, sf_dir):
    """Round-4 operators routed through the reference DSL: a
    ``sequence`` whose first step runs the CDC chunk-duplication
    report (operators/dedup.cdc_chunk_dup_report) and whose second
    step, reading the slot via ``PREV``, joins language labels back
    and rolls the report up per language — proving the §2.1
    combinators compose with the newest §2.2.10 operators exactly as
    with the launch set (slots are lazy plans; the combinators add
    zero computation)."""
    from ..operators.dedup import cdc_chunk_dup_report

    docs = load(spark, sf_dir, "documents")
    with Pipeline(docs=docs) as p:
        p.sequence(
            p.docs
            >> (
                lambda df: cdc_chunk_dup_report(
                    df, "doc_id", "text", modulus=4
                )
            )
            >> p.report,
            PREV
            >> (
                lambda rep: rep.join(
                    docs.select(F.col("doc_id").alias("id"), "lang"), "id"
                )
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                    F.sum("n_chunks").cast("bigint").alias("chunks"),
                    F.sum("n_dup_chunks").cast("bigint")
                    .alias("dup_chunks"),
                    F.expr(
                        "(1000000 * sum(n_dup_chunks)) div sum(n_chunks)"
                    ).cast("bigint").alias("dup_ratio_ppm"),
                )
            )
            >> p.by_lang,
        )
    return p.by_lang


@query(
    "dsl_retrieval_bridge",
    oracle=QUERIES["search_hybrid_rrf"].oracle,
)
def dsl_retrieval_bridge(spark, sf_dir):
    """The round-4 hybrid-retrieval pipeline routed THROUGH the DSL
    combinators: ``branch`` fans the corpus out to the two rankers
    (lexical BM25 over documents, cosine ANN over embeddings — each
    branch a single ``>>`` step over its slot), and ``all`` fans the
    two rank lists back in through rrf_fuse.  The oracle is literally
    search_hybrid_rrf's — byte-identical results prove the
    orchestration layer adds zero computation around the round-4
    operators, exactly the §2.1↔§2.2 composition contract."""
    from ..operators import similarity as S
    from ..operators import text as T

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    with Pipeline(docs=docs, emb=emb) as p:
        p.branch(
            (
                p.docs
                >> (
                    lambda df: T.bm25_related_topk(
                        df, "doc_id", "text",
                        query_pred=F.col("doc_id") % 37 == 0,
                        k=10, max_df_ratio_ppm=800_000,
                    ).select("query_id", "doc_id", "rank")
                )
                >> p.lexical
            ),
            (
                p.emb
                >> (
                    lambda df: S.cosine_topk(
                        df, df.filter(F.col("vec_id") % 37 == 0), k=10
                    ).select(
                        "query_id",
                        F.col("neighbor_id").alias("doc_id"),
                        "rank",
                    )
                )
                >> p.semantic
            ),
        )
        p.all(
            V(p.lexical, p.semantic)
            >> (lambda a, b: S.rrf_fuse([a, b], k=5))
            >> p.fused
        )
    return p.fused
