"""Workload definitions and seeded input preparation.

A workload is an ordered list of registry queries (``QUERIES[name]``).
One pass runs every step once, in order, from a single driver thread.

Inputs are the committed fixture tables under ``perfbench/data``.  The
seed permutes the row order of every table and writes the permuted copy
into the run's own data directory; the Spark steps and the DuckDB
oracles both read that copy.  Results are compared order-insensitively,
so the seed changes the physical layout (partition contents, shuffle
inputs, task times) and never the expected answer.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
BENCH_SF = "sf0.01"
SMOKE_SF = "sf0.001"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Front end (build + planning) and broadcast-vs-shuffle choices: the
    # hand broadcast gate (q3, q5) and the b5 window pair.  No
    # fixpoint loops, no Python UDFs, no writes.
    "relational": (
        "join_q3_topk",
        "join_star_q5",
        "window_running_sum",
        "window_topk_per_group",
    ),
    # Small data, many rounds: most jobs are launched inside the builders
    # (localCheckpoint rounds and convergence actions).
    "iterative": (
        "graph_kcore",
        "embed_kmeans_clusters",
    ),
    # Execution-bound LLM-data operators, a Pipeline-DSL step and the
    # partitioned-sink write path and an upsert (``operators.etl``).
    "curation": (
        "text_quality",
        "dedup_near_minhash",
        "dsl_branch_fanin_join",
        "sink_partitioned_parquet",
        "etl_upsert_customers",
    ),
}


def fixture_dir(smoke: bool) -> str:
    return os.path.join(DATA, SMOKE_SF if smoke else BENCH_SF)


def permute_tables(src: str, dst: str, seed: int) -> None:
    """Write every table of ``src`` into ``dst`` with its rows permuted
    by ``seed``.  Same seed, same files; pyarrow is the fixtures' own
    writer, so only the row order differs from the source."""
    os.makedirs(dst, exist_ok=True)
    for i, table in enumerate(TABLES):
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(t.num_rows)
        pq.write_table(t.take(perm), os.path.join(dst, f"{table}.parquet"))
