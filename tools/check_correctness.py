#!/usr/bin/env python
"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares:
  - row count
  - schema (sorted column names)
  - order-insensitive value hash (columns sorted by name, cells
    canonicalized, rows sorted, sha256)

The comparison deliberately goes through **pandas** on both sides
(``DataFrame.toPandas()`` / duckdb ``.df()``) because that is what the
grading driver does.  Round-1 evidence pinned two consequences a
Python-native comparison hides:

  * DuckDB ``SUM(<integer>)`` returns HUGEINT, which pandas coerces to
    float64 — against Spark's bigint the cell renders ``1.0`` vs ``1``
    and the value hash diverges even though the numbers are equal.
    (Oracles must CAST such sums to BIGINT.)
  * Raw ARRAY result columns crash the driver's ``sort_values``-based
    canonicalizer (``TypeError: unhashable type: 'list'``).  We attempt
    the same sort and report the crash as a failure.

Date semantics: DuckDB DATE arrives as pandas Timestamp (midnight),
Spark DateType as ``datetime.date`` objects — the driver's round-1
results show date-emitting queries passing, so tz-naive midnight
timestamps canonicalize identically to bare dates here too.

Usage:
    python tools/check_correctness.py [query ...]
    SPARK_GRAFT_CHECK_SF=/root/testdata/sf0.01 python tools/check_correctness.py
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.001")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_MIDNIGHT = datetime.time(0, 0)


def canon_cell(v) -> str:
    if v is None or v is pd.NaT:
        return "\0NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "f:nan" if math.isnan(f) else f"f:{f!r}"
    if isinstance(v, decimal.Decimal):
        # Driver fidelity (r8 red row `sql_pipe_syntax`): the grading
        # driver does NOT coerce Decimal->float before hashing, so a
        # Spark DecimalType result column vs a DuckDB DOUBLE oracle
        # hash-diverges even when numerically identical
        # (Decimal('146776986.3201000') vs 146776986.3201).  The old
        # `f:{float(v)!r}` coercion here hid exactly that divergence.
        # Tag decimals distinctly so the local gate fails where the
        # driver fails; queries must CAST final decimal outputs to
        # DOUBLE (or BIGINT) to match their oracles.
        return f"D:{v}"
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and v.time() == _MIDNIGHT:
            return "d:" + v.date().isoformat()
        return "t:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}={canon_cell(v[k])}" for k in sorted(v)
        ) + "}"
    return "s:" + str(v)


class CanonCrash(Exception):
    """The driver-mirrored pandas sort would crash on this frame."""


def _col_has_decimal(series: pd.Series) -> bool:
    # ANY Decimal cell marks the column: leading NaN/None/NaT null
    # placeholders (and mixed-type columns) must not mask it, or the
    # targeted decimal-vs-float diagnostic degrades back to the opaque
    # hash mismatch it replaces.
    if series.dtype != object:
        return False
    return any(isinstance(v, decimal.Decimal) for v in series)


def decimal_float_mismatches(
    spdf: pd.DataFrame, dpdf: pd.DataFrame
) -> list[str]:
    """Columns where one side carries decimal.Decimal cells and the
    other carries floats — guaranteed driver hash divergence even when
    the numbers are equal.  Surfaced as a targeted failure (with the
    fix spelled out) instead of an opaque hash mismatch."""
    bad = []
    for col in sorted(set(spdf.columns) & set(dpdf.columns)):
        s_dec = _col_has_decimal(spdf[col])
        d_dec = _col_has_decimal(dpdf[col])
        if s_dec != d_dec:
            side = "spark" if s_dec else "oracle"
            bad.append(
                f"{col}: {side} side is Decimal, other is not — "
                f"CAST the {side} result to DOUBLE/BIGINT"
            )
    return bad


def canonicalize(pdf: pd.DataFrame) -> tuple[int, list[str], str, list[str]]:
    sorted_cols = sorted(pdf.columns)
    pdf = pdf[sorted_cols]
    # Mirror the driver: it sorts the pandas frame by every column before
    # hashing.  Object columns holding lists/ndarrays make that raise —
    # which shows up as a driver "err" — so surface it the same way.
    try:
        pdf.sort_values(by=sorted_cols)
    except (TypeError, ValueError) as e:
        raise CanonCrash(f"driver pandas sort would crash: {e}") from e
    canon_rows = sorted(
        "|".join(canon_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    digest = hashlib.sha256("\n".join(canon_rows).encode()).hexdigest()
    return len(canon_rows), sorted_cols, digest, canon_rows


def main() -> int:
    only = set(sys.argv[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    from data_pipeline_package_for_python_spark.session import get_spark

    # no console progress bar: it would land on the verdict lines
    spark = get_spark(
        app_name="check-correctness",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    def fresh_con():
        """One DuckDB connection PER QUERY.  A single connection reused
        across a full sf0.1 sweep accumulates buffer-pool state until
        tiny allocations start failing ('Failed to allocate block of
        2048 bytes') ~100 queries in — observed round 6; views over
        parquet are free to re-register."""
        c = duckdb.connect()
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
        return c

    def oracle_df_subproc(oracle: str):
        """Run one oracle in a FORKED child so its DuckDB buffer state
        dies with the process.  Round 7 re-observed the round-6 failure
        mode one level deeper: even with per-query connections, a heavy
        sf0.1 text oracle (hybrid-RRF 93 s, BM25 78 s) leaves the
        PROCESS's allocator high-water so large that later tiny DuckDB
        allocations fail ('Failed to allocate block of 2048 bytes') —
        every such query is green in a fresh process.  Opt in with
        SPARK_GRAFT_CHECK_ORACLE_SUBPROC=1 for one-shot full sweeps;
        default stays in-process (driver fidelity)."""
        import multiprocessing as mp

        ctx = mp.get_context("fork")
        rx, tx = ctx.Pipe(duplex=False)

        def worker(tx, oracle):
            try:
                c = fresh_con()
                try:
                    df = c.execute(oracle).df()
                finally:
                    c.close()
                tx.send(("ok", df))
            except Exception as e:  # noqa: BLE001
                tx.send(("err", f"{type(e).__name__}: {e}"))

        # Generous per-oracle ceiling (r7 advice): the subproc mode
        # exists precisely because heavy oracles misbehave, so a hung
        # child must surface as a named timeout failure, not block a
        # one-shot full sweep forever.
        timeout = float(
            os.environ.get("SPARK_GRAFT_CHECK_ORACLE_TIMEOUT", "900")
        )
        p = ctx.Process(target=worker, args=(tx, oracle))
        p.start()
        tx.close()
        try:
            if rx.poll(timeout):
                status, payload = rx.recv()
            else:
                p.terminate()
                status, payload = (
                    "err",
                    f"oracle subprocess timed out after {timeout:.0f}s",
                )
        except EOFError:
            status, payload = "err", "oracle subprocess died"
        finally:
            p.join(timeout=30)
            if p.is_alive():  # terminate() ignored — last resort
                p.kill()
                p.join()
        if status != "ok":
            raise RuntimeError(payload)
        return payload

    use_subproc = os.environ.get(
        "SPARK_GRAFT_CHECK_ORACLE_SUBPROC", ""
    ) == "1"

    import gc

    failures, checked, weak = [], 0, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        oracle = oracles.get(name)
        if oracle is None:
            weak += 1
            print(f"weak  {name}: rows-only ({len(spdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            if use_subproc:
                dpdf = oracle_df_subproc(oracle)
            else:
                con = fresh_con()
                try:
                    dpdf = con.execute(oracle).df()
                finally:
                    con.close()
                    gc.collect()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        try:
            sn, sc, sh, srows = canonicalize(spdf)
            dn, dc, dh, drows = canonicalize(dpdf)
        except CanonCrash as e:
            failures.append((name, str(e)))
            print(f"FAIL  {name}: {e}")
            continue
        checked += 1
        dec_bad = decimal_float_mismatches(spdf, dpdf)
        if dec_bad:
            failures.append((name, f"decimal-vs-float: {'; '.join(dec_bad)}"))
            print(f"FAIL  {name}: decimal-vs-float dtype divergence")
            for b in dec_bad:
                print(f"    {b}")
        elif sc != dc:
            failures.append((name, f"schema: spark={sc} duckdb={dc}"))
            print(f"FAIL  {name}: schema mismatch\n  spark:  {sc}\n  duckdb: {dc}")
        elif sn != dn:
            failures.append((name, f"rowcount: spark={sn} duckdb={dn}"))
            print(f"FAIL  {name}: rowcount spark={sn} duckdb={dn}")
        elif sh != dh:
            failures.append((name, "value hash mismatch"))
            print(f"FAIL  {name}: value hash mismatch ({sn} rows)")
            sset, dset = set(srows), set(drows)
            for s in list(sset - dset)[:3]:
                print(f"    spark-only:  {s}")
            for s in list(dset - sset)[:3]:
                print(f"    duckdb-only: {s}")
        else:
            print(f"ok    {name} ({sn} rows, {time.time()-t0:.1f}s)")

    print(f"\n{checked} hash-checked, {weak} rows-only, "
          f"{len(failures)} failures @ {SF_DIR}")
    for name, why in failures:
        print(f"  FAIL {name}: {why[:200]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
