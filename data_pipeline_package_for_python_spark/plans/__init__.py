"""Physical-plan introspection (the engine's "is this the plan I'd want
at 100 TB?" layer).

The reference system has no plan of any kind — execution is an eager
Python loop (/root/reference/dpp.py:283-296), so "inspect the plan" is
not even expressible there.  In this engine every pipeline slot is a
DataFrame with a Catalyst plan underneath, and this module turns that
plan into a structured, assertable report:

- Did the filters reach the parquet scan (``PushedFilters``)?
- Did column pruning happen (``ReadSchema`` width)?
- Which join strategies did Catalyst pick — and is anything a cartesian
  product or a broadcast of a fact table?
- How many real shuffles (``Exchange``) does the plan contain?
- How much of the plan runs inside whole-stage codegen?

Tests use these to PIN scale posture: e.g. the Q5 star join asserts
"exactly one shuffle, all joins broadcast, fact scan pruned to 3
columns".  A regression that silently flips a broadcast join to a
sort-merge join or drops a pushed filter fails the suite even though
results stay correct.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from .prepared import PreparedQuery, prepare  # noqa: F401 (facade)

__all__ = [
    "PlanReport",
    "PreparedQuery",
    "broadcast_threshold_bytes",
    "formatted_plan",
    "plan_report",
    "prepare",
    "simple_plan",
]

# Physical operators that materialize a shuffle.  BroadcastExchange is
# deliberately NOT here: broadcasting a small side is the *alternative*
# to a shuffle and is counted separately.  In formatted-explain the tree
# line is "+- Exchange (16)" / ":- Exchange (3)" and the partitioning
# appears on a separate "Arguments: hashpartitioning(...)" line.
_SHUFFLE_RE = re.compile(r"[+:]- Exchange \(\d+\)")
_SHUFFLE_KEY_RE = re.compile(
    r"Arguments: (?:hash|range)partitioning\(([^)]*)\)"
)
_JOIN_RE = re.compile(
    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)\b"
)


def formatted_plan(df: DataFrame) -> str:
    """The ``explain('formatted')`` text, captured instead of printed."""
    return _explain_string(df, "formatted")


def simple_plan(df: DataFrame) -> str:
    """The ``explain()`` one-tree text, captured instead of printed."""
    return _explain_string(df, "simple")


def _explain_string(df: DataFrame, mode: str) -> str:
    jdf = df._jdf  # noqa: SLF001 — no public capture API in PySpark
    sess = df.sparkSession
    jmode = sess._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
        mode
    )
    return jdf.queryExecution().explainString(jmode)


def partitions_scanned(df: DataFrame) -> int | None:
    """Number of PARTITION DIRECTORIES the plan's first file scan will
    actually read, after static partition pruning — straight from
    ``FileSourceScanExec.selectedPartitions.partitionCount`` (a
    driver-side file-index walk, no job).  ``None`` when the plan has
    no file scan.  This is the honest pruning probe: ``inputFiles()``
    deliberately ignores filters, so it cannot distinguish a pruned
    scan from a full one."""
    plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001

    def find_scan(node):
        if "FileSourceScan" in node.getClass().getSimpleName():
            return node
        for i in range(node.children().length()):
            r = find_scan(node.children().apply(i))
            if r is not None:
                return r
        return None

    scan = find_scan(plan)
    if scan is None:
        return None
    return int(scan.selectedPartitions().partitionCount())


def broadcast_threshold_bytes(spark) -> int:
    """The session's ``autoBroadcastJoinThreshold`` in bytes (-1 = off).

    For the rare frame Catalyst cannot price (e.g. one over a
    checkpointed RDD, see ``graph._broadcast_if_fits``), a hint priced
    from a known row count keys off THIS value, so it follows the same
    session policy as Catalyst's own broadcast-by-size rule — -1
    withholds it exactly like it disables automatic broadcasts.  Joins
    over plain scans need no such hint: Catalyst compares their size
    estimate with the same conf."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if raw.endswith(suffix):
            raw, mult = raw[:-1], m
            break
    if raw.endswith("b"):
        raw = raw[:-1]
    try:
        return int(raw) * mult
    except ValueError:  # pragma: no cover — malformed conf
        return -1


@dataclass
class PlanReport:
    """Structured summary of one DataFrame's physical plan."""

    pushed_filters: list[list[str]] = field(default_factory=list)
    read_schemas: list[list[str]] = field(default_factory=list)
    joins: list[str] = field(default_factory=list)
    shuffle_keys: list[str] = field(default_factory=list)
    n_shuffles: int = 0
    n_broadcasts: int = 0
    n_codegen_spans: int = 0
    n_global_windows: int = 0
    text: str = ""

    @property
    def has_cartesian(self) -> bool:
        return any(
            j in ("CartesianProduct", "BroadcastNestedLoopJoin")
            for j in self.joins
        )

    def scan_width(self, table_hint: str) -> int | None:
        """Column count of the scan whose ReadSchema mentions
        ``table_hint`` (a column-name prefix like ``l_`` or a column)."""
        for cols in self.read_schemas:
            if any(table_hint in c for c in cols):
                return len(cols)
        return None


_WINDOWSPEC = "windowspecdefinition("


def _count_global_windows(text: str) -> int:
    """Count DISTINCT window specs with an EMPTY partition clause.

    In explain text a spec prints its partition expressions first
    (bare, no sort direction) and its order expressions after (each
    carrying ``ASC``/``DESC``), so a spec whose FIRST top-level
    argument ends with a sort direction has no partitioning — it
    executes as a single-partition WindowExec, the 100 TB anti-pattern
    this report exists to catch.  Specs are deduped on their full
    argument text: one logical window reused by many expressions (or
    reprinted across AQE sections) is one finding.
    """
    seen: set[str] = set()
    n = 0
    i = 0
    while True:
        i = text.find(_WINDOWSPEC, i)
        if i < 0:
            return n
        j = i + len(_WINDOWSPEC)
        depth, args, start = 1, [], j
        while j < len(text) and depth:
            ch = text[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    args.append(text[start:j].strip())
            elif ch == "," and depth == 1:
                args.append(text[start:j].strip())
                start = j + 1
            j += 1
        spec = text[i:j]
        i = j
        if spec in seen or not args:
            continue
        seen.add(spec)
        first = args[0]
        # order-first (no partition exprs) or frame-first (over ()):
        # either way the partition clause is empty.
        if re.search(r"\b(ASC|DESC)\b", first) or first.startswith(
            "specifiedwindowframe("
        ):
            n += 1


def plan_report(df: DataFrame, *, execute: bool = False) -> PlanReport:
    """Parse ``explain('formatted')`` into a :class:`PlanReport`.

    Parsing the explain text (rather than walking the JVM plan tree via
    py4j) keeps this pure-Python-portable across Spark minor versions —
    the formatted explain format is a compatibility surface, the
    internal plan node API is not.

    ``execute=True`` runs the query first — via ``collect()`` on THIS
    DataFrame handle, because under AQE the final plan (with its
    whole-stage-codegen annotations) only exists on a query that has
    executed, and ``count()`` would build and execute a *different*
    query.  Codegen-span counts are only meaningful with
    ``execute=True``.
    """
    if execute:
        df.collect()
    full = formatted_plan(df)
    # An executed AQE plan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — parse only the final section or every node
    # is counted twice.
    text = full.split("== Initial Plan ==")[0]
    rep = PlanReport(text=full)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        rep.pushed_filters.append(
            [f.strip() for f in body.split("),")] if body else []
        )
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        body = m.group(1).strip()
        cols = [c.split(":")[0].strip() for c in body.split(",") if c.strip()]
        rep.read_schemas.append(cols)
    rep.joins = _JOIN_RE.findall(text)
    rep.n_global_windows = _count_global_windows(text)
    rep.n_shuffles = len(_SHUFFLE_RE.findall(text))
    rep.shuffle_keys = _SHUFFLE_KEY_RE.findall(text)
    rep.n_broadcasts = text.count("BroadcastExchange")
    # simple-mode explain marks codegen'd operators as "*(n) Op"; the
    # distinct span ids count the fused pipelines.
    rep.n_codegen_spans = len(
        set(re.findall(r"\*\((\d+)\)", simple_plan(df)))
    )
    return rep
