"""Unit tests for the pipeline DSL — one test per SURVEY §2.1 row,
including the error surface and the verified reference quirks (which this
engine deliberately fixes; see core/pipeline.py docstring)."""

import pytest

from data_pipeline_package_for_python_spark import ALL, PREV, Pipeline, V, fanin
from data_pipeline_package_for_python_spark.core.expressions import (
    CompleteExpression,
    PartialExpression,
    Placeholder,
)


# --------------------------------------------------------------------- #
# expression algebra (§2.1 #7-10)                                        #
# --------------------------------------------------------------------- #

def test_rshift_builds_partial_then_complete():
    x, y, out = Placeholder("x"), Placeholder("y"), Placeholder("out")
    partial = V(x, y) >> (lambda a, b: a + b)
    assert isinstance(partial, PartialExpression)
    complete = partial >> V(out)
    assert isinstance(complete, CompleteExpression)
    assert [p.name for p in complete.inputs] == ["x", "y"]
    assert [p.name for p in complete.outputs] == ["out"]


def test_single_placeholder_rshift_shorthand():
    x = Placeholder("x")
    expr = x >> (lambda v: v * 2) >> Placeholder("y")
    assert [p.name for p in expr.inputs] == ["x"]
    assert [p.name for p in expr.outputs] == ["y"]


def test_rshift_non_callable_raises():
    with pytest.raises(TypeError):
        Placeholder("x") >> 42
    with pytest.raises(TypeError):
        V(Placeholder("x")) >> "nope"


def test_v_rejects_non_placeholder():
    with pytest.raises(TypeError):
        V("x")


# --------------------------------------------------------------------- #
# common — elementwise map (§2.1 #1)                                     #
# --------------------------------------------------------------------- #

def test_common_elementwise_map_tuple_syntax():
    with Pipeline(x="4", y="2", z="42") as p:
        p.common((p.x, p.y, p.z), lambda s: int(s) + 1, (p.a, p.b, p.c))
    assert (p.a, p.b, p.c) == (5, 3, 43)


def test_common_expression_syntax():
    with Pipeline(x=10) as p:
        p.common(p.x >> (lambda v: v * 3) >> p.y)
    assert p.y == 30


def test_common_arity_mismatch_raises():
    with Pipeline(x=1, y=2) as p:
        with pytest.raises(ValueError):
            p.common((p.x, p.y), lambda v: v, (p.a,))


def test_common_bad_arg_count_raises():
    with Pipeline(x=1) as p:
        with pytest.raises(ValueError):
            p.common(p.x, lambda v: v)


# --------------------------------------------------------------------- #
# all — fan-in (§2.1 #2)                                                 #
# --------------------------------------------------------------------- #

def test_all_fan_in_single_output():
    with Pipeline(x=10, y=20) as p:
        p.all((p.x, p.y), lambda a, b: a + b, (p.result,))
    assert p.result == 30


def test_all_fan_in_multi_output():
    with Pipeline(x=10, y=3) as p:
        p.all((p.x, p.y), lambda a, b: (a // b, a % b), (p.q, p.r))
    assert (p.q, p.r) == (3, 1)


def test_all_multi_output_requires_matching_tuple():
    with Pipeline(x=1, y=2) as p:
        with pytest.raises(ValueError):
            p.all((p.x, p.y), lambda a, b: a + b, (p.u, p.v))
        with pytest.raises(ValueError):
            p.all((p.x, p.y), lambda a, b: (a, b, a), (p.u, p.v))


def test_all_expression_syntax():
    with Pipeline(x=2, y=3) as p:
        p.all(V(p.x, p.y) >> (lambda a, b: a * b) >> V(p.prod))
    assert p.prod == 6


# --------------------------------------------------------------------- #
# ALL / PREV super-variables (§2.1 #11-12)                               #
# --------------------------------------------------------------------- #

def test_all_supervar_maps_every_initial_var():
    with Pipeline(x="4", y="2", z="42") as p:
        p.common(ALL >> (lambda s: int(s) + 1) >> ALL)
    assert (p.x, p.y, p.z) == (5, 3, 43)


def test_all_supervar_frozen_at_init():
    # vars created mid-pipeline are excluded from ALL (dpp.py:177/245)
    with Pipeline(x=1) as p:
        p.common(p.x >> (lambda v: v + 1) >> p.newvar)
        p.common(ALL >> (lambda v: v * 10) >> ALL)
    assert p.x == 10  # initial var transformed
    assert p.newvar == 2  # mid-pipeline var untouched by ALL


def test_prev_threads_sequence():
    with Pipeline(x=1) as p:
        p.common(p.x >> (lambda v: v + 1) >> p.a)
        p.common(PREV >> (lambda v: v * 10) >> p.b)
    assert p.b == 20


def test_prev_without_history_raises():
    with Pipeline(x=1) as p:
        with pytest.raises(ValueError):
            p.common(PREV >> (lambda v: v) >> p.a)


# --------------------------------------------------------------------- #
# branch (§2.1 #3) — fixed merge semantics                               #
# --------------------------------------------------------------------- #

def test_branch_independent_fan_out():
    with Pipeline(a=1, b=2) as p:
        p.branch(
            p.a >> (lambda v: v + 10) >> p.x,
            p.b >> (lambda v: v + 20) >> p.y,
        )
    assert (p.x, p.y) == (11, 22)


def test_branch_merge_last():
    with Pipeline(a=1, b=2) as p:
        p.branch(
            p.a >> (lambda v: "first") >> p.out,
            p.b >> (lambda v: "second") >> p.out,
            merge="last",
        )
    assert p.out == "second"


def test_branch_merge_first_actually_keeps_first():
    # The reference's 'first' behaves as 'last' (SURVEY §2.1 #3,
    # verified-by-run); this engine fixes it.
    with Pipeline(a=1, b=2) as p:
        p.branch(
            p.a >> (lambda v: "first") >> p.out,
            p.b >> (lambda v: "second") >> p.out,
            merge="first",
        )
    assert p.out == "first"


def test_branch_merge_error_raises_on_collision():
    with Pipeline(a=1, b=2) as p:
        with pytest.raises(ValueError):
            p.branch(
                p.a >> (lambda v: 1) >> p.out,
                p.b >> (lambda v: 2) >> p.out,
                merge="error",
            )


def test_branch_reads_pre_branch_snapshot():
    # branches are a true fan-out: branch 2 must NOT see branch 1's write
    with Pipeline(a=1) as p:
        p.branch(
            p.a >> (lambda v: 100) >> p.a,
            p.a >> (lambda v: v + 1) >> p.b,
        )
    assert p.b == 2  # read the original a=1, not 100


def test_branch_invalid_merge_policy():
    with Pipeline(a=1) as p:
        with pytest.raises(ValueError):
            p.branch(p.a >> (lambda v: v) >> p.x, merge="bogus")


# --------------------------------------------------------------------- #
# sequence (§2.1 #4) — with expressible fan-in                           #
# --------------------------------------------------------------------- #

def test_sequence_ordered_composition():
    with Pipeline(x=1) as p:
        p.sequence(
            p.x >> (lambda v: v + 1) >> p.a,
            PREV >> (lambda v: v * 10) >> p.b,
            PREV >> (lambda v: v - 5) >> p.c,
        )
    assert (p.a, p.b, p.c) == (2, 20, 15)


def test_sequence_nn_fanin_expressible_via_fanin():
    # inexpressible in the reference (arity heuristic forces map mode,
    # SURVEY §2.1 #4 verified-by-run); fixed here via fanin()
    with Pipeline(x=5, y=3) as p:
        p.sequence(
            fanin(V(p.x, p.y) >> (lambda a, b: (a + b, a - b)) >> V(p.s, p.d)),
        )
    assert (p.s, p.d) == (8, 2)


def test_sequence_mixed_form_raises():
    with Pipeline(x=1) as p:
        with pytest.raises(ValueError):
            p.sequence("not a step")


# --------------------------------------------------------------------- #
# select (§2.1 #5)                                                       #
# --------------------------------------------------------------------- #

def test_select_first_match_wins():
    with Pipeline(x=10) as p:
        p.select(
            (lambda c: c.x > 5, p.x >> (lambda v: "big") >> p.label),
            (lambda c: c.x > 0, p.x >> (lambda v: "small") >> p.label),
        )
    assert p.label == "big"


def test_select_default_runs_when_no_match():
    with Pipeline(x=-1) as p:
        p.select(
            (lambda c: c.x > 0, p.x >> (lambda v: "pos") >> p.label),
            default=p.x >> (lambda v: "other") >> p.label,
        )
    assert p.label == "other"


def test_select_no_match_no_default_is_noop():
    with Pipeline(x=-1) as p:
        p.select(
            (lambda c: c.x > 0, p.x >> (lambda v: "pos") >> p.label),
        )
    assert "label" not in p.context


def test_select_malformed_branch_raises():
    with Pipeline(x=1) as p:
        with pytest.raises(ValueError):
            p.select("not a pair")


def test_select_snapshot_is_read_only():
    with Pipeline(x=1) as p:
        def cond(c):
            c.x = 99  # must raise
            return True
        with pytest.raises(AttributeError):
            p.select((cond, p.x >> (lambda v: v) >> p.y))


# --------------------------------------------------------------------- #
# lifecycle / attribute access (§2.1 #13) — no frame injection           #
# --------------------------------------------------------------------- #

def test_attr_is_placeholder_inside_value_outside():
    with Pipeline(x=7) as p:
        assert isinstance(p.x, Placeholder)
    assert p.x == 7


def test_unknown_var_outside_context_raises():
    p = Pipeline(x=1)
    with pytest.raises(AttributeError):
        p.nope


def test_getitem_access():
    with Pipeline(x=7) as p:
        assert isinstance(p["x"], Placeholder)
    assert p["x"] == 7


def test_chaining_returns_self():
    with Pipeline(x=1) as p:
        r = p.common(p.x >> (lambda v: v + 1) >> p.a).common(
            p.a >> (lambda v: v * 2) >> p.b
        )
        assert r is p
    assert p.b == 4


def test_ellipsis_placeholder_reserved_raises():
    """The reference reserves `...` and raises on use (dpp.py:234-235);
    the engine intentionally matches instead of inventing semantics."""
    with Pipeline(x=1) as p:
        with pytest.raises(NotImplementedError):
            V(p.x, ...)


def test_registry_iterates_in_registration_order():
    """``QUERIES`` keeps registration order: each defining module's
    queries form one contiguous group, the groups follow the import
    order of ``queries/__init__.py``, and ``zz_canary`` comes last."""
    import ast
    import itertools
    import pathlib

    from data_pipeline_package_for_python_spark import queries

    tree = ast.parse(pathlib.Path(queries.__file__).read_text())
    imported = [
        f"{queries.__name__}.{alias.name}"
        for node in tree.body
        if isinstance(node, ast.ImportFrom) and node.level == 1
        and node.module is None
        for alias in node.names
    ]
    groups = [
        mod for mod, _ in itertools.groupby(
            q.spark_fn.__module__ for q in queries.QUERIES.values()
        )
    ]
    assert groups == imported + [queries.__name__]
    assert list(queries.QUERIES)[-1] == "zz_canary"
    assert len(queries.QUERIES) == 410
