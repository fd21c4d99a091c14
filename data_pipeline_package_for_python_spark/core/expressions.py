"""The ``>>`` expression algebra: placeholders, V(), partial/complete steps.

Clean-room re-expression of the reference DSL's expression layer
(/root/reference/dpp.py:12-165, dpp.py:626-644).  Semantics preserved:

- ``Placeholder`` is a *name* resolved against the pipeline context at
  execution time (dpp.py:81-98).
- ``V(a, b) >> fn`` builds a :class:`PartialExpression`
  (dpp.py:118-137); ``... >> V(x, y)`` completes it into a
  :class:`CompleteExpression` — an immutable ``(inputs, fn, outputs)``
  triple, the reference's only IR node (dpp.py:50-76).
- ``placeholder >> fn`` is shorthand for ``V(placeholder) >> fn``
  (dpp.py:100-112); a non-callable RHS raises ``TypeError`` (dpp.py:112).
- ``ALL`` / ``PREV`` super-variables (dpp.py:142-165).

Deliberate deviations (documented, tested):

- No caller-frame injection (the reference writes placeholders into
  ``sys._getframe(1).f_globals``, dpp.py:198-203).  Here placeholders are
  reached explicitly via ``pipe.x`` / ``pipe["x"]``.
- :class:`CompleteExpression` carries an optional ``mode`` so an
  n-in/n-out *fan-in* step is expressible (``fanin(expr)``); the
  reference's arity heuristic makes that shape unreachable inside
  ``sequence`` (dpp.py:495-498 — verified in SURVEY §2.1 #4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

__all__ = [
    "ALL",
    "PREV",
    "CompleteExpression",
    "PartialExpression",
    "Placeholder",
    "PlaceholderList",
    "V",
    "create_placeholder",
    "fanin",
]


class Placeholder:
    """A symbolic reference to a named slot in a pipeline context."""

    __slots__ = ("name",)

    def __init__(self, name: str):
        self.name = name

    def __rshift__(self, fn: Callable) -> "PartialExpression":
        if not callable(fn):
            raise TypeError(f"right-hand side of '>>' must be callable, got {fn!r}")
        return PartialExpression([self], fn)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Placeholder({self.name!r})"


class PlaceholderList(list):
    """An ordered list of placeholders; supports ``>> fn``."""

    def __rshift__(self, fn: Callable) -> "PartialExpression":
        if not callable(fn):
            raise TypeError(f"right-hand side of '>>' must be callable, got {fn!r}")
        return PartialExpression(list(self), fn)


class _SuperVar:
    """Marker resolved by the pipeline at execution time (ALL / PREV)."""

    __slots__ = ("name",)

    def __init__(self, name: str):
        self.name = name

    def __rshift__(self, fn: Callable) -> "PartialExpression":
        if not callable(fn):
            raise TypeError(f"right-hand side of '>>' must be callable, got {fn!r}")
        return PartialExpression([self], fn)

    def __repr__(self) -> str:  # pragma: no cover
        return self.name


#: All *initial* pipeline variables (frozen at Pipeline construction,
#: matching the reference's freeze-at-init behavior, dpp.py:177/245).
ALL = _SuperVar("ALL")
#: Outputs of the previous step (dpp.py:152-161).
PREV = _SuperVar("PREV")


@dataclass(frozen=True)
class PartialExpression:
    """``inputs >> fn`` — awaiting its output list."""

    inputs: list
    fn: Callable

    def __rshift__(self, outputs) -> "CompleteExpression":
        if isinstance(outputs, (Placeholder, _SuperVar)):
            outputs = [outputs]
        elif isinstance(outputs, (list, tuple)):
            outputs = list(outputs)
        else:
            raise TypeError(
                f"expression outputs must be placeholders, got {outputs!r}"
            )
        return CompleteExpression(self.inputs, self.fn, outputs)


@dataclass(frozen=True)
class CompleteExpression:
    """Frozen logical step: ``(inputs, fn, outputs)`` plus dispatch mode.

    ``mode`` is ``'auto'`` (reference arity heuristic: n-in/n-out ⇒ map,
    else fan-in), ``'map'``, or ``'all'``.
    """

    inputs: list
    fn: Callable
    outputs: list
    mode: str = field(default="auto")

    def with_mode(self, mode: str) -> "CompleteExpression":
        if mode not in ("auto", "map", "all"):
            raise ValueError(f"invalid mode {mode!r}")
        return CompleteExpression(self.inputs, self.fn, self.outputs, mode)


def fanin(expr: CompleteExpression) -> CompleteExpression:
    """Force a step to fan-in (``outputs = fn(*inputs)``) regardless of arity.

    The reference cannot express an n-in/n-out fan-in inside ``sequence``
    (its dispatch is purely arity-based, dpp.py:495-498); this engine can.
    """
    return expr.with_mode("all")


def V(*placeholders) -> PlaceholderList:
    """Group placeholders: ``V(x, y) >> fn >> V(a, b)`` (dpp.py:630-644).

    The ``...`` (Ellipsis) placeholder is RESERVED, matching the
    reference: dpp.py:234-235 reserves the token and raises
    ``NotImplementedError`` on use, and this engine intentionally does
    the same rather than inventing semantics the reference never
    defined."""
    out = PlaceholderList()
    for p in placeholders:
        if p is Ellipsis:
            raise NotImplementedError(
                "the '...' placeholder is reserved but unimplemented, "
                "matching the reference (dpp.py:234-235)"
            )
        if not isinstance(p, (Placeholder, _SuperVar)):
            raise TypeError(f"V() accepts placeholders, got {p!r}")
        out.append(p)
    return out


def create_placeholder(name: str) -> Placeholder:
    """Bare constructor (parity with dpp.py:626-627)."""
    return Placeholder(name)

