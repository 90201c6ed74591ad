"""Stage registry — the ``create_operators`` analog.

The reference compiles a config list of op-param dicts into an executed chain
(ppocr/data/imaug/__init__.py:53-90: ``create_operators`` + ``transform``;
``None`` = drop record). Our equivalent: named ``DataFrame -> DataFrame``
stage factories composed by ``functools.reduce``, with Catalyst as the real
optimizer underneath (SURVEY.md §3.3) — dropping a record is a ``filter``.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame

from . import pipeline as P

StageFn = Callable[[DataFrame], DataFrame]

#: name → factory(**params) → stage. Mirrors the reference op registry keys.
_REGISTRY: dict[str, Callable[..., StageFn]] = {}


def register(name: str):
    def deco(factory: Callable[..., StageFn]):
        _REGISTRY[name] = factory
        return factory
    return deco


@register("ExplodeSpans")
def _explode(**_):
    return P.explode_spans


@register("WithGeometry")
def _geom(**_):
    return P.with_geometry


@register("DetFilter")
def _detf(**_):
    return P.det_filter


@register("DropScore")
def _drop(**_):
    return P.drop_score_filter


@register("StripStyles")
def _strip(**_):
    return P.strip_styles


@register("OrderAssemble")
def _order(**_):
    return P.order_and_assemble


DEFAULT_CONFIG: list[dict] = [
    {"ExplodeSpans": None},
    {"WithGeometry": None},
    {"DetFilter": None},
    {"DropScore": None},
    {"StripStyles": None},
    {"OrderAssemble": None},
]


def create_operators(op_param_list: list[dict]) -> list[StageFn]:
    """Config list → stage functions (imaug/__init__.py:70-90 semantics:
    each element is a single-key dict {OpName: params|None})."""
    ops = []
    for op in op_param_list:
        assert isinstance(op, dict) and len(op) == 1, "yaml format error"
        name = list(op)[0]
        params = op[name] or {}
        ops.append(_REGISTRY[name](**params))
    return ops


def transform(df: DataFrame, ops: list[StageFn]) -> DataFrame:
    """Fold the stage chain over a DataFrame (imaug/__init__.py:53-67)."""
    return reduce(lambda acc, fn: fn(acc), ops, df)
