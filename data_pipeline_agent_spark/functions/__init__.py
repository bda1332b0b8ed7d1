"""Column-expression helpers shared by the operators."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Spark interprets higher-order-function lambdas element by element, and
    subexpression elimination does not reach inside them: a row-level
    expression written inside a lambda body is re-run for every element.
    Passing it through a one-element ``transform`` binds it to a lambda
    variable instead, so ``body`` reads the variable and the expression
    runs once."""
    return F.element_at(F.transform(F.array(value), body), 1)
