"""Higher-order-function helpers.

The one that matters: ``bind``. Catalyst evaluates a lambda *body*
per array element — so an expensive expression referenced inside the
body of ``F.transform``/``F.filter`` (rather than passed as the HOF's
*argument*) is recomputed for every element. A winnowing pipeline that
references its shingle-hash array from inside the window-minima lambda
is O(n²) per row; measured 33.5s → 2.3s on 500 docs after binding
(14×). The same applies to referencing ``F.split(text)`` from a gram
lambda: the full split reruns per gram.

``bind(expr, f)`` forces single evaluation per row by making ``expr``
the HOF argument: wrap it in a 1-element array, ``transform`` with
``f`` (whose lambda variable is a cheap slot reference), take element
1. Constant overhead, works for any type, stays a pure Column
expression (no intermediate ``withColumn`` needed, immune to
CollapseProject re-inlining).

Wide literal-parameterised expression families (MinHash's num_hashes
seeded rehashes, its bands × rows_per_band band keys) are built as ONE
``F.expr`` over column names and let-bound with ``bind_sql`` — never by
composing a Column that is then referenced N times: every PySpark
``F.lit``/``F.transform`` lambda is its own py4j round trip (about 2,000
for the MinHash signature + band-key pair, 3,300 for its md5 form; 6 as
two ``F.expr``), and Catalyst copies a nested Column into each
reference, so an N-way reference evaluates it N times per row. A value
several expressions consume becomes a named column (``withColumn``)
that the consumers reference by name.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(expr: Column, f: Callable[[Column], Column]) -> Column:
    """Evaluate ``expr`` once per row and feed the result to ``f`` as a
    lambda variable — let-binding for Catalyst expression trees."""
    return F.element_at(F.transform(F.array(expr), f), 1)


def bind_sql(expr: str, var: str, body: str) -> str:
    """SQL-text twin of :func:`bind`: ``body`` refers to ``expr``'s
    value as the lambda variable ``var``, evaluated once per row."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"
