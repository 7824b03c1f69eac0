"""Cached large array literals.

``F.lit(python_list)`` converts the list element-by-element over py4j —
measured ~2.4 s PER CALL for a 1024-element lookup table on this host,
paid at DataFrame-BUILD time by every query that references the table
(the fixed-point flog2/fexp2/sigmoid/Hilbert kernels each embed one).
Parsing the equivalent ``array(...)`` SQL string is a single py4j
round-trip (~ms), and the resulting unresolved expression Column is
immutable and not bound to any DataFrame or session, so one Column per
distinct (values, type) can serve every consumer for the process
lifetime: it is kept in the engine's memo (``memo.py``).

Arrays computed from data (a weight vector per gradient step, k-means
centroids, quantization codebooks) are used once: their callers pass
``cache=False``, so they never crowd out the constant tables.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import memo


def array_lit(values, element_sql_type: str, cache: bool = True) -> Column:
    """A Column for the literal ``array<element_sql_type>`` of ``values``.

    Integer values are emitted as bare literals; floats via ``repr``
    (shortest round-tripping form — the decimal parse keeps every
    printed digit and the cast to double rounds back to the identical
    IEEE value). The final cast pins the element type regardless of how
    the parser typed the literals. ``cache=False`` builds the same
    Column without touching the memo.
    """
    if cache:
        key = ("array", element_sql_type, memo.digest(tuple(values)))
        return memo.get(key, lambda: array_lit(values, element_sql_type, cache=False))
    if any(isinstance(v, float) and not math.isfinite(v) for v in values):
        # nan/inf have no parseable SQL literal form — take the slow
        # but correct element-wise path (no engine table needs this)
        return F.lit(list(values)).cast(f"array<{element_sql_type}>")
    body = ",".join(repr(v) for v in values)
    return F.expr(f"array({body})").cast(f"array<{element_sql_type}>")
