"""Cached large array literals.

``F.lit(python_list)`` converts the list element-by-element over py4j —
measured ~2.4 s PER CALL for a 1024-element lookup table on this host,
paid at DataFrame-BUILD time by every query that references the table
(the fixed-point flog2/fexp2/sigmoid/Hilbert kernels each embed one).
Parsing the equivalent ``array(...)`` SQL string is a single py4j
round-trip (~ms), and the resulting unresolved expression Column is
immutable and not bound to any DataFrame or session, so one Column per
distinct (values, type) can serve every consumer for the process
lifetime. This caches EXPRESSIONS, never data or results.

Arrays computed from data (a weight vector per gradient step, k-means
centroids, quantization codebooks) are used once: their callers pass
``cache=False``. The cache is also a bounded LRU, so no caller can grow
it without limit; the engine's constant tables number far fewer than
the bound.
"""

from __future__ import annotations

import math
import threading
from collections import OrderedDict

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_ENTRIES = 64
_CACHE: OrderedDict[tuple, Column] = OrderedDict()
_LOCK = threading.Lock()  # builders run on several driver threads


def array_lit(values, element_sql_type: str, cache: bool = True) -> Column:
    """A Column for the literal ``array<element_sql_type>`` of ``values``.

    Integer values are emitted as bare literals; floats via ``repr``
    (shortest round-tripping form — the decimal parse keeps every
    printed digit and the cast to double rounds back to the identical
    IEEE value). The final cast pins the element type regardless of how
    the parser typed the literals. ``cache=False`` builds the same
    Column without touching the cache.
    """
    key = (element_sql_type, tuple(values))
    if cache:
        with _LOCK:
            col = _CACHE.get(key)
            if col is not None:
                _CACHE.move_to_end(key)
                return col
    if any(isinstance(v, float) and not math.isfinite(v) for v in values):
        # nan/inf have no parseable SQL literal form — take the slow
        # but correct element-wise path (no engine table needs this)
        col = F.lit(list(values)).cast(f"array<{element_sql_type}>")
    else:
        body = ",".join(repr(v) for v in values)
        col = F.expr(f"array({body})").cast(f"array<{element_sql_type}>")
    if cache:
        with _LOCK:
            _CACHE[key] = col
            if len(_CACHE) > MAX_ENTRIES:
                _CACHE.popitem(last=False)
    return col
