"""Array helpers missing from pyspark.sql.functions.

Reference counterparts in `datafusion/functions-nested/src/`:
array_distance (distance.rs), array_resize (resize.rs), array_replace
(replace.rs). Implemented as compositions of Spark higher-order
functions (`zip_with`, `aggregate`, `transform`) — evaluated JVM-side
per-row, no Python round-trip, so they scale like any built-in.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def array_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean (L2) distance between two numeric arrays
    (reference functions-nested/src/distance.rs)."""
    diff2 = F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v))


def array_resize(arr: Column | str, new_size: int, fill: object = None) -> Column:
    """Resize to `new_size`, truncating or padding with `fill`
    (reference functions-nested/src/resize.rs)."""
    arr = _c(arr)
    truncated = F.slice(arr, 1, new_size)
    pad_len = F.greatest(F.lit(new_size) - F.size(arr), F.lit(0))
    padding = F.array_repeat(F.lit(fill), pad_len.cast("int"))
    return F.when(F.size(arr) >= new_size, truncated).otherwise(F.concat(arr, padding))


def array_replace_all(arr: Column | str, search: object, replacement: object) -> Column:
    """Replace every occurrence of `search` with `replacement`
    (reference functions-nested/src/replace.rs array_replace_all)."""
    return F.transform(
        _c(arr), lambda x: F.when(x == F.lit(search), F.lit(replacement)).otherwise(x)
    )
