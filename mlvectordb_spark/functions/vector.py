"""Distance / similarity kernels as native Catalyst column expressions.

The reference's kernels live inside hnswlib (C++): squared-L2 for the `l2`
space, 1−cos for `cosine`, negative dot for `ip`
(`/root/reference/src/mlvectordb/implementations/index.py:18,126-127`).
Here each metric is an honest, exact column expression built from
`zip_with` + `aggregate` — JVM-side, whole-stage-codegen'd, no Python in
the hot path. That keeps a 100 TB scan entirely inside Tungsten; a pandas
UDF would move every row through Arrow for a 64-float dot product.

All math is done in DOUBLE regardless of the (float32) storage type so
results are reproducible against external oracles; the fold is sequential
left-to-right, matching a scalar loop.

Every score is built from SQL text in one `F.expr` call: building the same
fold from Python lambdas or a query vector from per-element `F.lit`s costs
py4j round trips in proportion to the dimension, while SQL text costs a
constant few per score column at any dimension. Query vectors enter as
`vector_lit`: each finite value is Python's `repr` plus a `D` suffix,
which parses back to the identical double; NaN and ±inf, which have no
literal spelling, are `CAST('NaN' AS DOUBLE)` etc. Column operands are
rendered to SQL with `col._jc.node().sql()`, so they must be column
references or SQL-text columns (`vector_lit`, `F.expr`).

`metric_expr` exposes the reference's metric names:
- "l2"     → squared L2 distance (hnswlib returns squared distances)
- "cosine" → cosine *similarity* (the reference post-processes 1−dist back
             to similarity at `implementations/index.py:126-127`)
- "ip"     → inner product (hnswlib ip space scores by -dot; we surface the
             honest dot product and let callers sort descending)
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _sql(col: ColumnOrName) -> str:
    """SQL text of an operand. A name is quoted part by part, the way
    `F.col` splits it on dots; a Column renders its own node."""
    if isinstance(col, Column):
        return col._jc.node().sql()
    if "`" in col:
        return col
    return ".".join(f"`{part}`" for part in col.split("."))


def vector_lit(values: Iterable[float]) -> Column:
    """A constant array<double> column holding `values` bit-exactly."""

    def lit(x: float) -> str:
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(x):
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
        return f"{x!r}D"

    return F.expr(f"array({', '.join(lit(float(x)) for x in values)})")


def id_lit(value: str | int) -> str:
    """SQL literal text of one id: an integer, or a quoted string with
    backslash and quote escaped (Spark's default string-literal parsing).
    The one place id values become SQL text."""
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    if not isinstance(value, str):
        raise TypeError(f"no SQL literal for id {value!r}")
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def id_in(col: str, ids: Iterable[str | int], negate: bool = False) -> Column:
    """`col IN (ids)` (`NOT IN` when `negate`) from SQL text — 3 py4j
    calls for any list length, where `Column.isin` pays per element."""
    lits = ", ".join(id_lit(i) for i in ids)
    if not lits:
        return F.lit(negate)
    return F.expr(f"{_sql(col)} {'NOT IN' if negate else 'IN'} ({lits})")


_DOT, _L2_SQ = "__l * __r", "(__l - __r) * (__l - __r)"


def _fold(a: str, b: str, term: str) -> str:
    """SQL text: sequential left-to-right double sum of `term` over the
    paired elements `__l`, `__r` of the array operands `a`, `b`."""
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
        f"CAST({b} AS ARRAY<DOUBLE>), (__l, __r) -> {term}), 0D, "
        "(__acc, __t) -> __acc + __t)"
    )


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Inner product <a, b> as a sequential double fold."""
    return F.expr(_fold(_sql(a), _sql(b), _DOT))


def l2_sq(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Squared Euclidean distance (the reference's `l2` space score)."""
    return F.expr(_fold(_sql(a), _sql(b), _L2_SQ))


def l2_dist(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Euclidean distance (sqrt of l2_sq) — matches DuckDB list_distance."""
    return F.expr(f"sqrt({_fold(_sql(a), _sql(b), _L2_SQ)})")


def norm2(a: ColumnOrName) -> Column:
    """L2 norm of a vector column."""
    s = _sql(a)
    return F.expr(f"sqrt({_fold(s, s, _DOT)})")


def cosine_sim(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity dot/(|a||b|) — matches DuckDB list_cosine_similarity."""
    a, b = _sql(a), _sql(b)
    return F.expr(
        f"{_fold(a, b, _DOT)} / "
        f"(sqrt({_fold(a, a, _DOT)}) * sqrt({_fold(b, b, _DOT)}))"
    )


def normalize(a: ColumnOrName, decimals: int | None = None) -> Column:
    """Unit-normalize a vector column (declared Vector.normalize, README:180).

    Returns array<double>. `decimals` optionally rounds each component (used
    for oracle-stable output)."""
    s = _sql(a)
    unit = f"__u / sqrt({_fold(s, s, _DOT)})"
    if decimals is not None:
        unit = f"round({unit}, {int(decimals)})"
    return F.expr(f"transform(CAST({s} AS ARRAY<DOUBLE>), __u -> {unit})")


_METRICS = {"l2": l2_sq, "cosine": cosine_sim, "ip": dot}


def metric_expr(a: ColumnOrName, b: ColumnOrName, metric: str = "cosine") -> Column:
    """Score column for a reference metric name; see module docstring."""
    if metric not in _METRICS:
        raise ValueError(
            f"unknown metric {metric!r}; expected one of {tuple(_METRICS)}"
        )
    return _METRICS[metric](a, b)


def metric_ascending(metric: str) -> bool:
    """True when smaller scores are better (distance-like metrics)."""
    if metric == "l2":
        return True
    if metric in ("cosine", "ip"):
        return False
    raise ValueError(f"unknown metric {metric!r}; expected one of {tuple(_METRICS)}")
