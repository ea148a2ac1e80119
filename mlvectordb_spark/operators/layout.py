"""Multi-column data layout optimization (Z-order clustering).

At 100 TB the dominant read cost is the scan, and the dominant scan saver
is skipping: parquet stores per-row-group min/max for every column, and
Spark's scan drops row groups (and whole files, via footer stats) whose
range can't match the pushed predicate. Skipping only works if the data
LAYOUT makes ranges narrow: a table sorted by one column skips perfectly
on that column and not at all on any other. Z-ordering interleaves the
bits of several columns' rank-space bins into one sort key, so a
range-partitioned + sorted write yields files whose min/max are narrow on
EVERY participating column — multi-dimensional box predicates then prune
most of the table (the same technique as Delta Lake's OPTIMIZE ZORDER BY,
re-built here on plain parquet with public Spark APIs).

Scale design:
- Bin boundaries come from `approxQuantile` (one pass, driver holds
  2^bits-1 cuts per column — bounded, independent of corpus size).
- Bin assignment and bit interleaving are pure Column expressions
  (whole-stage codegen; no UDF, no Python in the hot path).
- The write is `repartitionByRange(n_files, z)` + `sortWithinPartitions`
  — one range shuffle, the same cost any layout rewrite pays.
- `pruning_stats` reads ONLY parquet footers (pyarrow, driver-side,
  bytes-per-file metadata) to report how many row groups a box predicate
  must touch — the evidence a layout decision should be based on.

Reference parity: the reference engine has no layout optimizer (its
corpus lives in an in-memory dict, /root/reference/src/mlvectordb/
implementations/vector_storage.py); this is part of the 100 TB posture
the Spark re-expression adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlvectordb_spark.functions.vector import vector_lit

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _rankable(df: DataFrame, col: str) -> Column:
    """Map a column onto a numeric axis that preserves its order.

    Numerics pass through; dates/timestamps become epoch seconds. Strings
    are rejected: hashing them would destroy the locality z-ordering
    exists to create (a categorical column belongs in partitionBy, not in
    a z-order key).
    """
    dt = df.schema[col].dataType
    c = F.col(col)
    if isinstance(dt, _NUMERIC):
        return c.cast("double")
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return c.cast("timestamp").cast("double")
    raise ValueError(
        f"z-order column {col!r} has non-orderable-numeric type {dt}; "
        "use numeric/date/timestamp columns (categoricals: partitionBy)"
    )


def column_cuts(
    df: DataFrame, cols: list[str], bits: int = 6, rel_err: float = 0.01
) -> dict[str, list[float]]:
    """Quantile cut points giving each column 2^bits equi-depth bins.

    One `approxQuantile` pass (Greenwald-Khanna sketch, executor-merged);
    the driver keeps (2^bits - 1) floats per column — bounded at any
    corpus size. Equi-depth (not equi-width) bins keep the z-curve
    balanced under skewed value distributions, which is what makes the
    range partitioner produce same-sized files.
    """
    nbins = 1 << bits
    probs = [i / nbins for i in range(1, nbins)]
    axes = {c: f"__zaxis_{c}" for c in cols}
    proj = df.select(*[_rankable(df, c).alias(a) for c, a in axes.items()])
    quantiles = proj.approxQuantile(list(axes.values()), probs, rel_err)
    return {c: qs for c, qs in zip(cols, quantiles)}


def _bin_column(axis: Column, cuts: list[float]) -> Column:
    """Equi-depth bin index: #cuts strictly below the value (codegen'd
    comparison chain over the broadcast cut array; no UDF)."""
    return F.aggregate(
        vector_lit(cuts),
        F.lit(0),
        lambda acc, cut: acc + F.when(axis > cut, 1).otherwise(0),
    )


def zorder_key(
    df: DataFrame, cols: list[str], cuts: dict[str, list[float]], bits: int = 6
) -> Column:
    """Interleave the per-column bin bits into one Morton (Z) code.

    bits*len(cols) total bits (e.g. 6 bits x 3 cols = 18-bit key). Pure
    integer shift/mask arithmetic — stays inside whole-stage codegen.
    NULLs sort first (bin 0 via the when-otherwise in _bin_column treating
    null comparisons as false), keeping them clustered rather than
    scattered.
    """
    ncols = len(cols)
    bins = [_bin_column(_rankable(df, c), cuts[c]).cast("long") for c in cols]
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, bc in enumerate(bins):
            bit = F.shiftright(bc, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * ncols + j)
    return z


def optimize_layout(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 16,
    bits: int = 6,
    rel_err: float = 0.01,
) -> dict[str, list[float]]:
    """Rewrite `df` to `path` clustered on the z-order of `cols`.

    One quantile pass + one range shuffle; every output file covers a
    contiguous z range, so its footer min/max is narrow on every z-order
    column. Row groups inside each file are z-sorted too
    (sortWithinPartitions), so parquet's per-row-group stats prune at
    sub-file granularity as well. Returns the cut points (callers persist
    them if they want to z-locate future point reads).
    """
    cuts = column_cuts(df, cols, bits=bits, rel_err=rel_err)
    z = zorder_key(df, cols, cuts, bits=bits).alias("__zorder")
    (
        df.withColumn("__zorder", z)
        .repartitionByRange(n_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode("overwrite")
        .parquet(path)
    )
    return cuts


def append_layout(
    df: DataFrame,
    cols: list[str],
    path: str,
    cuts: dict[str, list[float]],
    n_files: int = 4,
    bits: int = 6,
) -> None:
    """Continuous-ingest maintenance: append a new batch z-clustered under
    the SAVED cuts — no rewrite of existing files, no fresh quantile pass.

    The append's files get their own narrow z-ranges, so footer skipping
    keeps working across generations; because the cuts are frozen, the
    batch's bins land in the same z space as the base layout (a later
    full `optimize_layout` re-derives cuts if drift makes the old
    equi-depth bins lopsided — the same compaction cadence as any LSM-ish
    layout). Cost per batch: one range shuffle of the BATCH, never the
    corpus.
    """
    z = zorder_key(df, cols, cuts, bits=bits).alias("__zorder")
    (
        df.withColumn("__zorder", z)
        .repartitionByRange(n_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode("append")
        .parquet(path)
    )


def write_linear(df: DataFrame, order_col: str, path: str, n_files: int = 16) -> None:
    """Baseline single-column layout (range-sorted on one column) — the
    control arm for pruning comparisons."""
    (
        df.repartitionByRange(n_files, order_col)
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def pruning_stats(path: str, box: dict[str, tuple[float, float]]) -> dict:
    """Row groups a box predicate must read, from parquet footers only.

    Walks each file's footer (pyarrow; bytes of metadata per file — a
    driver-side, file-count-bounded read, never data) and counts row
    groups whose [min,max] overlaps every column's [lo,hi]. This is
    exactly the skipping decision parquet readers make, so the ratio IS
    the fraction of the table a Spark scan with this predicate reads.
    Walks recursively, so it also measures partitioned layouts (e.g. a
    bucketed MergedTable version directory).
    """
    import os

    import pyarrow.parquet as pq

    total_rg = 0
    must_read_rg = 0
    total_rows = 0
    must_read_rows = 0
    files = sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )
    for fpath in files:
        meta = pq.ParquetFile(fpath).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            total_rg += 1
            total_rows += g.num_rows
            overlap = True
            for ci in range(g.num_columns):
                col = g.column(ci)
                cname = col.path_in_schema
                if cname not in box:
                    continue
                lo, hi = box[cname]
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue  # no stats => cannot skip on this column
                cmin, cmax = st.min, st.max
                if hasattr(cmin, "timestamp"):
                    cmin, cmax = cmin.timestamp(), cmax.timestamp()
                if float(cmax) < lo or float(cmin) > hi:
                    overlap = False
                    break
            if overlap:
                must_read_rg += 1
                must_read_rows += g.num_rows
    return {
        "row_groups": total_rg,
        "row_groups_read": must_read_rg,
        "rows": total_rows,
        "rows_read": must_read_rows,
        "read_fraction": (must_read_rows / total_rows) if total_rows else 0.0,
    }


def overlapping_files(path: str, box: dict[str, tuple[float, float]]) -> list[str]:
    """Files whose FILE-level min/max overlaps the box (driver-side footer
    walk, metadata-bytes per file). On a z-ordered layout this shrinks the
    file list itself — useful when a predicate is too complex for Spark's
    own pushdown, and it keeps the file index small on wide tables."""
    import os

    import pyarrow.parquet as pq

    keep = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        full = os.path.join(path, name)
        meta = pq.ParquetFile(full).metadata
        overlap = True
        for c, (lo, hi) in box.items():
            cmin = cmax = None
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    if col.path_in_schema != c:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        cmin = cmax = None
                        break
                    mn, mx = st.min, st.max
                    if hasattr(mn, "timestamp"):
                        mn, mx = mn.timestamp(), mx.timestamp()
                    mn, mx = float(mn), float(mx)
                    cmin = mn if cmin is None else min(cmin, mn)
                    cmax = mx if cmax is None else max(cmax, mx)
            if cmin is not None and (cmax < lo or cmin > hi):
                overlap = False
                break
        if overlap:
            keep.append(full)
    return keep


def read_box_pruned(
    spark: SparkSession, path: str, box: dict[str, tuple[float, float]]
) -> DataFrame:
    """`read_box`, but the scan's file list is pre-pruned from footers —
    non-overlapping files never even enter the file index. Result set is
    identical to `read_box` (the residual per-row filter still applies);
    only the scanned-file count changes."""
    files = overlapping_files(path, box)
    if not files:
        return read_box(spark, path, box).limit(0)
    df = spark.read.parquet(*files)
    for c, (lo, hi) in box.items():
        df = df.filter(_box_pred(df, c, lo, hi))
    return df


def _box_pred(df: DataFrame, c: str, lo, hi) -> Column:
    """Temporal bounds (epoch seconds) fold into literals of the COLUMN's
    exact type (timestamp / timestamp_ntz / date) so the BETWEEN stays on
    the bare column and reaches PushedFilters — a column-side cast would
    defeat the skipping the layout exists to enable."""
    dt = df.schema[c].dataType
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        lo_t = F.timestamp_seconds(F.lit(float(lo)))
        hi_t = F.timestamp_seconds(F.lit(float(hi)))
        if isinstance(dt, T.DateType):
            lo_t, hi_t = F.to_date(lo_t), F.to_date(hi_t)
        elif isinstance(dt, T.TimestampNTZType):
            lo_t = lo_t.cast("timestamp_ntz")
            hi_t = hi_t.cast("timestamp_ntz")
        return F.col(c).between(lo_t, hi_t)
    return F.col(c).between(lo, hi)


def read_box(
    spark: SparkSession, path: str, box: dict[str, tuple[float, float]]
) -> DataFrame:
    """Scan `path` with the box predicate pushed down (BETWEEN per column
    — lands in PushedFilters, engaging exactly the footer skipping that
    `pruning_stats` predicts)."""
    df = spark.read.parquet(path)
    for c, (lo, hi) in box.items():
        # timestamp/date bounds (epoch seconds) fold into typed LITERALS
        # so the BETWEEN stays on the bare column and reaches
        # PushedFilters — casting the COLUMN would defeat the skipping
        # the layout exists to enable (see _box_pred)
        df = df.filter(_box_pred(df, c, lo, hi))
    return df
