"""Lakehouse family: MERGE, CDC, materialized views, expectations, SCD2
and physical layouts over versioned tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mlvectordb_spark.queries.common import _entry_tmpdir, entry
from mlvectordb_spark.sources.testdata import load_table


_BUCKETED_SESSIONS: dict[tuple, str] = {}


def session_bucketed(spark: SparkSession, sf_dir: str, n_buckets: int = 16):
    """Build-once bucketed fact layout per (session, sf_dir): lineitem and
    orders land hash-bucketed (and per-bucket sorted) on their join key in
    the session catalog, so every later orderkey join is a zero-exchange,
    zero-sort merge (`operators/bucketed.py` — the write-time-shuffle
    trade every repeatedly-joined 100 TB fact table should make)."""
    import hashlib
    import tempfile

    from mlvectordb_spark.operators.bucketed import (
        ensure_bucket_db,
        read_bucketed,
        write_bucketed,
    )

    key = (spark.sparkContext.applicationId, sf_dir, n_buckets)
    tag = _BUCKETED_SESSIONS.get(key)
    if tag is None:
        tag = hashlib.md5(f"{sf_dir}:{n_buckets}".encode()).hexdigest()[:8]
        ensure_bucket_db(spark, tempfile.mkdtemp(prefix="bucketed_db_"))
        write_bucketed(
            load_table(spark, sf_dir, "lineitem"),
            f"lineitem_{tag}",
            ["l_orderkey"],
            n_buckets,
            ["l_orderkey"],
        )
        write_bucketed(
            load_table(spark, sf_dir, "orders"),
            f"orders_{tag}",
            ["o_orderkey"],
            n_buckets,
            ["o_orderkey"],
        )
        _BUCKETED_SESSIONS[key] = tag
    return (
        read_bucketed(spark, f"lineitem_{tag}"),
        read_bucketed(spark, f"orders_{tag}"),
    )


def _merge_orders_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDC-style feed derived from orders: price updates for
    every 5th key (cancellations for every 20th), plus brand-new orders
    keyed above the existing range for every 97th key."""
    orders = load_table(spark, sf_dir, "orders")
    # 1.25 is exactly representable in binary — the product is the same
    # double in any engine, so no per-row rounding is needed (round(x*1.1,2)
    # would diverge between Spark's BigDecimal-string rounding and DuckDB's
    # scaled-arithmetic rounding on representation edge cases)
    updates = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.25).alias("new_price"),
        (F.col("o_orderkey") % 20 == 0).alias("cancel"),
    )
    # negated ids can never collide with a real (non-negative) order key
    # at any scale factor, unlike an additive offset
    inserts = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
        F.lit(1000.0).alias("new_price"),
        F.lit(False).alias("cancel"),
    )
    return updates.unionByName(inserts)


# layout rewrite never changes the result set: aggregate the raw
# table under the same 2-D box the Spark side reads from the
# z-ordered rewrite
@entry(oracle="""
WITH dom AS (
  SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
         min(l_suppkey) AS smn, max(l_suppkey) AS smx
  FROM lineitem
), box AS (
  SELECT CAST(floor(pmn + 0.05 * (pmx - pmn)) AS BIGINT) AS pk_lo,
         CAST(floor(pmn + 0.25 * (pmx - pmn)) AS BIGINT) AS pk_hi,
         CAST(floor(smn + 0.10 * (smx - smn)) AS BIGINT) AS sk_lo,
         CAST(floor(smn + 0.40 * (smx - smn)) AS BIGINT) AS sk_hi
  FROM dom
)
SELECT l_returnflag, count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem, box
WHERE l_partkey BETWEEN pk_lo AND pk_hi
  AND l_suppkey BETWEEN sk_lo AND sk_hi
GROUP BY l_returnflag
""")
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout rewrite + multi-column box readback (round-7
    lakehouse posture; operators/layout.py): rewrite lineitem clustered on
    the Morton interleave of (l_partkey, l_suppkey) — one approxQuantile
    pass for equi-depth bins, pure-codegen bit interleave, one range
    shuffle — then answer a 2-D box aggregate from the rewritten table.
    The layout changes WHICH row groups the pushed BETWEEN predicates
    touch (footer min/max skipping on BOTH columns; measured in
    tests/test_layout.py and the scale probe), never the result set, so
    the oracle aggregates the raw table under the same box."""
    from mlvectordb_spark.operators.layout import optimize_layout, read_box

    li = load_table(spark, sf_dir, "lineitem")
    path = _entry_tmpdir("zorder")
    optimize_layout(li, ["l_partkey", "l_suppkey"], path, n_files=16, bits=6)
    # scale-relative box (non-empty at every SF's key domain); floor over
    # exact int64 min/max in IEEE double — bit-identical in the oracle's
    # scalar subqueries
    import math

    r = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    pk_lo = int(math.floor(r[0] + 0.05 * (r[1] - r[0])))
    pk_hi = int(math.floor(r[0] + 0.25 * (r[1] - r[0])))
    sk_lo = int(math.floor(r[2] + 0.10 * (r[3] - r[2])))
    sk_hi = int(math.floor(r[2] + 0.40 * (r[3] - r[2])))
    box = {"l_partkey": (pk_lo, pk_hi), "l_suppkey": (sk_lo, sk_hi)}
    return (
        read_box(spark, path, box)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@entry(oracle="""
SELECT o_orderpriority, count(*)::BIGINT AS n_items,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""", headline=True)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority through the CO-LOCATED bucketed layout:
    lineitem ⋈ orders on orderkey runs with no exchange and no sort on
    either side (both tables pre-bucketed+sorted on the key,
    `session_bucketed`; plan-asserted in test_plan_quality). The only
    shuffle left in the query is the 5-row priority aggregate. Oracle is
    the same join over the raw parquet — the layout must not change a
    single answer."""
    li, od = session_bucketed(spark, sf_dir)
    j = li.join(od, li.l_orderkey == od.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# MERGE INTO semantics spelled out relationally: kept/updated target rows
# (left join, cancel filter) UNION ALL inserts (anti join) — the exact
# contract merge_into implements with its broadcast (target-unshuffled)
# physical strategy.
# headline: table maintenance is a first-class engine cost
@entry(oracle="""
WITH src AS (
  SELECT o_orderkey, o_totalprice * 1.25 AS new_price,
         (o_orderkey % 20 = 0) AS cancel
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT -(o_orderkey + 1), 1000.0, FALSE
  FROM orders WHERE o_orderkey % 97 = 0
), merged AS (
  SELECT CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
              ELSE o.o_totalprice END AS o_totalprice,
         o.o_orderstatus
  FROM orders o LEFT JOIN src s ON o.o_orderkey = s.o_orderkey
  WHERE s.o_orderkey IS NULL OR NOT s.cancel
  UNION ALL
  SELECT s.new_price, 'N'
  FROM src s ANTI JOIN orders o ON s.o_orderkey = o.o_orderkey
)
SELECT o_orderstatus, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS total_price
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
""", headline=True)
def q_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (operators/merge.py): apply a CDC feed (updates +
    cancellations + new orders) to the orders table with ANSI-MERGE
    semantics, broadcast strategy — the target is never shuffled (left
    join with broadcast source + key-pruned anti join for inserts).
    Output: post-merge per-status totals. Reference analog: none (the
    reference mutates only vectors, storage_engine.py:21-44); this is the
    relational table-maintenance surface."""
    from mlvectordb_spark.operators.merge import merge_into

    orders = load_table(spark, sf_dir, "orders")
    src = _merge_orders_source(spark, sf_dir)
    merged = merge_into(
        orders,
        src,
        on="o_orderkey",
        update_set={"o_totalprice": F.col("s.new_price")},
        delete_condition=F.col("s.cancel"),
        insert_set={
            "o_totalprice": F.col("s.new_price"),
            "o_orderstatus": F.lit("N"),
        },
        strategy="broadcast",
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# the connector round-trip answers from CSV/JSON/ORC copies; the oracle
# reads the original parquet — value-level parity is the contract
@entry(oracle="""
SELECT 'csv' AS fmt, count(*) AS n_rows, sum(r_regionkey)::BIGINT AS key_sum,
  count(DISTINCT r_name) AS n_names FROM region
UNION ALL
SELECT 'json', count(*), sum(n_nationkey)::BIGINT, count(DISTINCT n_name)
FROM nation
UNION ALL
SELECT 'orc', count(*), sum(n_nationkey)::BIGINT, count(DISTINCT n_name)
FROM nation
ORDER BY fmt
""")
def q_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector parity (sources/connectors.py, SURVEY.md §2.4 sources/
    sinks): round-trip region through CSV and nation through JSON and ORC,
    then answer from the round-tripped frames ONLY. The oracle reads the
    original parquet — any type/value loss in a connector flips the hash.
    CSV reads back under the writer's explicit schema (inference would be
    lossy); JSON/ORC carry their own types."""

    from mlvectordb_spark.sources.connectors import read_table, write_table

    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    base = _entry_tmpdir("fmt_rt")
    write_table(region, f"{base}/region_csv", "csv")
    write_table(nation, f"{base}/nation_json", "json")
    write_table(nation, f"{base}/nation_orc", "orc")
    r_csv = read_table(spark, f"{base}/region_csv", "csv", schema=region.schema)
    n_json = read_table(spark, f"{base}/nation_json", "json", schema=nation.schema)
    n_orc = read_table(spark, f"{base}/nation_orc", "orc")

    def _probe(df: DataFrame, fmt: str, key: str, name: str) -> DataFrame:
        return df.agg(
            F.lit(fmt).alias("fmt"),
            F.count("*").alias("n_rows"),
            F.sum(key).cast("bigint").alias("key_sum"),
            F.countDistinct(name).alias("n_names"),
        )

    return (
        _probe(r_csv, "csv", "r_regionkey", "r_name")
        .unionByName(_probe(n_json, "json", "n_nationkey", "n_name"))
        .unionByName(_probe(n_orc, "orc", "n_nationkey", "n_name"))
        .orderBy("fmt")
    )


# CDC round trip: v0 and v1 reconstructed relationally, then diffed —
# the exact contract of apply_merge_batch (monotonicity-guarded MERGE)
# followed by table_changes (full-outer snapshot diff)
@entry(oracle="""
WITH v0 AS (
  SELECT o_orderkey AS id, o_totalprice AS val, 1::BIGINT AS seq
  FROM orders WHERE o_orderkey % 3 = 0
), upd AS (
  SELECT o_orderkey AS id, o_totalprice * 1.5 AS val, 2::BIGINT AS seq
  FROM orders WHERE o_orderkey % 9 = 0
), del AS (
  SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 21 = 0
), ins AS (
  SELECT -(o_orderkey + 1) AS id, 123.0 AS val, 2::BIGINT AS seq
  FROM orders WHERE o_orderkey % 41 = 0
), v1 AS (
  SELECT v0.id, COALESCE(u.val, v0.val) AS val, COALESCE(u.seq, v0.seq) AS seq
  FROM v0 LEFT JOIN upd u ON v0.id = u.id
  WHERE v0.id NOT IN (SELECT id FROM del)
  UNION ALL
  SELECT id, val, seq FROM ins
)
SELECT COALESCE(n.id, o.id)::BIGINT AS id,
  COALESCE(n.val, o.val) AS val,
  COALESCE(n.seq, o.seq)::BIGINT AS seq,
  CASE WHEN o.id IS NULL THEN 'insert'
       WHEN n.id IS NULL THEN 'delete'
       ELSE 'update' END AS _change_type
FROM v0 o FULL JOIN v1 n ON o.id = n.id
WHERE o.id IS NULL OR n.id IS NULL OR o.val <> n.val OR o.seq <> n.seq
ORDER BY id
""")
def q_table_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round trip (streaming/merge_sink.py): apply two deterministic
    CDC batches derived from orders into a versioned MergedTable
    (bootstrap, then updates + deletes + inserts through MERGE), then read
    the change feed BETWEEN the two published versions back out with
    `table_changes` (the Delta change-data-feed analog). The table is
    hash-bucketed (n_buckets=16): the merge rewrites only touched bucket
    directories (untouched ones hard-link forward), and the diff prunes
    to buckets whose files diverged — so this entry gates merge-apply,
    file-level CoW, AND the bucket-pruned diff at once. The oracle
    reconstructs both versions relationally and diffs them."""

    from mlvectordb_spark.streaming.merge_sink import (
        MergedTable,
        apply_merge_batch,
        table_changes,
    )

    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    b0 = orders.filter(key % 3 == 0).select(
        key.alias("id"),
        F.col("o_totalprice").alias("val"),
        F.lit(1).cast("bigint").alias("seq"),
        F.lit(False).alias("deleted"),
    )
    updates = orders.filter(key % 9 == 0).select(
        key.alias("id"),
        (F.col("o_totalprice") * 1.5).alias("val"),  # 1.5 exact in binary
        F.lit(2).cast("bigint").alias("seq"),
        F.lit(False).alias("deleted"),
    )
    deletes = orders.filter(key % 21 == 0).select(
        key.alias("id"),
        F.lit(0.0).alias("val"),
        F.lit(3).cast("bigint").alias("seq"),  # delete outranks update
        F.lit(True).alias("deleted"),
    )
    # negated ids can never collide with a real key at any scale factor
    inserts = orders.filter(key % 41 == 0).select(
        (-(key + 1)).alias("id"),
        F.lit(123.0).alias("val"),
        F.lit(2).cast("bigint").alias("seq"),
        F.lit(False).alias("deleted"),
    )
    b1 = updates.unionByName(deletes).unionByName(inserts)
    table = MergedTable(spark, _entry_tmpdir("cdf"), n_buckets=16)
    apply_merge_batch(table, b0, 0, "id", "seq", "deleted")
    apply_merge_batch(table, b1, 1, "id", "seq", "deleted")
    return table_changes(table, 0, 1, on="id").orderBy("id")


# Incremental MV refresh gated against a from-scratch regroup of the
# relationally-reconstructed post-batch snapshot: update keys (%9) that
# are also delete keys (%21) are deleted (the delete row carries the
# greater seq), so v1 = (v0 \ del) with %9 prices scaled, plus inserts.
@entry(oracle="""
WITH v0 AS (
  SELECT o_orderkey AS id, date_trunc('month', o_orderdate) AS month,
         o_totalprice AS val
  FROM orders WHERE o_orderkey % 3 = 0
), upd AS (
  SELECT o_orderkey AS id, o_totalprice * 2.0 AS val
  FROM orders WHERE o_orderkey % 9 = 0
), del AS (
  SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 21 = 0
), ins AS (
  SELECT -(o_orderkey + 1) AS id,
         date_trunc('month', o_orderdate) AS month, 123.0 AS val
  FROM orders WHERE o_orderkey % 41 = 0
), v1 AS (
  SELECT v0.id, v0.month, COALESCE(u.val, v0.val) AS val
  FROM v0 LEFT JOIN upd u ON v0.id = u.id
  WHERE v0.id NOT IN (SELECT id FROM del)
  UNION ALL
  SELECT id, month, val FROM ins
)
SELECT month, count(*) AS cnt, round(sum(val), 2) AS sum_val
FROM v1 GROUP BY month ORDER BY month
""")
def q_table_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (operators/mv.py): a
    per-month (cnt, sum) view over a versioned CDC table is refreshed
    from the PREIMAGE-form change feed (`table_changes(preimage=True)`,
    the Delta CDF two-row update shape) instead of rescanning the table —
    updates retract their old contribution and add the new one, deletes
    retract, inserts add. The merge RECORDS its feed as it runs
    (`record_changes=True`), so the refresh's only parquet input is the
    batch-sized recording — zero table bytes (plan-asserted in
    tests/test_merge_sink.py; the snapshot-diff fallback is gated by the
    same-output test there). The oracle reconstructs the post-batch
    snapshot relationally and regroups from scratch, so the signed-delta
    algebra AND the merge-derived feed are gated against a full rebuild.
    Refresh cost is O(|changes|) + O(|view|)."""

    from mlvectordb_spark.operators.mv import build_mv, incremental_refresh
    from mlvectordb_spark.streaming.merge_sink import (
        MergedTable,
        apply_merge_batch,
        table_changes,
    )

    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    base = orders.filter(key % 3 == 0).select(
        key.alias("id"),
        F.trunc("o_orderdate", "month").alias("month"),
        F.col("o_totalprice").alias("val"),
        F.lit(1).cast("bigint").alias("seq"),
        F.lit(False).alias("deleted"),
    )
    updates = orders.filter(key % 9 == 0).select(
        key.alias("id"),
        F.trunc("o_orderdate", "month").alias("month"),
        # ×2 keeps val on the cent grid — a ×1.5 would put sums on a
        # 0.005 boundary where Spark and DuckDB round() can disagree
        (F.col("o_totalprice") * 2.0).alias("val"),
        F.lit(2).cast("bigint").alias("seq"),
        F.lit(False).alias("deleted"),
    )
    # deletes get a strictly greater seq so the in-batch dedup resolves
    # the %63 update∩delete keys deterministically (delete wins)
    deletes = orders.filter(key % 21 == 0).select(
        key.alias("id"),
        F.trunc("o_orderdate", "month").alias("month"),
        F.lit(0.0).alias("val"),
        F.lit(3).cast("bigint").alias("seq"),
        F.lit(True).alias("deleted"),
    )
    # negated ids can never collide with a real (non-negative) order key
    # at ANY scale factor — an additive offset silently turns inserts
    # into updates once max(o_orderkey) crosses it
    inserts = orders.filter(key % 41 == 0).select(
        (-(key + 1)).alias("id"),
        F.trunc("o_orderdate", "month").alias("month"),
        F.lit(123.0).alias("val"),
        F.lit(2).cast("bigint").alias("seq"),
        F.lit(False).alias("deleted"),
    )
    table = MergedTable(
        spark, _entry_tmpdir("mv"), n_buckets=16
    )
    apply_merge_batch(table, base, 0, "id", "seq", "deleted")
    # materialize the view the way production would (it IS the stored
    # state): without this, lazy lineage would re-derive mv0 from a full
    # v0 scan inside the refresh plan, silently breaking the
    # never-rescan-the-base claim (plan-asserted in test_plan_quality)
    mv0 = build_mv(table.df_at(0), ["month"], ["val"]).localCheckpoint(
        eager=True
    )
    b1 = updates.unionByName(deletes).unionByName(inserts)
    apply_merge_batch(
        table, b1, 1, "id", "seq", "deleted", record_changes=True
    )
    feed = table_changes(table, 0, 1, on="id", preimage=True)
    mv1 = incremental_refresh(mv0, feed, ["month"], ["val"])
    return mv1.select(
        "month", "cnt", F.round("sum_val", 2).alias("sum_val")
    ).orderBy("month")


# evolved state reconstructed relationally: old rows NULL in the new
# column, matched rows take the update (with score), inserts carry it
@entry(oracle="""
WITH v0 AS (
  SELECT o_orderkey AS id, o_totalprice AS val
  FROM orders WHERE o_orderkey % 3 = 0
), upd AS (
  SELECT o_orderkey AS id, o_totalprice * 1.5 AS val,
         (o_orderkey % 7)::DOUBLE AS score
  FROM orders WHERE o_orderkey % 15 = 0
), ins AS (
  SELECT -(o_orderkey + 1) AS id, 77.0 AS val, 0.5 AS score
  FROM orders WHERE o_orderkey % 33 = 0
)
SELECT v0.id::BIGINT AS id, COALESCE(u.val, v0.val) AS val, u.score AS score
FROM v0 LEFT JOIN upd u ON v0.id = u.id
UNION ALL
SELECT id::BIGINT, val, score FROM ins
ORDER BY id
""", headline=True)
def q_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under MERGE (streaming/merge_sink.py,
    operators/merge.py evolve_schema=True — the Delta `mergeSchema`
    analog): bootstrap a bucketed versioned table from orders in the OLD
    schema, then merge a batch that carries a brand-new `score` column.
    The evolving merge rewrites only its touched buckets; every untouched
    bucket hard-links forward with the old parquet footer and reads NULL
    in the new column through the version's schema sidecar. The oracle
    reconstructs the evolved state relationally (old rows NULL-scored,
    matched rows updated, inserts carrying the new column). Reference
    analog: none (no table surface, storage_engine.py:21-44)."""
    from mlvectordb_spark.streaming.merge_sink import (
        MergedTable,
        apply_merge_batch,
    )

    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    b0 = orders.filter(key % 3 == 0).select(
        key.alias("id"),
        F.col("o_totalprice").alias("val"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    # %15 implies %3: every update matches an existing key. 1.5 and the
    # small-integer scores are exactly representable — no rounding drift.
    updates = orders.filter(key % 15 == 0).select(
        key.alias("id"),
        (F.col("o_totalprice") * 1.5).alias("val"),
        (key % 7).cast("double").alias("score"),
        F.lit(2).cast("bigint").alias("seq"),
    )
    inserts = orders.filter(key % 33 == 0).select(
        (-(key + 1)).alias("id"),  # negated ids never collide
        F.lit(77.0).alias("val"),
        F.lit(0.5).alias("score"),
        F.lit(2).cast("bigint").alias("seq"),
    )
    table = MergedTable(spark, _entry_tmpdir("mev"), n_buckets=16)
    apply_merge_batch(table, b0, 0, "id", "seq")
    apply_merge_batch(
        table,
        updates.unionByName(inserts),
        1,
        "id",
        "seq",
        evolve_schema=True,
    )
    return table.df().select("id", "val", "score").orderBy("id")


# the post-change joined view rebuilt from scratch: fact updates/deletes/
# inserts applied relationally, dim segments shifted, then one regroup
@entry(oracle="""
WITH f0 AS (
  SELECT o_orderkey AS okey, o_custkey AS ck, o_totalprice AS amt
  FROM orders WHERE o_orderkey % 3 = 0
), f1 AS (
  SELECT okey, ck,
         CASE WHEN okey % 9 = 0 THEN amt * 2.0 ELSE amt END AS amt
  FROM f0 WHERE okey % 21 <> 0
  UNION ALL
  SELECT -(o_orderkey + 1), o_custkey, 123.0
  FROM orders WHERE o_orderkey % 41 = 0
), d1 AS (
  SELECT c_custkey AS ck,
         CASE WHEN c_custkey % 13 = 0 THEN 'SHIFTED'
              ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT seg, count(*) AS cnt, round(sum(amt), 2) AS sum_amt
FROM f1 JOIN d1 USING (ck)
GROUP BY seg ORDER BY seg
""", headline=True)
def q_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view incremental maintenance (operators/mv.py
    incremental_refresh_join): a per-segment (cnt, sum) view over
    orders ⋈ customer is refreshed from BOTH sides' preimage CDF feeds —
    fact updates/deletes/inserts AND a dim update that moves customers
    between segments — via the join delta rule
    Δ(F⋈D) = ΔF⋈D_old ∪ F_new⋈ΔD with multiplied signs. The base join is
    never recomputed: both feeds broadcast, the table-side scans are
    key-pruned, the only shuffle is feed-sized. The oracle rebuilds the
    post-change joined view from scratch. Reference analog: none (no
    relational surface); delta rules per the standard IVM literature."""
    from mlvectordb_spark.operators.mv import (
        build_mv,
        incremental_refresh_join,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    okey = F.col("okey")
    fact0 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ck"),
        F.col("o_totalprice").alias("amt"),
    )
    dim0 = customer.select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("seg")
    )
    # fact changes: %21 deletes win over %9 updates (disjoint by
    # construction); inserts use negated keys (never collide) and ×2.0 /
    # 123.0 keep every value on the cent grid (oracle round-parity)
    upd = fact0.filter((okey % 9 == 0) & (okey % 21 != 0))
    ctype = lambda s: F.lit(s).alias("_change_type")  # noqa: E731
    fact_feed = (
        upd.select("okey", "ck", "amt", ctype("update_preimage"))
        .unionByName(
            upd.select(
                "okey", "ck", (F.col("amt") * 2.0).alias("amt"),
                ctype("update_postimage"),
            )
        )
        .unionByName(
            fact0.filter(okey % 21 == 0).select(
                "okey", "ck", "amt", ctype("delete")
            )
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 41 == 0).select(
                (-(F.col("o_orderkey") + 1)).alias("okey"),
                F.col("o_custkey").alias("ck"),
                F.lit(123.0).alias("amt"),
                ctype("insert"),
            )
        )
    )
    # dim change: every %13 customer moves to a brand-new segment
    dmov = dim0.filter(F.col("ck") % 13 == 0)
    dim_feed = dmov.select("ck", "seg", ctype("update_preimage")).unionByName(
        dmov.select("ck", F.lit("SHIFTED").alias("seg"), ctype("update_postimage"))
    )
    # (join_mv_delta checkpoints each signed feed itself, so the derived
    # stand-ins here are evaluated exactly once)
    fact_new = (
        fact0.filter(okey % 21 != 0)
        .withColumn(
            "amt",
            F.when(okey % 9 == 0, F.col("amt") * 2.0).otherwise(F.col("amt")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 41 == 0).select(
                (-(F.col("o_orderkey") + 1)).alias("okey"),
                F.col("o_custkey").alias("ck"),
                F.lit(123.0).alias("amt"),
            )
        )
    )
    # the stored view state production would hold (checkpointed so the
    # refresh plan cannot silently re-derive it from a base-join rescan)
    mv0 = build_mv(fact0.join(dim0, "ck"), ["seg"], ["amt"]).localCheckpoint(
        eager=True
    )
    mv1 = incremental_refresh_join(
        mv0, fact_feed, dim_feed, dim0, fact_new, "ck", ["seg"], ["amt"]
    )
    return mv1.select(
        "seg", "cnt", F.round("sum_amt", 2).alias("sum_amt")
    ).orderBy("seg")


# every violation count recomputed relationally; NULL passes range/set/
# regex (SQL CHECK convention); EVERY row of a duplicated key counts
@entry(oracle="""
SELECT 'not_null_text' AS rule,
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS violations,
       count(*) AS total
FROM documents
UNION ALL
SELECT 'in_range_n_chars',
       sum(CASE WHEN n_chars IS NOT NULL
                 AND (n_chars < 100 OR n_chars > 400)
            THEN 1 ELSE 0 END)::BIGINT,
       count(*)
FROM documents
UNION ALL
SELECT 'in_set_lang',
       sum(CASE WHEN lang IS NOT NULL
                 AND lang NOT IN ('en', 'fr', 'de')
            THEN 1 ELSE 0 END)::BIGINT,
       count(*)
FROM documents
UNION ALL
SELECT 'matches_text',
       sum(CASE WHEN text IS NOT NULL
                 AND NOT regexp_matches(text, 'data')
            THEN 1 ELSE 0 END)::BIGINT,
       count(*)
FROM documents
UNION ALL
SELECT 'unique_doc_id',
       sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT, sum(n)::BIGINT
FROM (SELECT count(*) AS n FROM documents GROUP BY doc_id)
ORDER BY rule
""", headline=True)
def q_doc_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations (operators/expectations.py): a
    declarative constraint set over documents — not-null, numeric range,
    value set, regex, and key uniqueness — validated as ONE
    conditional-aggregate scan for all row-level rules plus one grouped
    branch for uniqueness (the Delta Live Tables expect/expect_or_drop
    surface). The oracle recomputes every violation count relationally.
    Reference analog: none (vectors accepted unvalidated)."""
    from mlvectordb_spark.operators.expectations import (
        Expectations,
        in_range,
        in_set,
        matches,
        not_null,
    )

    docs = load_table(spark, sf_dir, "documents")
    exp = Expectations(
        [
            not_null("text"),
            in_range("n_chars", 100, 400),
            in_set("lang", ["en", "fr", "de"]),
            matches("text", "data"),
        ],
        unique_on=["doc_id"],
    )
    return exp.summary(docs).orderBy("rule")


# FK violations = non-NULL fact keys absent from the restricted dim;
# range/set follow the SQL CHECK NULL-passes convention
@entry(oracle="""
SELECT 'fk_o_custkey' AS rule,
       sum(CASE WHEN o_custkey IS NOT NULL AND o_custkey NOT IN (
             SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
            THEN 1 ELSE 0 END)::BIGINT AS violations,
       count(*) AS total
FROM orders
UNION ALL
SELECT 'in_range_o_totalprice',
       sum(CASE WHEN o_totalprice IS NOT NULL
                 AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)
            THEN 1 ELSE 0 END)::BIGINT,
       count(*)
FROM orders
UNION ALL
SELECT 'in_set_o_orderstatus',
       sum(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('O', 'F')
            THEN 1 ELSE 0 END)::BIGINT,
       count(*)
FROM orders
UNION ALL
SELECT 'unique_o_orderkey',
       sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT, sum(n)::BIGINT
FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
ORDER BY rule
""", headline=True)
def q_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity + constraint validation over orders
    (operators/expectations.py): range/set rules ride ONE
    conditional-aggregate scan; the FK check grafts a broadcast
    deduplicated key set of the (restricted) customer dim as a presence
    marker — the fact table is never shuffled; uniqueness adds the one
    key shuffle. The restricted dim (even custkeys only) makes orphans
    deterministic. Oracle recomputes every count relationally."""
    from mlvectordb_spark.operators.expectations import (
        Expectations,
        ForeignKey,
        in_range,
        in_set,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    ref = customer.filter(F.col("c_custkey") % 2 == 0)
    exp = Expectations(
        [
            in_range("o_totalprice", 0.0, 400000.0),
            in_set("o_orderstatus", ["O", "F"]),
        ],
        unique_on=["o_orderkey"],
        foreign_keys=[ForeignKey("o_custkey", ref, "c_custkey")],
    )
    return exp.summary(orders).orderBy("rule")


# the gated two-batch ingest, recomputed relationally: final table =
# latest CLEAN (price >= 0) row per key across both batches; quarantine =
# every dirty row from either batch. Same deterministic violation
# injection (%11 on batch-1/insert prices, %13 on batch-2 updates).
@entry(oracle="""
WITH src AS (
  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS p
  FROM orders WHERE o_orderkey % 10 < 3
), b1 AS (
  SELECT k, CASE WHEN k % 11 = 0 THEN -p ELSE p END AS price, 1 AS seq
  FROM src WHERE k % 2 = 0
), b2 AS (
  SELECT k, CASE WHEN k % 11 = 0 THEN -p ELSE p END AS price, 2 AS seq
  FROM src WHERE k % 2 = 1
  UNION ALL
  SELECT k, CASE WHEN k % 13 = 0 THEN -(p * 2) ELSE p * 2 END, 2
  FROM src WHERE k % 2 = 0 AND k % 4 = 0
), allr AS (
  SELECT * FROM b1 UNION ALL SELECT * FROM b2
), tbl AS (
  SELECT k, price FROM (
    SELECT k, price,
           row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM allr WHERE price >= 0
  ) WHERE rn = 1
)
SELECT 'table' AS side, k, price FROM tbl
UNION ALL
SELECT 'quarantine' AS side, k, price FROM allr WHERE price < 0
""")
def q_stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING expectations gate, driver-gated end-to-end (round-7
    verdict #8; `start_table_merge(expectations=, quarantine_dir=)`,
    streaming/merge_sink.py): a two-batch CDC ingest over orders-derived
    changes where rows violating `price >= 0` are quarantined BEFORE the
    merge — the expect_or_drop pattern. Violations are injected
    deterministically (keys %11 negate their batch-1/insert price; keys
    %13 negate their batch-2 update), so each input row must land
    EXACTLY ONCE on EXACTLY ONE side: the final table holds the latest
    CLEAN row per key (a dirty update leaves the prior clean value in
    place), the quarantine holds every dirty row. The answer unions both
    sides at ROW level — a row double-landed, dropped, or mis-routed
    breaks the value hash, not just the counts. Oracle recomputes both
    sides relationally from the same derivation."""
    import os
    import shutil

    from mlvectordb_spark.operators.expectations import Expectations, expect
    from mlvectordb_spark.streaming.merge_sink import (
        MergedTable,
        load_quarantine,
        start_table_merge,
    )

    base = _entry_tmpdir("squar")
    src = os.path.join(base, "src")
    os.makedirs(src)
    pick = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 < 3
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("p"),
    )
    dirty1 = F.when(F.col("k") % 11 == 0, -F.col("p")).otherwise(F.col("p"))
    b1 = pick.filter(F.col("k") % 2 == 0).select(
        "k", dirty1.alias("price"), F.lit(1).cast("long").alias("seq")
    )
    b2 = pick.filter(F.col("k") % 2 == 1).select(
        "k", dirty1.alias("price"), F.lit(2).cast("long").alias("seq")
    ).unionByName(
        pick.filter((F.col("k") % 2 == 0) & (F.col("k") % 4 == 0)).select(
            "k",
            F.when(F.col("k") % 13 == 0, -(F.col("p") * 2))
            .otherwise(F.col("p") * 2)
            .alias("price"),
            F.lit(2).cast("long").alias("seq"),
        )
    )
    # two file-source batches with pinned, strictly increasing mtimes
    # (the file source orders by mtime; maxFilesPerTrigger=1 makes each
    # file its own micro-batch)
    for i, b in enumerate((b1, b2)):
        wdir = os.path.join(base, f"w{i}")
        b.coalesce(1).write.parquet(wdir)
        part = next(
            f for f in os.listdir(wdir)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        dst = os.path.join(src, f"b{i}.parquet")
        shutil.move(os.path.join(wdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    table = MergedTable(spark, os.path.join(base, "table"), n_buckets=8)
    qdir = os.path.join(base, "quarantine")
    stream = (
        spark.readStream.schema("k long, price double, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    start_table_merge(
        stream,
        table,
        on="k",
        order_col="seq",
        checkpoint_dir=os.path.join(base, "ckpt"),
        query_name="q_stream_quarantine",
        expectations=Expectations(
            [expect("nonneg_price", F.col("price") >= 0)]
        ),
        quarantine_dir=qdir,
    ).awaitTermination()
    tbl = table.df().select(
        F.lit("table").alias("side"), "k", "price"
    )
    quar = load_quarantine(spark, qdir).select(
        F.lit("quarantine").alias("side"), "k", "price"
    )
    return tbl.unionByName(quar)


# multi-step CDC catch-up: v1 and v2 reconstructed relationally (the
# "unmatched non-delete source rows INSERT" merge semantics reappear as
# the v2 second branch — a key deleted in batch 1 and updated in batch 2
# is re-inserted), then v0 is diffed against v2 — exactly the net feed
# the recorded-step fold must produce
@entry(oracle="""
WITH v0 AS (
  SELECT o_orderkey AS id, o_totalprice AS val, 1::BIGINT AS seq
  FROM orders WHERE o_orderkey % 3 = 0
), upd1 AS (
  SELECT o_orderkey AS id, o_totalprice * 2.0 AS val, 2::BIGINT AS seq
  FROM orders WHERE o_orderkey % 9 = 0
), del1 AS (
  SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 21 = 0
), ins1 AS (
  SELECT -(o_orderkey + 1) AS id, 123.0 AS val, 2::BIGINT AS seq
  FROM orders WHERE o_orderkey % 41 = 0
), v1 AS (
  SELECT v0.id, COALESCE(u.val, v0.val) AS val, COALESCE(u.seq, v0.seq) AS seq
  FROM v0 LEFT JOIN upd1 u ON v0.id = u.id
  WHERE v0.id NOT IN (SELECT id FROM del1)
  UNION ALL
  SELECT id, val, seq FROM ins1
), upd2 AS (
  -- %39's seq-8 updates outrank both the %15 updates (seq 4) and the
  -- %33 deletes (seq 6) in the in-batch dedup, so %39 keys leave the
  -- %15 branch and %33∩%39 keys are NOT deleted
  SELECT o_orderkey AS id, o_totalprice * 4.0 AS val, 4::BIGINT AS seq
  FROM orders WHERE o_orderkey % 15 = 0 AND o_orderkey % 39 <> 0
  UNION ALL
  SELECT o_orderkey, o_totalprice * 8.0, 8::BIGINT
  FROM orders WHERE o_orderkey % 39 = 0
  UNION ALL
  SELECT -(o_orderkey + 1), 777.0, 4::BIGINT
  FROM orders WHERE o_orderkey % 82 = 0
), del2 AS (
  SELECT o_orderkey AS id FROM orders
  WHERE o_orderkey % 33 = 0 AND o_orderkey % 39 <> 0
  UNION ALL
  SELECT -(o_orderkey + 1) FROM orders WHERE o_orderkey % 123 = 0
), v2 AS (
  SELECT v1.id, COALESCE(u.val, v1.val) AS val, COALESCE(u.seq, v1.seq) AS seq
  FROM v1 LEFT JOIN upd2 u ON v1.id = u.id
  WHERE v1.id NOT IN (SELECT id FROM del2)
  UNION ALL
  SELECT u.id, u.val, u.seq FROM upd2 u
  WHERE u.id NOT IN (SELECT id FROM v1)
    AND u.id NOT IN (SELECT id FROM del2)
)
SELECT COALESCE(n.id, o.id)::BIGINT AS id,
  COALESCE(n.val, o.val) AS val,
  COALESCE(n.seq, o.seq)::BIGINT AS seq,
  CASE WHEN o.id IS NULL THEN 'insert'
       WHEN n.id IS NULL THEN 'delete'
       ELSE 'update' END AS _change_type
FROM v0 o FULL JOIN v2 n ON o.id = n.id
WHERE o.id IS NULL OR n.id IS NULL OR o.val <> n.val OR o.seq <> n.seq
ORDER BY id
""")
def q_table_cdf_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-version CDC catch-up: three recorded merge batches, then the
    composed (v0 → v2) change feed — served by folding the two recorded
    step feeds key-wise (streaming/merge_sink.py `_compose_recorded`),
    zero table bytes. The oracle reconstructs v1 and v2 relationally and
    diffs v0 against v2, so the fold's netting algebra is driver-gated:
    update chains collapse to the final value, update-then-delete
    reports the ORIGINAL values, delete-then-reinsert nets to an update,
    and in-batch update∩delete ties resolve by the higher seq."""

    from mlvectordb_spark.streaming.merge_sink import (
        MergedTable,
        apply_merge_batch,
        table_changes,
    )

    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")

    def mk(flt, idc, valc, seq, deleted):
        return orders.filter(flt).select(
            idc.alias("id"),
            valc.alias("val"),
            F.lit(seq).cast("bigint").alias("seq"),
            F.lit(deleted).alias("deleted"),
        )

    b0 = mk(key % 3 == 0, key, F.col("o_totalprice"), 1, False)
    b1 = (
        mk(key % 9 == 0, key, F.col("o_totalprice") * 2.0, 2, False)
        .unionByName(mk(key % 21 == 0, key, F.lit(0.0), 3, True))
        .unionByName(mk(key % 41 == 0, -(key + 1), F.lit(123.0), 2, False))
    )
    # the %39 family updates with seq 8 — HIGHER than the %33 deletes'
    # seq 6 — so %33∩%39 keys gate the update-outranks-delete tie
    # direction (the %15∩%33 overlap gates delete-outranks-update)
    b2 = (
        mk(key % 15 == 0, key, F.col("o_totalprice") * 4.0, 4, False)
        .unionByName(mk(key % 39 == 0, key, F.col("o_totalprice") * 8.0, 8, False))
        .unionByName(mk(key % 82 == 0, -(key + 1), F.lit(777.0), 4, False))
        .unionByName(mk(key % 33 == 0, key, F.lit(0.0), 6, True))
        .unionByName(mk(key % 123 == 0, -(key + 1), F.lit(0.0), 6, True))
    )
    table = MergedTable(
        spark, _entry_tmpdir("cdfm"), n_buckets=16
    )
    for i, b in enumerate([b0, b1, b2]):
        apply_merge_batch(
            table, b, i, "id", "seq", "deleted", record_changes=True
        )
    return table_changes(table, 0, 2, on="id").orderBy("id")


# SCD2 fold reconstructed relationally: chg1 = batch-1 status changes,
# chg2 = batch-2 rows that actually differ from the then-current version
# (original-'P' rows are no-ops). Four row families: original rows (closed
# by whichever batch touched them first), version-2 rows opened by batch 1
# (closed by batch 2 iff key%14), version-3 rows from batch 2, fresh keys.
@entry(oracle="""
WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_orderdate AS TIMESTAMP) AS ts
  FROM orders
), chg1 AS (
  SELECT k, ts + INTERVAL 30 DAY AS t1 FROM o
  WHERE k % 7 = 0 AND status = 'O'
), chg2 AS (
  SELECT k, ts + INTERVAL 90 DAY AS t2 FROM o
  WHERE k % 14 = 0 AND status IN ('O', 'F')
)
SELECT o.k, o.status, o.ts AS valid_from,
  CASE WHEN c1.k IS NOT NULL THEN c1.t1
       WHEN c2.k IS NOT NULL AND o.status = 'F' THEN c2.t2
       ELSE CAST(NULL AS TIMESTAMP) END AS valid_to,
  (c1.k IS NULL AND NOT (c2.k IS NOT NULL AND o.status = 'F'))
    AS is_current
FROM o
LEFT JOIN chg1 c1 ON o.k = c1.k
LEFT JOIN chg2 c2 ON o.k = c2.k
UNION ALL
SELECT c1.k, 'F', c1.t1,
  CASE WHEN c2.k IS NOT NULL THEN c2.t2 END,
  c2.k IS NULL
FROM chg1 c1 LEFT JOIN chg2 c2 ON c1.k = c2.k
UNION ALL
SELECT k, 'P', t2, CAST(NULL AS TIMESTAMP), TRUE FROM chg2
UNION ALL
SELECT -o.k, 'N', o.ts + INTERVAL 60 DAY, CAST(NULL AS TIMESTAMP), TRUE
FROM o WHERE o.k % 13 = 0 AND o.k <> 0
ORDER BY k, valid_from
""")
def q_scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history fold (operators/scd.py): two update batches
    applied to an orders-derived dimension. Batch 1 exercises every
    clause at once — status changes ('O'→'F' for key%7), no-op updates
    (key%11 rows re-asserting their current 'F'), and brand-new keys
    (negated key%13, status 'N'); batch 2 then re-updates key%14 rows to
    'P', which closes BOTH first-generation rows and the version-2 rows
    batch 1 opened (and no-ops against original-'P' rows). The oracle
    reconstructs the full (key, status, valid_from, valid_to, is_current)
    history relationally, so the anti-join/union/close machinery is gated
    bit-for-bit including timestamp arithmetic and null-safe no-op
    detection.

    Scale shape: each apply is one broadcast join of the (small) update
    batch against current rows plus one anti-join for fresh keys — the
    dimension itself is never shuffled."""
    from mlvectordb_spark.operators.scd import scd2_apply, scd2_init

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )
    hist = scd2_init(o, "ts")
    chg1 = o.filter((F.col("k") % 7 == 0) & (F.col("status") == "O")).select(
        "k",
        F.lit("F").alias("status"),
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
    )
    noop = o.filter((F.col("k") % 11 == 0) & (F.col("status") == "F")).select(
        "k", "status", (F.col("ts") + F.expr("INTERVAL 5 DAYS")).alias("ts")
    )
    # k=0 exists in orders and -0 == 0 would collide with it, turning the
    # "fresh key" into a regular update — keep the families disjoint
    fresh = o.filter((F.col("k") % 13 == 0) & (F.col("k") != 0)).select(
        (-F.col("k")).alias("k"),
        F.lit("N").alias("status"),
        (F.col("ts") + F.expr("INTERVAL 60 DAYS")).alias("ts"),
    )
    b1 = chg1.unionByName(noop).unionByName(fresh)
    b2 = o.filter(F.col("k") % 14 == 0).select(
        "k",
        F.lit("P").alias("status"),
        (F.col("ts") + F.expr("INTERVAL 90 DAYS")).alias("ts"),
    )
    # the history IS stored state between batches: materialize it after
    # each fold, as production would. Without this the second apply's
    # four history references re-execute the whole first-apply lineage
    # per branch — the lazy chain explodes to ~49 scans of orders
    # (scan-budget-asserted in test_plan_quality)
    hist = scd2_apply(hist, b1, "k", "ts", ["status"]).localCheckpoint(
        eager=True
    )
    hist = scd2_apply(hist, b2, "k", "ts", ["status"])
    return hist.orderBy("k", "valid_from")
