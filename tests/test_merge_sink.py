"""Streaming CDC → merged table (streaming/merge_sink.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from mlvectordb_spark.streaming.merge_sink import (
    MergedTable,
    start_table_merge,
)

CDC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("val", T.DoubleType(), True),
        T.StructField("seq", T.LongType(), False),
        T.StructField("deleted", T.BooleanType(), False),
    ]
)


def _write_batches(src, batches):
    import os
    import time

    base = time.time() - 1000
    for i, rows in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        # the file source orders batches by mtime; sub-ms writes tie and
        # the tie-break is arbitrary — pin strictly increasing mtimes
        os.utime(p, (base + i, base + i))


def test_cdc_stream_merges_into_table(spark, tmp_path):
    src = tmp_path / "cdc"
    src.mkdir()
    _write_batches(
        src,
        [
            # b0: bootstrap inserts (incl. an in-batch dup: seq 2 wins)
            [
                {"id": 1, "val": 10.0, "seq": 1, "deleted": False},
                {"id": 2, "val": 20.0, "seq": 1, "deleted": False},
                {"id": 2, "val": 21.0, "seq": 2, "deleted": False},
                {"id": 3, "val": 30.0, "seq": 1, "deleted": False},
            ],
            # b1: update 2 (latest-in-batch wins), delete 3, insert 4,
            # delete-never-existed 99 (must not ghost-insert)
            [
                {"id": 2, "val": 22.0, "seq": 3, "deleted": False},
                {"id": 2, "val": 23.0, "seq": 4, "deleted": False},
                {"id": 3, "val": 0.0, "seq": 5, "deleted": True},
                {"id": 4, "val": 40.0, "seq": 6, "deleted": False},
                {"id": 99, "val": 0.0, "seq": 7, "deleted": True},
            ],
            # b2: re-insert a previously deleted key
            [{"id": 3, "val": 33.0, "seq": 8, "deleted": False}],
        ],
    )
    table = MergedTable(spark, str(tmp_path / "table"))
    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_table_merge(
        stream,
        table,
        on="id",
        order_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="t_merge_sink",
        delete_col="deleted",
    )
    q.awaitTermination()

    got = {r["id"]: (r["val"], r["seq"]) for r in table.df().collect()}
    assert got == {
        1: (10.0, 1),
        2: (23.0, 4),
        3: (33.0, 8),
        4: (40.0, 6),
    }
    # delete marker column stays out of the table
    assert "deleted" not in table.df().columns
    # versions advanced monotonically with batch ids
    assert table.current_version() == 2


def test_out_of_order_batch_cannot_overwrite_newer(spark, tmp_path):
    """CDC monotonicity guard: a late-arriving OLDER batch must not
    clobber newer rows (the equal-mtime file-tie failure mode)."""
    from mlvectordb_spark.streaming.merge_sink import apply_merge_batch

    table = MergedTable(spark, str(tmp_path / "table"))
    newer = spark.createDataFrame(
        [(1, 5.0, 10, False)], "id bigint, val double, seq bigint, deleted boolean"
    )
    older = spark.createDataFrame(
        [(1, 1.0, 3, False), (2, 2.0, 4, False), (1, 0.0, 5, True)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    apply_merge_batch(table, newer, 0, "id", "seq", "deleted")
    apply_merge_batch(table, older, 1, "id", "seq", "deleted")
    got = {r["id"]: (r["val"], r["seq"]) for r in table.df().collect()}
    # id=1: late batch's update AND delete (both seq < 10) are ignored;
    # id=2: genuinely new key inserts fine
    assert got == {1: (5.0, 10), 2: (2.0, 4)}


def test_replay_of_published_batch_is_skipped(spark, tmp_path):
    """foreachBatch retry after the pointer flip (crash before checkpoint
    commit) must NOT re-apply: doing so would overwrite v{B} while the
    merge plan reads it, deleting the live files (code-review regression —
    previously FileNotFoundException + data loss)."""
    from mlvectordb_spark.streaming.merge_sink import apply_merge_batch

    table = MergedTable(spark, str(tmp_path / "table"))
    b0 = spark.createDataFrame(
        [(1, 1.0, 1, False)], "id bigint, val double, seq bigint, deleted boolean"
    )
    b1 = spark.createDataFrame(
        [(2, 2.0, 2, False)], "id bigint, val double, seq bigint, deleted boolean"
    )
    apply_merge_batch(table, b0, 0, "id", "seq", "deleted")
    apply_merge_batch(table, b1, 1, "id", "seq", "deleted")
    # replay batch 1 (already published) — must be a no-op, not a crash
    apply_merge_batch(table, b1, 1, "id", "seq", "deleted")
    assert table.current_version() == 1
    got = {r["id"]: r["val"] for r in table.df().collect()}
    assert got == {1: 1.0, 2: 2.0}


def test_table_changes_feed(spark, tmp_path):
    """CDC-out: full-outer snapshot diff classifies insert/update/delete
    and drops unchanged rows."""
    from mlvectordb_spark.streaming.merge_sink import (
        apply_merge_batch,
        table_changes,
    )

    table = MergedTable(spark, str(tmp_path / "table"))
    b0 = spark.createDataFrame(
        [(1, 1.0, 1, False), (2, 2.0, 1, False), (3, 3.0, 1, False)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    b1 = spark.createDataFrame(
        [(2, 20.0, 2, False), (3, 0.0, 2, True), (4, 4.0, 2, False)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    apply_merge_batch(table, b0, 0, "id", "seq", "deleted")
    apply_merge_batch(table, b1, 1, "id", "seq", "deleted")
    feed = table_changes(table, 0, 1, on="id")
    got = {r["id"]: (r["val"], r["_change_type"]) for r in feed.collect()}
    # id=1 unchanged -> absent; delete carries the FROM-version's values
    assert got == {
        2: (20.0, "update"),
        3: (3.0, "delete"),
        4: (4.0, "insert"),
    }
    with pytest.raises(ValueError, match="published"):
        table_changes(MergedTable(spark, str(tmp_path / "empty")), 0)


def _bucket_of(spark, ids, n_buckets):
    from pyspark.sql import functions as F

    rows = spark.createDataFrame([(i,) for i in ids], "id bigint").select(
        F.pmod(F.xxhash64("id"), F.lit(n_buckets)).cast("int").alias("b")
    )
    return {r["b"] for r in rows.collect()}


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """File-level CoW: a 2-key batch over a 64-key table rewrites only
    the keys' bucket directories; every other bucket is hard-linked
    forward (identical inodes), and semantics match the unbucketed path."""
    import os

    from mlvectordb_spark.streaming.merge_sink import apply_merge_batch

    table = MergedTable(spark, str(tmp_path / "t"), n_buckets=8)
    b0 = spark.createDataFrame(
        [(i, float(i), 1, False) for i in range(64)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    b1 = spark.createDataFrame(
        [(5, 500.0, 2, False), (7, 0.0, 2, True), (100, 1.0, 2, False)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    apply_merge_batch(table, b0, 0, "id", "seq", "deleted")
    apply_merge_batch(table, b1, 1, "id", "seq", "deleted")

    got = {r["id"]: r["val"] for r in table.df().collect()}
    want = {i: float(i) for i in range(64) if i != 7}
    want[5] = 500.0
    want[100] = 1.0
    assert got == want
    assert "__bucket" not in table.df().columns

    touched = _bucket_of(spark, [5, 7, 100], 8)
    v0, v1 = table._bucket_dirs(0), table._bucket_dirs(1)
    assert set(v0) == set(range(8))  # 64 keys cover all 8 buckets
    for k in range(8):
        inodes0 = {
            os.stat(os.path.join(v0[k], f)).st_ino for f in os.listdir(v0[k])
        }
        inodes1 = {
            os.stat(os.path.join(v1[k], f)).st_ino for f in os.listdir(v1[k])
        }
        if k in touched:
            assert inodes0.isdisjoint(inodes1), f"bucket {k} not rewritten"
        else:
            assert inodes0 == inodes1, f"bucket {k} copied, not linked"


def test_bucketed_table_changes_prunes_shared_buckets(spark, tmp_path):
    """The CDF over a bucketed table reads only diverged buckets yet
    reports exactly the same feed as the full diff."""
    from mlvectordb_spark.streaming.merge_sink import (
        apply_merge_batch,
        table_changes,
    )

    table = MergedTable(spark, str(tmp_path / "t"), n_buckets=8)
    b0 = spark.createDataFrame(
        [(i, float(i), 1, False) for i in range(64)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    b1 = spark.createDataFrame(
        [(5, 500.0, 2, False), (7, 0.0, 2, True)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    apply_merge_batch(table, b0, 0, "id", "seq", "deleted")
    apply_merge_batch(table, b1, 1, "id", "seq", "deleted")
    feed = table_changes(table, 0, 1, on="id")
    got = {r["id"]: (r["val"], r["_change_type"]) for r in feed.collect()}
    assert got == {5: (500.0, "update"), 7: (7.0, "delete")}
    # the pruning is DIRECTORY-level (PartitionFilters on __bucket), not a
    # row filter after a full scan — both version scans must carry it
    import re

    plan = feed._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[[^\]]*__bucket[^\]]*\]", plan)
    assert len(pf) >= 2, plan
    # the pruned plan scans only the diverged buckets
    n_scanned = feed.count()
    touched = _bucket_of(spark, [5, 7], 8)
    raw0 = table._raw_at(0)
    full = raw0.count()
    pruned = raw0.filter(raw0["__bucket"].isin(list(touched))).count()
    assert pruned < full  # partition pruning has something to save
    assert n_scanned == 2


def test_bucketed_all_delete_bootstrap_stays_readable(spark, tmp_path):
    """A bucketed write whose result is EMPTY (bootstrap of pure delete
    markers) must still publish a readable version: partitionBy alone
    writes no schema-bearing files, which used to poison every later
    read and retry with UNABLE_TO_INFER_SCHEMA."""
    from mlvectordb_spark.streaming.merge_sink import apply_merge_batch

    table = MergedTable(spark, str(tmp_path / "t"), n_buckets=4)
    dels = spark.createDataFrame(
        [(1, 0.0, 1, True), (2, 0.0, 1, True)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    apply_merge_batch(table, dels, 0, "id", "seq", "deleted")
    assert table.current_version() == 0
    assert table.df().count() == 0
    # the table recovers: a later real batch applies normally
    b1 = spark.createDataFrame(
        [(3, 3.0, 2, False)], "id bigint, val double, seq bigint, deleted boolean"
    )
    apply_merge_batch(table, b1, 1, "id", "seq", "deleted")
    assert {r["id"]: r["val"] for r in table.df().collect()} == {3: 3.0}


def test_bucket_count_persisted_and_validated(spark, tmp_path):
    """n_buckets is part of the on-disk layout: reopening with a
    different modulus must fail loudly (pruning against the wrong mod
    silently duplicates keys), and n_buckets=None adopts the stored
    value."""
    from mlvectordb_spark.streaming.merge_sink import apply_merge_batch

    path = str(tmp_path / "t")
    table = MergedTable(spark, path, n_buckets=8)
    b0 = spark.createDataFrame(
        [(i, float(i), 1, False) for i in range(32)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    apply_merge_batch(table, b0, 0, "id", "seq", "deleted")
    with pytest.raises(ValueError, match="n_buckets"):
        MergedTable(spark, path, n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets"):
        MergedTable(spark, path, n_buckets=0)
    reopened = MergedTable(spark, path)  # adopts on-disk value
    assert reopened.n_buckets == 8
    b1 = spark.createDataFrame(
        [(0, 999.0, 2, False)], "id bigint, val double, seq bigint, deleted boolean"
    )
    apply_merge_batch(reopened, b1, 1, "id", "seq", "deleted")
    got = {r["id"]: r["val"] for r in reopened.df().collect()}
    assert got[0] == 999.0 and len(got) == 32  # updated in place, no dup


def test_recorded_feed_matches_snapshot_diff(spark, tmp_path):
    """record_changes=True derives the feed from the merge's own join;
    it must agree row-for-row with the snapshot diff in BOTH forms —
    including the silent cases: stale rows the monotonicity guard
    rejects, value-identical updates, deletes of absent keys."""
    from mlvectordb_spark.streaming.merge_sink import (
        apply_merge_batch,
        table_changes,
    )

    b0 = spark.createDataFrame(
        [(i, float(i), 5, False) for i in range(16)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    b1 = spark.createDataFrame(
        [
            (1, 111.0, 6, False),  # real update
            (2, 2.0, 5, False),    # value-identical, same seq: no-op
            (3, 999.0, 4, False),  # STALE (seq 4 < 5): guard rejects
            (4, 0.0, 6, True),     # delete
            (99, 9.9, 6, False),   # insert
            (98, 0.0, 6, True),    # delete of absent key: nothing
        ],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    tables = {}
    for label, rec in (("rec", True), ("diff", False)):
        t = MergedTable(spark, str(tmp_path / label), n_buckets=4)
        apply_merge_batch(t, b0, 0, "id", "seq", "deleted", record_changes=rec)
        apply_merge_batch(t, b1, 1, "id", "seq", "deleted", record_changes=rec)
        tables[label] = t
    assert tables["rec"].has_recorded_changes(1)
    assert not tables["diff"].has_recorded_changes(1)

    def rows(t, preimage):
        feed = table_changes(t, 0, 1, on="id", preimage=preimage)
        return sorted(
            (r["id"], r["val"], r["seq"], r["_change_type"])
            for r in feed.collect()
        )

    for preimage in (True, False):
        got = rows(tables["rec"], preimage)
        want = rows(tables["diff"], preimage)
        assert got == want, (got, want)
    assert rows(tables["rec"], True) == [
        (1, 1.0, 5, "update_preimage"),
        (1, 111.0, 6, "update_postimage"),
        (4, 4.0, 5, "delete"),
        (99, 9.9, 6, "insert"),
    ]
    # bootstrap feed: every surviving row as an insert
    rec0 = spark.read.parquet(tables["rec"]._cdir(0))
    assert rec0.count() == 16
    assert rec0.select("_change_type").distinct().collect()[0][0] == "insert"


def test_recording_validation_orphans_and_sparse_versions(spark, tmp_path):
    """A recording is served only for (published-predecessor →
    published-version) pairs: an orphan recording from a crash before
    the pointer flip must not surface. Version allocation is GAPLESS
    (the optimistic-concurrency CAS requires it): sparse BATCH numbering
    (0 then 5) still yields contiguous versions 0 and 1, with the batch
    id carried in the watermark, not the version number."""
    import os

    from mlvectordb_spark.streaming.merge_sink import (
        apply_merge_batch,
        table_changes,
    )

    table = MergedTable(spark, str(tmp_path / "t"), n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, float(i), 1, False) for i in range(8)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    b5 = spark.createDataFrame(
        [(1, 100.0, 2, False)], "id bigint, val double, seq bigint, deleted boolean"
    )
    apply_merge_batch(table, b0, 0, "id", "seq", "deleted", record_changes=True)
    apply_merge_batch(table, b5, 5, "id", "seq", "deleted", record_changes=True)
    # gapless versions, batch-id watermark decoupled
    assert table._published() == (1, 5)
    feed = table_changes(table, 0, 1, on="id", preimage=True)
    assert all("/_changes/" in f for f in feed.inputFiles())
    got = {(r["id"], r["_change_type"]) for r in feed.collect()}
    assert got == {(1, "update_preimage"), (1, "update_postimage")}
    # orphan recording for an UNPUBLISHED version: never served, and the
    # snapshot-diff fallback fails loudly on the missing version dir
    os.makedirs(table._cdir(7))
    with open(os.path.join(table._cdir(7), "part-orphan.parquet"), "w") as f:
        f.write("")
    with pytest.raises(Exception):
        table_changes(table, 1, 7, on="id").collect()


def test_composed_recorded_feeds_match_snapshot_diff(spark, tmp_path):
    """Catching up over SEVERAL versions folds the recorded step feeds
    key-wise (zero table bytes) and must net out exactly like the
    snapshot diff: update chains collapse, round-trips and
    insert-then-delete vanish, update-then-delete reports the ORIGINAL
    values, delete-then-reinsert nets to an update."""
    import shutil

    from mlvectordb_spark.streaming.merge_sink import (
        apply_merge_batch,
        table_changes,
    )

    S = "id bigint, val double, seq bigint, deleted boolean"
    table = MergedTable(spark, str(tmp_path / "t"), n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, float(i), 1, False) for i in range(10)], S
    )
    b1 = spark.createDataFrame(
        [
            (1, 100.0, 2, False),  # chain step 1
            (2, 222.0, 2, False),  # round-trip step 1
            (50, 5.0, 2, False),   # insert (later updated)
            (51, 6.0, 2, False),   # insert (later deleted)
            (3, 0.0, 2, True),     # delete (later re-inserted, new val)
            (4, 333.0, 2, False),  # update (later deleted)
        ],
        S,
    )
    b2 = spark.createDataFrame(
        [
            (1, 101.0, 3, False),  # chain step 2
            (2, 2.0, 3, False),    # round-trip back to original
            (50, 55.0, 3, False),  # update the fresh insert
            (51, 0.0, 3, True),    # delete the fresh insert
            (3, 3333.0, 3, False), # re-insert with a new value
            (4, 0.0, 3, True),     # delete the updated key
            (9, 0.0, 3, True),     # plain delete
        ],
        S,
    )
    for i, b in enumerate([b0, b1, b2]):
        apply_merge_batch(table, b, i, "id", "seq", "deleted", record_changes=True)

    composed = table_changes(table, 0, 2, on="id", preimage=True)
    assert all("/_changes/" in f for f in composed.inputFiles())
    rows = lambda df: sorted(
        (r["id"], r["val"], r["seq"], r["_change_type"]) for r in df.collect()
    )
    got = rows(composed)
    assert got == [
        (1, 1.0, 1, "update_preimage"),
        (1, 101.0, 3, "update_postimage"),
        # key 2's val round-trips back to 2.0, but seq is a payload
        # column and moved 1→3, so it nets to an update — exactly what
        # the snapshot diff reports too
        (2, 2.0, 1, "update_preimage"),
        (2, 2.0, 3, "update_postimage"),
        (3, 3.0, 1, "update_preimage"),
        (3, 3333.0, 3, "update_postimage"),
        (4, 4.0, 1, "delete"),  # original values, not the mid-chain 333
        (9, 9.0, 1, "delete"),
        (50, 55.0, 3, "insert"),  # net insert carries the FINAL values
    ]
    # parity with the snapshot diff, both forms (hide recordings to
    # force the diff path on the same table)
    post_composed = rows(table_changes(table, 0, 2, on="id"))
    shutil.move(
        str(tmp_path / "t" / "_changes"), str(tmp_path / "t" / "_aside")
    )
    assert rows(table_changes(table, 0, 2, on="id", preimage=True)) == got
    assert rows(table_changes(table, 0, 2, on="id")) == post_composed


def test_recorded_feed_refresh_reads_no_table_bytes(spark, tmp_path):
    """With a recorded feed, the MV refresh plan must not scan ANY
    version directory — its only parquet input is the batch-sized
    _changes recording."""
    from mlvectordb_spark.operators.mv import build_mv, incremental_refresh
    from mlvectordb_spark.streaming.merge_sink import (
        apply_merge_batch,
        table_changes,
    )

    t = MergedTable(spark, str(tmp_path / "t"), n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, "g" + str(i % 2), float(i), 1, False) for i in range(8)],
        "id bigint, g string, val double, seq bigint, deleted boolean",
    )
    b1 = spark.createDataFrame(
        [(3, "g1", 33.0, 2, False)],
        "id bigint, g string, val double, seq bigint, deleted boolean",
    )
    apply_merge_batch(t, b0, 0, "id", "seq", "deleted", record_changes=True)
    mv0 = build_mv(t.df_at(0), ["g"], ["val"]).localCheckpoint(eager=True)
    apply_merge_batch(t, b1, 1, "id", "seq", "deleted", record_changes=True)
    feed = table_changes(t, 0, 1, on="id", preimage=True)
    refreshed = incremental_refresh(mv0, feed, ["g"], ["val"])
    full = build_mv(t.df_at(1), ["g"], ["val"])
    as_d = lambda df: {
        r["g"]: (r["cnt"], r["sum_val"]) for r in df.collect()
    }
    assert as_d(refreshed) == as_d(full)
    # the actual input-file set: every file read is part of the
    # _changes recording, no version directory contributes bytes
    files = refreshed.inputFiles()
    assert files and all("/_changes/" in f for f in files), files


def test_vacuum_keeps_current_version_readable(spark, tmp_path):
    """vacuum drops old version dirs; hard-linked files shared with the
    current version survive the removal."""
    from mlvectordb_spark.streaming.merge_sink import apply_merge_batch

    table = MergedTable(spark, str(tmp_path / "t"), n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, float(i), 1, False) for i in range(16)],
        "id bigint, val double, seq bigint, deleted boolean",
    )
    b1 = spark.createDataFrame(
        [(3, 33.0, 2, False)], "id bigint, val double, seq bigint, deleted boolean"
    )
    b2 = spark.createDataFrame(
        [(4, 44.0, 3, False)], "id bigint, val double, seq bigint, deleted boolean"
    )
    for i, b in enumerate([b0, b1, b2]):
        apply_merge_batch(table, b, i, "id", "seq", "deleted")
    assert table.versions() == [0, 1, 2]
    removed = table.vacuum(retain_last=1)
    assert removed == [0, 1]
    assert table.versions() == [2]
    got = {r["id"]: r["val"] for r in table.df().collect()}
    want = {i: float(i) for i in range(16)}
    want[3], want[4] = 33.0, 44.0
    assert got == want


def test_vacuum_sweeps_only_stale_stages(spark, tmp_path):
    """vacuum removes the staging dirs and staged change recordings that
    crashed writers stranded once they are an hour old (the
    `commit.sweep_stale` rule index saves share); younger ones may be a
    live writer's and stay."""
    import os
    import time

    from mlvectordb_spark.streaming.merge_sink import apply_merge_batch

    path = str(tmp_path / "t")
    table = MergedTable(spark, path, n_buckets=2)
    apply_merge_batch(
        table,
        spark.createDataFrame(
            [(1, 1.0, 1, False)], "id bigint, val double, seq bigint, deleted boolean"
        ),
        0, "id", "seq", "deleted",
    )
    changes = os.path.join(path, "_changes")
    stale = [os.path.join(path, ".staging_old"), os.path.join(changes, "v9.w-old")]
    live = [os.path.join(path, ".staging_new"), os.path.join(changes, "v9.w-new")]
    past = time.time() - 7200
    for d in stale + live:
        os.makedirs(d)
    for d in stale:
        os.utime(d, (past, past))
    table.vacuum(retain_last=1)
    assert [os.path.exists(d) for d in stale + live] == [False, False, True, True]
    with pytest.raises(ValueError):
        table.vacuum(retain_last=0)


def test_streaming_materialized_view_stays_fresh(spark, tmp_path):
    """End-to-end streaming IVM: a file-source CDC stream merges into a
    bucketed table with per-batch CDF recording, and the on_version hook
    refreshes a SUM/COUNT view from each recorded feed — the view tracks
    every published version without ever rescanning the table, and the
    final state equals a from-scratch rebuild."""
    from mlvectordb_spark.operators.mv import build_mv, incremental_refresh
    from mlvectordb_spark.streaming.merge_sink import table_changes

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("g", T.StringType(), False),
            T.StructField("val", T.DoubleType(), False),
            T.StructField("seq", T.LongType(), False),
            T.StructField("deleted", T.BooleanType(), False),
        ]
    )
    src = tmp_path / "cdc"
    src.mkdir()
    _write_batches(
        src,
        [
            [
                {"id": i, "g": f"g{i % 3}", "val": float(i), "seq": 1,
                 "deleted": False}
                for i in range(12)
            ],
            [
                {"id": 3, "g": "g0", "val": 300.0, "seq": 2, "deleted": False},
                {"id": 4, "g": "g1", "val": 0.0, "seq": 2, "deleted": True},
            ],
            [
                {"id": 50, "g": "g9", "val": 5.0, "seq": 3, "deleted": False},
            ],
        ],
    )
    table = MergedTable(spark, str(tmp_path / "table"), n_buckets=4)
    state: dict = {"mv": None, "versions": []}

    def refresh(version: int) -> None:
        state["versions"].append(version)
        if state["mv"] is None:
            mv = build_mv(table.df_at(version), ["g"], ["val"])
        else:
            feed = table_changes(
                table, version - 1, version, on="id", preimage=True
            )
            assert table.has_recorded_changes(version)
            mv = incremental_refresh(state["mv"], feed, ["g"], ["val"])
        state["mv"] = mv.localCheckpoint(eager=True)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = start_table_merge(
        stream,
        table,
        on="id",
        order_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="t_merge_sink_stream_mv",
        delete_col="deleted",
        record_changes=True,
        on_version=refresh,
    )
    q.awaitTermination()
    assert state["versions"] == [0, 1, 2]
    as_d = lambda df: {
        r["g"]: (r["cnt"], r["sum_val"]) for r in df.collect()
    }
    assert as_d(state["mv"]) == as_d(
        build_mv(table.df(), ["g"], ["val"])
    )
    assert as_d(state["mv"])["g9"] == (1, 5.0)  # group born mid-stream


def test_restart_does_not_reapply(spark, tmp_path):
    src = tmp_path / "cdc"
    src.mkdir()
    _write_batches(
        src, [[{"id": 1, "val": 1.0, "seq": 1, "deleted": False}]]
    )
    table = MergedTable(spark, str(tmp_path / "table"))

    def run():
        stream = (
            spark.readStream.schema(CDC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = start_table_merge(
            stream,
            table,
            on="id",
            order_col="seq",
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="t_merge_sink_restart",
            delete_col="deleted",
        )
        q.awaitTermination()

    run()
    v1 = table.current_version()
    # restart with no new files: checkpoint prevents re-application
    run()
    assert table.current_version() == v1
    # new file after restart: applied on top
    (src / "b9.json").write_text(
        json.dumps({"id": 1, "val": 2.0, "seq": 9, "deleted": False})
    )
    run()
    got = {r["id"]: r["val"] for r in table.df().collect()}
    assert got == {1: 2.0}
