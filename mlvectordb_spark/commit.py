"""Commit primitives shared by `VectorStore` (operators/store.py),
`MergedTable` (streaming/merge_sink.py), every index family's save/load
(operators/ann.py, graph_ann.py, quantize.py) and the streaming
curation states (operators/dsir.py, pca.py): the optimistic-concurrency
error, one atomic-publish helper, one durable-file publish, the
stale-stage sweep, and the versioned generation commit that index
persistence rides on. Each caller keeps its own record formats."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid

STAGE_PREFIX = ".staging_"
# a live writer holds its stage for seconds; one older than this was
# stranded by a crashed writer
STALE_STAGE_SEC = 3600.0
# the driver-side state document inside every committed index generation
STATE_FILE = "state.json"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed first.

    Raised when the optimistic-concurrency check fails: the commit number
    (store), version (`MergedTable.write_version`, and everything above
    it: `apply_merge_batch`, `optimize`, a running `start_table_merge`
    stream) or index generation (`commit_generation`) this writer
    allocated against its base snapshot was published by someone else
    between the base read and the publish. The losing writer's work is
    discarded and the target is left exactly as the winner published
    it — the lost update becomes an explicit retryable error, the analog
    of Delta's commit conflict check. Retry by re-reading and
    re-applying."""


def publish(path: str, text: str, exclusive: bool = False) -> bool:
    """Make `path` hold `text` in one atomic step: the text is written to
    a temp file in the same directory, which then replaces `path`
    (`os.replace`), so a reader sees the old content or the new, never a
    truncated file. `exclusive=True` publishes with `os.link` instead,
    which fails when `path` exists: returns False then, and `path` keeps
    the other writer's content."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".tmp_")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(text)
        if not exclusive:
            os.replace(tmp, path)
            return True
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        return True
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def publish_durable(path: str, write) -> None:
    """Make `path` hold what `write(fh)` writes to a binary file, durably:
    the bytes go to a staged sibling that is fsynced BEFORE `os.replace`
    puts it over `path`, then the directory entry is fsynced. Without the
    first fsync an OS crash can commit the new directory entry over the
    last good file while the new file's blocks were never written —
    `os.replace` alone is atomic against process crashes, not power
    loss."""
    stage = f"{path}{STAGE_PREFIX}{uuid.uuid4().hex}"
    try:
        with open(stage, "wb") as fh:
            write(fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(stage, path)
    finally:
        if os.path.exists(stage):
            os.remove(stage)
    try:
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # no directory fsync on this platform — replace is still atomic


def sweep_stale(root: str, marker: str = STAGE_PREFIX) -> None:
    """Remove the entries of `root` whose name contains `marker` and that
    are older than `STALE_STAGE_SEC`: stages stranded by crashed writers.
    The age floor keeps a concurrent writer's live stage safe."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return
    cutoff = time.time() - STALE_STAGE_SEC
    for name in names:
        if marker not in name:
            continue
        p = os.path.join(root, name)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # swept or committed by someone else first


def _generations(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:]) for n in names if n.startswith("v") and n[1:].isdigit()
    )


def _gen_dir(path: str, n: int) -> str:
    return os.path.join(path, f"v{n:012d}")


def commit_generation(path: str, write_into) -> tuple[str, dict]:
    """Commit one index generation under `path`; returns its directory
    and state.

    `write_into(stage)` writes the whole layout into a fresh staging
    directory under `path` and returns the index's driver-side state,
    which lands in the same stage as `STATE_FILE` (JSON: float64 values
    round-trip exactly). One `os.rename` of the stage to `path/v<N>`,
    with N one past the newest generation seen before the write, is the
    commit — the `MergedTable.write_version` discipline: a generation
    directory either does not exist or is complete, and a writer whose
    N another writer took first raises `ConcurrentWriteError`. A failure
    before the rename leaves the previous generation as the one `load`
    opens; after it, older generations are removed."""
    os.makedirs(path, exist_ok=True)
    sweep_stale(path)
    older = _generations(path)
    vdir = _gen_dir(path, (older[-1] if older else 0) + 1)
    stage = os.path.join(path, f"{STAGE_PREFIX}{uuid.uuid4().hex}")
    try:
        os.makedirs(stage)
        state = write_into(stage)
        with open(os.path.join(stage, STATE_FILE), "w", encoding="utf-8") as fh:
            json.dump(state, fh)
        try:
            os.rename(stage, vdir)
        except OSError as err:
            if not os.path.exists(vdir):
                raise
            raise ConcurrentWriteError(
                f"index generation {vdir} was committed by another writer; "
                "reload and retry"
            ) from err
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    for n in older:
        shutil.rmtree(_gen_dir(path, n), ignore_errors=True)
    return vdir, state


def open_generation(path: str) -> tuple[str, dict]:
    """(directory, state) of the newest committed generation under
    `path`. Raises FileNotFoundError when `path` holds none."""
    while True:
        gens = _generations(path)
        if not gens:
            raise FileNotFoundError(f"no committed index generation under {path}")
        vdir = _gen_dir(path, gens[-1])
        try:
            with open(os.path.join(vdir, STATE_FILE), encoding="utf-8") as fh:
                return vdir, json.load(fh)
        except FileNotFoundError:
            # a newer save removed it between the listing and the read
            if _generations(path) == gens:
                raise


def stage_frame(df, stage: str, name: str, partition_by: str | None = None) -> dict:
    """Write `df` as parquet at `stage/name` (partitioned by
    `partition_by` — a probe then prunes physical partitions on reload)
    and return its schema for the state document: the reader needs no
    schema inference, and an empty frame stays readable."""
    writer = df.write
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(os.path.join(stage, name))
    return df.schema.jsonValue()


def open_frame(spark, vdir: str, name: str, schema: dict):
    """The frame `stage_frame` wrote, read with its recorded schema."""
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType.fromJson(schema)).parquet(
        os.path.join(vdir, name)
    )


class CommittedIndex:
    """Q23 save/load (the reference's save_index/load_index,
    README.md:239-241) for every index family, over `commit_generation`.
    A family supplies three methods: `_stage(stage)` writes its frames
    into the stage and returns its driver-side state, `_reopen(spark,
    vdir, state)` points its frames at a committed generation, and the
    classmethod `_from_state(spark, vdir, state)` rebuilds an instance
    from one."""

    def save(self, path: str) -> None:
        """Commit the index as one generation under `path`. Saving a
        maintained index back over the path it was loaded from is safe,
        a failed save leaves the previous generation in place, and the
        instance then serves from the committed files."""
        from pyspark.sql import SparkSession

        self._reopen(SparkSession.active(), *commit_generation(path, self._stage))

    @classmethod
    def load(cls, spark, path: str):
        """The newest generation committed under `path`."""
        return cls._from_state(spark, *open_generation(path))
