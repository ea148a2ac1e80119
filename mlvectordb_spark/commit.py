"""Commit primitives shared by `VectorStore` (operators/store.py) and
`MergedTable` (streaming/merge_sink.py): the optimistic-concurrency error
and one atomic-publish helper, which `NamespaceIndexFamily` also uses for
its manifest. Each caller keeps its own pointer and record formats."""

from __future__ import annotations

import os
import tempfile


class ConcurrentWriteError(RuntimeError):
    """Another writer committed first.

    Raised when the optimistic-concurrency check fails: the commit number
    (store) or version (`MergedTable.write_version`, and everything above
    it: `apply_merge_batch`, `optimize`, a running `start_table_merge`
    stream) this writer allocated against its base snapshot was published
    by someone else between the base read and the publish. The losing
    writer's work is discarded and the table is left exactly as the winner
    published it — the lost update becomes an explicit retryable error,
    the analog of Delta's commit conflict check. Retry by re-reading and
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
