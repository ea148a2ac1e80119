"""What the family modules share: the `entry` declaration and the registry
it fills, the constants both engines' sides read, and the DuckDB fragments
of the vector oracles."""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class Entry(NamedTuple):
    """One registry entry: its builder, its DuckDB oracle SQL (None for a
    rows-only entry) and whether bench.py times it."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool

    @property
    def family(self) -> str:
        """The declaring module's name: vector, store, tpch, ..."""
        return self.build.__module__.rsplit(".", 1)[1]


# every declared entry, by name, in declaration order
ENTRIES: dict[str, Entry] = {}


def entry(oracle: str | None = None, headline: bool = False):
    """Declare the decorated `q_<name>` builder as registry entry <name>."""

    def declare(build: Callable[[SparkSession, str], DataFrame]):
        if not build.__name__.startswith("q_"):
            raise ValueError(f"builder {build.__name__!r} is not q_<name>")
        name = build.__name__[2:]
        if name in ENTRIES:
            raise ValueError(f"registry entry {name!r} declared twice")
        ENTRIES[name] = Entry(build, oracle, headline)
        return build

    return declare


def _entry_tmpdir(slug: str) -> str:
    """Scratch dir for entries that materialize a versioned table. The
    returned DataFrame must stay readable after the entry returns (the
    driver collects later), so the dir cannot be removed on exit —
    instead it is FIXED per (entry, pid) and wiped on re-entry, bounding
    the leak to one copy per entry per process instead of one per call
    (bench best-of-N and repeated verify runs reuse the slot)."""
    import os
    import shutil
    import tempfile

    path = os.path.join(tempfile.gettempdir(), f"mlvdb_{slug}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# shared constants (single source of truth for Spark + oracle SQL)
QUERY_VID = 0          # the probe vector for single-query KNN
KNN_K = 10
BATCH_QUERY_MAX_VID = 8
BATCH_K = 3

# DuckDB fragments -----------------------------------------------------------
_Q_CTE = f"(SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VID})"


def _sql_l2sq(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, 65), i -> "
        f"({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)))"
    )


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    )


def _sql_cos(a: str, b: str) -> str:
    d = _sql_dot(a, b)
    na = _sql_dot(a, a)
    nb = _sql_dot(b, b)
    return f"({d} / (sqrt({na}) * sqrt({nb})))"
