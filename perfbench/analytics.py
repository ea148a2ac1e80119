"""`analytics`: registry entries from every family outside the vector/ANN
and store-serving ones, run one after another by a single client over the
fixed table data in `perfbench/data/sf0.001` (a copy of the read-only
synthetic TPC-H-style tables plus events/documents/embeddings). The seed
sets the order of the entries within each pass. The serving path's layers
(store, ann, graph_ann, knn) do no work here.

Each entry runs twice. The first run, untimed, collects its result, which
is compared with its DuckDB oracle through `tools/verify_local.py`'s
comparison (row count, column names, output types, order-insensitive
canonical values). The second run is timed as it is forced through the
noop sink (the full computation, no result transfer to the driver), as
`bench.py` does. It finds the session as a repeated query does, with the
entry's generated code compiled and its file metadata read, which is the
state `bench.py`'s best-of-runs timing measures; persisted intermediates
are dropped before it, so it recomputes them.
"""

from __future__ import annotations

import os
import random
import sys
import time

from common import (
    ROOT,
    another_round,
    median,
    percentile,
    rss_peak_mb,
    tree_cpu_s,
)

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                        "sf0.001")

# Frozen entry list, (name, family): a subset of the bench.py headline
# entries small enough for the benchmark's time budget (each entry runs
# twice per pass). Each family keeps distinct operators (aggregation,
# multi-way and semi joins, windows, sessionization, as-of join, funnels,
# DSIR weighting, minhash dedup, curation, BM25, MERGE with schema
# evolution, join-view refresh, expectations, media decoding), including
# the slowest headline entry, merge_evolve. Pinned here, not imported from
# bench.py, so a registry refactor cannot change the workload silently.
ENTRIES = (
    ("tpch_q1", "tpch"), ("tpch_q5", "tpch"), ("tpch_q18", "tpch"),
    ("top_orders_per_cust", "tpch"),
    ("events_sessionize", "events"), ("events_asof_error", "events"),
    ("events_funnel", "events"),
    ("doc_dsir_weights", "text"), ("dedup_minhash", "text"),
    ("curation_pipeline", "text"), ("bm25_topk", "text"),
    ("merge_evolve", "lakehouse"), ("join_mv", "lakehouse"),
    ("orders_expectations", "lakehouse"),
    ("media_pixel_checksums", "media"),
)
FAMILIES = ("tpch", "events", "text", "lakehouse", "media")


class Analytics:
    name = "analytics"

    def __init__(self, spark, tracer, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.setup_s: dict[str, float] = {}

    def setup(self) -> None:
        from mlvectordb_spark.queries import ORACLE_SQL, QUERIES

        missing = [n for n, _f in ENTRIES
                   if n not in QUERIES or n not in ORACLE_SQL]
        if missing:
            raise SystemExit(
                f"analytics entries missing from QUERIES/ORACLE_SQL: {missing}")
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import verify_local

        self.verify = verify_local
        self.queries = QUERIES
        self.oracle_sql = ORACLE_SQL
        t0 = time.perf_counter()
        self.duck = verify_local.make_duckdb(DATA_DIR)
        self.setup_s.update(load_s=time.perf_counter() - t0)

    def run(self, seconds: float) -> None:
        """Whole passes until `seconds` of timed entry time, at least one."""
        order = list(ENTRIES)
        random.Random(self.seed).shuffle(order)
        self.lat: list[float] = []
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.by_family: dict[str, list[dict]] = {f: [] for f in FAMILIES}
        oracle: dict[str, tuple] = {}
        n = 0
        while another_round(self.pass_s, seconds):
            spent = spent_cpu = 0.0
            collected = []
            for i, (name, family) in enumerate(order):
                df = self.queries[name](self.spark, DATA_DIR)
                collected.append((name, df, [tuple(r) for r in df.collect()]))
                self.spark.catalog.clearCache()
                rid = n * 1000 + i
                cpu0 = tree_cpu_s()
                with self.tracer.request(rid, name):
                    t0 = time.perf_counter()
                    self.queries[name](self.spark, DATA_DIR).write.format(
                        "noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                spent_cpu += tree_cpu_s() - cpu0
                self.lat.append(dt)
                spent += dt
                self.attempted += 1
                rec = self.tracer.record(rid, name, dt)
                self.by_family[family].append(rec)
                # queries that cache intermediates must not hand them to
                # the next entry
                self.spark.catalog.clearCache()
            self.pass_s.append(spent)
            self.pass_cpu_s.append(spent_cpu)
            for name, df, rows in collected:
                if not self._check(name, df, rows, oracle):
                    self.failed += 1
                    self.failures.append(f"{name} pass{n}")
            n += 1

    def _check(self, name: str, df, rows: list[tuple], oracle: dict) -> bool:
        sql = self.oracle_sql[name]
        if name not in oracle:
            types = {r[0]: r[1]
                     for r in self.duck.execute("DESCRIBE " + sql).fetchall()}
            cur = self.duck.execute(sql)
            cols = [d[0] for d in cur.description]
            oracle[name] = (types, self.verify.table_sig(cols, cur.fetchall()))
        types, o_sig = oracle[name]
        s_sig = self.verify.table_sig(df.columns, rows)
        return (s_sig[:3] == o_sig[:3]
                and not self.verify.type_mismatches(df, types))

    def results(self) -> dict:
        lat_ms = [v * 1000.0 for v in self.lat]
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": self.failures,
            "end_to_end": {
                "pass_cpu_s": median(self.pass_cpu_s),
            },
            "figures": {
                "pass_s": (median(self.pass_s), "s"),
                "p50_ms": (percentile(lat_ms, 50), "ms"),
                "p90_ms": (percentile(lat_ms, 90), "ms"),
                "requests_per_s": (len(self.lat) / sum(self.pass_s), "1/s"),
                "error_rate": (self.failed / max(1, self.attempted), "ratio"),
                "rss_peak_mb": (rss_peak_mb(self.spark), "MB"),
            },
            "samples": {"entries": len(self.lat)},
            "rounds": len(self.pass_s),
        }

    def per_layer(self, results: dict) -> dict[str, float]:
        """Per-family sums over one pass (averaged over the passes run)."""
        passes = len(self.pass_s)
        out: dict[str, float] = {}
        for fam, recs in self.by_family.items():
            p = f"analytics.{fam}"
            out[f"{p}.wall_s"] = sum(r["wall_ms"] for r in recs) / 1000.0
            out[f"{p}.task_run_ms"] = sum(r["task_run_ms"] for r in recs)
            out[f"{p}.driver_gap_ms"] = sum(r["driver_gap_ms"] for r in recs)
            out[f"{p}.shuffle_bytes"] = sum(
                r["shuffle_read_bytes"] + r["shuffle_write_bytes"] for r in recs)
            out[f"{p}.jobs"] = sum(r["jobs"] for r in recs)
        out = {k: v / passes for k, v in out.items()}
        out["process.rss_peak_mb"] = results["figures"]["rss_peak_mb"][0]
        out["spark.spill_bytes"] = float(sum(
            r["spill_bytes"] for recs in self.by_family.values() for r in recs))
        return out
