"""Distance-kernel correctness against a numpy oracle (the reference's own
test idiom: ranking matches independent exact math,
tests/test_query_processor.py:65-67)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlvectordb_spark.functions import vector as V

np.random.seed(42)
DIM = 16
N = 50


@pytest.fixture(scope="module")
def vec_df(spark):
    data = np.random.rand(N, DIM).astype(np.float32)
    rows = [(i, data[i].tolist()) for i in range(N)]
    df = spark.createDataFrame(rows, "id int, v array<float>")
    return df, data


def _fold(terms) -> float:
    """The module's contract: a sequential left-to-right float64 sum."""
    acc = 0.0
    for t in terms:
        acc += t
    return acc


def test_l2_sq_matches_numpy(spark, vec_df):
    df, data = vec_df
    q = [float(x) for x in data[0]]
    out = {
        r.id: r.s
        for r in df.withColumn("s", V.l2_sq("v", V.vector_lit(q))).collect()
    }
    for i in range(N):
        a = [float(x) for x in data[i]]
        assert out[i] == _fold((x - y) * (x - y) for x, y in zip(a, q))


def test_cosine_matches_numpy(spark, vec_df):
    df, data = vec_df
    q = data[0].astype(np.float64)
    out = {
        r.id: r.s
        for r in df.withColumn(
            "s", V.cosine_sim("v", V.vector_lit(data[0]))
        ).collect()
    }
    for i in range(N):
        a = data[i].astype(np.float64)
        expected = float(a @ q / (np.linalg.norm(a) * np.linalg.norm(q)))
        assert out[i] == pytest.approx(expected, rel=1e-9)


def test_ip_and_norm(spark, vec_df):
    df, data = vec_df
    q = [float(x) for x in data[1]]
    out = df.withColumn("d", V.dot("v", V.vector_lit(q))).withColumn(
        "n", V.norm2("v")
    )
    for r in out.collect():
        a = [float(x) for x in data[r.id]]
        assert r.d == _fold(x * y for x, y in zip(a, q))
        assert r.n == math.sqrt(_fold(x * x for x in a))


def test_vector_lit_round_trips(spark):
    """`vector_lit` (SQL text) carries every double bit-exactly — the
    per-element `F.lit` array is the reference."""
    rng = np.random.default_rng(3)
    normals = rng.normal(size=200).astype(np.float32)
    values = [
        -0.0, 5e-324, 2.2250738585072014e-308,
        1.7976931348623157e308, -1.7976931348623157e308,
        float("nan"), float("inf"), float("-inf"),
    ] + [float(x) for x in normals]
    got, ref = spark.range(1).select(
        V.vector_lit(values).alias("got"),
        F.array(*[F.lit(float(x)) for x in values]).alias("ref"),
    ).first()
    assert len(got) == len(ref) == len(values)
    for g, r in zip(got, ref):
        assert struct.pack(">d", g) == struct.pack(">d", r)


def test_id_in_round_trips_awkward_ids(spark):
    """`id_in` (SQL text) matches exactly the ids it lists — quotes,
    backslashes, escape-like sequences, non-ASCII and newlines included —
    and `negate` keeps exactly the others."""
    ids = ["plain", "it's", "back\\slash", "\\'", "''", "\\n", "tab\there",
           "new\nline", "ünï", "%_", "", "a\\"]
    df = spark.createDataFrame([(i,) for i in ids + ["other"]], "id string")
    picked = ids[::2]
    got = {r.id for r in df.filter(V.id_in("id", picked)).collect()}
    assert got == set(picked)
    rest = {r.id for r in df.filter(V.id_in("id", picked, negate=True)).collect()}
    assert rest == set(ids + ["other"]) - set(picked)
    nums = spark.range(5).filter(V.id_in("id", [1, 3])).collect()
    assert [r.id for r in nums] == [1, 3]
    assert df.filter(V.id_in("id", [])).count() == 0
    with pytest.raises(TypeError):
        V.id_lit(1.5)


def test_normalize_unit_norm(spark, vec_df):
    df, _ = vec_df
    out = df.select(V.normalize("v").alias("u")).collect()
    for r in out:
        assert float(np.linalg.norm(r.u)) == pytest.approx(1.0, rel=1e-9)


def test_metric_expr_rejects_unknown():
    with pytest.raises(ValueError):
        V.metric_expr(F.col("a"), F.col("b"), "manhattan")
    with pytest.raises(ValueError):
        V.metric_ascending("manhattan")


def test_fused_minhash_kernel_matches_catalyst(spark):
    """signature_shingle_table (one Arrow pass) must be value-identical to
    shingle_table + signature_table (the Catalyst kernels the DuckDB
    oracle mirrors): same surviving docs, same first-occurrence-ordered
    distinct shingles, same 8 signature components — including edge docs
    (too short to shingle, repeated shingles, multi-space runs, NULL)."""
    from mlvectordb_spark.operators.minhash import (
        NUM_MINHASHES,
        shingle_table,
        signature_shingle_table,
        signature_table,
    )
    from mlvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (100001, "one two"),                      # too short: dropped
            (100002, "a b c a b c a b c"),            # repeated shingles
            (100003, "  spaced   out   tokens here"),  # multi-space runs
            (100004, None),                            # null text
            (100005, "x y z"),                         # exactly one shingle
        ],
        "doc_id long, text string",
    )
    docs = docs.unionByName(edge)
    sh = shingle_table(docs)
    want = {
        r.doc_id: (list(r.sh), [r[f"m{i}"] for i in range(NUM_MINHASHES)])
        for r in sh.join(signature_table(sh), "doc_id").collect()
    }
    got = {
        r.doc_id: (list(r.sh), [r[f"m{i}"] for i in range(NUM_MINHASHES)])
        for r in signature_shingle_table(docs).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert got[did] == want[did], f"doc {did} diverged"


def test_fused_shingle_prefix_matches_catalyst(spark):
    """shingle_prefix_table (one Arrow pass) must be value-identical to
    the Catalyst blocking form the jaccard query used — same prefix
    (concat_ws over the first two tokens, "" for empty/NULL text), same
    first-occurrence-ordered distinct shingles, EVERY doc kept (shingle-
    less docs carry an empty array)."""
    from mlvectordb_spark.functions import text as TX
    from mlvectordb_spark.operators.curation import shingle_prefix_table
    from mlvectordb_spark.operators.minhash import SHINGLE_K
    from mlvectordb_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (100001, "one two"),                       # too short: kept, sh=[]
            (100002, "a b c a b c a b c"),             # repeated shingles
            (100003, "  spaced   out   tokens here"),  # multi-space runs
            (100004, None),                            # null text
            (100005, "x y z"),                         # exactly one shingle
            (100006, ""),                              # empty text
            (100007, "solo"),                          # one token
        ],
        "doc_id long, text string",
    )
    docs = docs.unionByName(edge)
    toks = TX.tokens("text")
    want = {
        r.doc_id: (r.prefix, list(r.sh))
        for r in docs.select(
            "doc_id",
            F.concat_ws(" ", F.slice(toks, 1, 2)).alias("prefix"),
            F.array_distinct(TX.word_shingles(toks, SHINGLE_K)).alias("sh"),
        ).collect()
    }
    got = {
        r.doc_id: (r.prefix, list(r.sh))
        for r in shingle_prefix_table(docs, k=SHINGLE_K).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert got[did] == want[did], f"doc {did} diverged"
