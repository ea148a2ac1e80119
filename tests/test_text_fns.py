"""Text-kernel unit tests (tokenize/shingle/lang-id/quality/fingerprint/
minhash/simhash)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from mlvectordb_spark.functions import text as TX


@pytest.fixture(scope="module")
def doc_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "der hund und die katze und das haus ist hier"),
        (4, "xx"),  # shorter than any shingle
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _col(df, expr, name="out"):
    return {r.doc_id: r[name] for r in df.select("doc_id", expr.alias(name)).collect()}


def test_tokens_and_count(doc_df):
    out = _col(doc_df, TX.token_count("text"))
    assert out[1] == 9 and out[4] == 1 and out[5] == 0


def test_word_shingles_guard(doc_df):
    out = _col(doc_df, TX.word_shingles(TX.tokens("text"), 3))
    assert out[1][0] == "the quick brown"
    assert len(out[1]) == 7
    assert out[4] == [] and out[5] == []  # shorter-than-k guard


def test_char_ngrams(doc_df):
    out = _col(doc_df, TX.char_ngrams("text", 3))
    assert out[4] == []
    assert out[1][:2] == ["the", "he "]


def test_lang_id(doc_df):
    out = _col(doc_df, TX.lang_id_expr("text"))
    assert out[1] == "en"
    assert out[3] == "de"
    assert out[5] == "und"  # no markers → undetermined


def test_quality_score_range(doc_df):
    out = _col(doc_df, TX.quality_score("text"))
    assert all(0.0 <= v <= 1.0 for v in out.values())
    assert out[5] == 0.0
    assert out[1] > 0.5  # real sentence scores well above the empty doc


def test_fingerprint_is_md5(doc_df):
    out = _col(doc_df, TX.doc_fingerprint("text"))
    assert out[1] == hashlib.md5(b"the quick brown fox jumps over the lazy dog").hexdigest()


def test_minhash_near_dup_similarity(spark, doc_df):
    """Near-identical docs share most minhash components; unrelated don't."""
    sig = _col(doc_df, TX.minhash_signature("text", num_hashes=8, k=2))
    same = sum(a == b for a, b in zip(sig[1], sig[2]))
    diff = sum(a == b for a, b in zip(sig[1], sig[3]))
    assert same >= 4
    assert diff == 0


def test_minhash_bands_collide_for_dups(spark, doc_df):
    df = doc_df.withColumn("sig", TX.minhash_signature("text", num_hashes=8, k=2))
    out = _col(df, TX.minhash_bands("sig", bands=4, rows_per_band=2))
    assert set(out[1]) & set(out[2])  # near-dups share >= 1 band
    assert not set(out[1]) & set(out[3])


def test_simhash_close_for_dups(doc_df):
    out = _col(doc_df.filter(F.col("doc_id") < 4), TX.simhash16("text", k=2))
    ham_dup = bin(out[1] ^ out[2]).count("1")
    ham_diff = bin(out[1] ^ out[3]).count("1")
    assert ham_dup < ham_diff
    assert all(0 <= v < 2**16 for v in out.values())


def test_doc_repetition_hand_computed(spark, tmp_path):
    """Gopher repetition metrics on a crafted corpus: 'a a a b' has
    ttr 0.5, top-token 3/4, bigrams [a a, a a, a b] -> top 2/3; a
    single-token doc gets top_bigram_frac 0 (no bigrams)."""
    from mlvectordb_spark.queries.text import q_doc_repetition

    spark.createDataFrame(
        [(1, "a a a b"), (2, "x"), (3, "p q p q")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in q_doc_repetition(spark, str(tmp_path)).collect()
    }
    assert out[1].n_tokens == 4
    assert out[1].ttr == 0.5
    assert out[1].top_token_frac == 0.75
    assert out[1].top_bigram_frac == 0.6667
    assert out[2].top_bigram_frac == 0.0 and out[2].ttr == 1.0
    # 'p q p q': bigrams [p q, q p, p q] -> top 2/3; tokens 2/4 each
    assert out[3].top_token_frac == 0.5
    assert out[3].top_bigram_frac == 0.6667


def test_bpe_token_count_segments_like_a_pretokenizer(spark):
    """BPE-ish segmentation: contractions split, punctuation and digit runs
    separate from letter runs — counts exceed whitespace counts exactly
    where a real tokenizer's would."""
    from pyspark.sql import functions as F

    from mlvectordb_spark.functions.text import bpe_token_count, token_count

    rows = spark.createDataFrame(
        [
            (0, "hello world"),          # 2 ws, 2 bpe
            (1, "don't stop"),           # 2 ws; bpe: don / 't / stop = 3
            (2, "a1b2"),                 # 1 ws; bpe: a/1/b/2 = 4
            (3, "wait... what?!"),       # 2 ws; bpe: wait/.../ what/?! = 4
        ],
        "i long, t string",
    ).select(
        "i",
        token_count(F.col("t")).alias("ws"),
        bpe_token_count(F.col("t")).alias("bpe"),
    ).collect()
    got = {r.i: (r.ws, r.bpe) for r in rows}
    assert got[0] == (2, 2)
    assert got[1] == (2, 3)
    assert got[2] == (1, 4)
    assert got[3] == (2, 4)
