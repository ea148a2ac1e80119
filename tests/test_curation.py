"""Curation operators: decontamination, PII scrub, deterministic
sampling/splits, TF-IDF, duplicate clustering, SQ8 quantization."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlvectordb_spark.operators.components import (
    connected_components,
    dedup_cluster_assignment,
)
from mlvectordb_spark.operators.curation import (
    assign_split,
    decontaminate,
    scrub_pii,
    stratified_sample,
    tfidf_top_terms,
)
from mlvectordb_spark.operators.quantize import (
    knn_sq8,
    sq8_abs_error,
    with_sq8_stage,
)


def test_decontaminate_flags_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over dogs"),
            (2, "completely unrelated words appear here now"),
            (3, "quick brown fox runs away fast"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox sleeps")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.n_contaminated_shingles
        for r in decontaminate(corpus, eval_docs, k=3).collect()
    }
    # doc 1 shares "the quick brown" and "quick brown fox"; doc 3 shares
    # "quick brown fox"; doc 2 shares nothing and must be absent
    assert out == {1: 2, 3: 1}


def test_scrub_pii_counts_and_replaces(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d@e.org now"),
            (2, "see https://x.y/z and http://q.r"),
            (3, "call 555-1234 or 555-9999 ok"),
            (4, "clean text only"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (rows[1].n_emails, rows[1].n_urls, rows[1].n_phones) == (2, 0, 0)
    assert rows[1].scrubbed == "mail <EMAIL> and <EMAIL> now"
    assert rows[2].n_urls == 2 and "<URL>" in rows[2].scrubbed
    assert rows[3].n_phones == 2 and rows[3].scrubbed.count("<PHONE>") == 2
    assert rows[4].scrubbed == "clean text only"


def test_stratified_sample_deterministic_subset(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        "doc_id long, lang string",
    )
    rates = {"en": 0.5, "de": 0.1}
    a = sorted(r.doc_id for r in stratified_sample(df, "lang", rates, "doc_id").collect())
    b = sorted(r.doc_id for r in stratified_sample(df, "lang", rates, "doc_id").collect())
    assert a == b and 0 < len(a) < 400
    # repartitioning must not change membership (hash keys on identity)
    c = sorted(
        r.doc_id
        for r in stratified_sample(
            df.repartition(7), "lang", rates, "doc_id"
        ).collect()
    )
    assert a == c
    by_lang = {
        r.lang: r.n
        for r in stratified_sample(df, "lang", rates, "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # en rate 5x de rate on equal strata sizes
    assert by_lang["en"] > by_lang.get("de", 0)


def test_assign_split_partitions_everything(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = assign_split(df, "doc_id")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 1000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]


def test_tfidf_ranks_rare_terms_highest(spark):
    df = spark.createDataFrame(
        [
            (1, "common common common rare"),
            (2, "common common other other"),
            (3, "common unique"),
        ],
        "doc_id long, text string",
    )
    top = {
        r.doc_id: r.token
        for r in tfidf_top_terms(df, top_n=1).collect()
    }
    # "common" appears in every doc → idf 0; doc-specific terms win
    assert top == {1: "rare", 2: "other", 3: "unique"}


def test_connected_components_chain_and_islands(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "src long, dst long"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[7] == comp[8] == 7
    assert comp[9] == 9


def test_dedup_cluster_assignment_canonical_min(spark):
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster for r in dedup_cluster_assignment(pairs).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}


def test_sq8_error_bounded_by_half_step(spark):
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=16).astype(np.float64).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    checked = with_sq8_stage(df).select(
        "vec_id",
        F.array_max(sq8_abs_error()).alias("max_err"),
        F.col("__scale").alias("scale"),
    ).collect()
    for r in checked:
        # |x - dequant| <= scale/2 + fp slack
        assert r.max_err <= r.scale / 2 + 1e-9


def test_knn_sq8_recovers_exact_topk(spark):
    from mlvectordb_spark.operators.knn import knn_df

    rng = np.random.default_rng(11)
    rows = [
        (i, rng.normal(size=16).astype(np.float32).tolist(), i % 3)
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    qdf = emb.filter(F.col("vec_id") == 5)
    exact = [
        (r.vec_id, r.score)
        for r in knn_df(emb, qdf, 10, metric="l2")
        .select("vec_id", "score")
        .collect()
    ]
    approx = [
        (r.vec_id, r.score)
        for r in knn_sq8(emb, qdf, 10, pool=40).select("vec_id", "score").collect()
    ]
    assert approx == exact


def test_chunk_documents_windows_and_overlap(spark):
    from mlvectordb_spark.operators.curation import chunk_documents

    # 10 tokens, chunk_size=4, stride=3 -> chunks at 0,3,6 cover 1..10 and
    # a 4th chunk would start past the end: ceil((10-4)/3)+1 = 3
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_size=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert [r.n_tokens for r in sorted(by_doc[1], key=lambda r: r.chunk_idx)] == [4, 4, 4]
    # consecutive chunks share chunk_size - stride tokens; verify via hash of
    # the expected token windows
    import hashlib

    toks = [f"t{i}" for i in range(10)]
    for r in by_doc[1]:
        expect = " ".join(toks[r.chunk_idx * 3 : r.chunk_idx * 3 + 4])
        assert r.chunk_hash == hashlib.md5(expect.encode()).hexdigest()
    # short doc: one chunk, whole doc; empty doc: one empty chunk
    assert [(r.chunk_idx, r.n_tokens) for r in by_doc[2]] == [(0, 2)]
    assert [(r.chunk_idx, r.n_tokens) for r in by_doc[3]] == [(0, 0)]


def test_mixture_weights_temperature_scaling(spark):
    from mlvectordb_spark.operators.curation import mixture_weights

    docs = spark.createDataFrame(
        [(i, "w " * 5, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in mixture_weights(docs).collect()}
    assert abs(out["big"].mixture_weight + out["small"].mixture_weight - 1.0) < 1e-9
    # alpha=0.5 upsamples the small source: rate 1.0 (capped), big source
    # downsampled below 1
    assert out["small"].sampling_rate == 1.0
    assert out["big"].sampling_rate < 1.0
    # alpha=1 keeps natural proportions: every rate is exactly 1
    nat = {r.source: r for r in mixture_weights(docs, alpha=1.0).collect()}
    assert nat["big"].sampling_rate == 1.0 and nat["small"].sampling_rate == 1.0


def test_unigram_logprob_ranks_typical_text_higher(spark):
    """A doc of corpus-common tokens must out-score a doc of hapaxes, and
    a uniform corpus gives every doc the same ln(1/|vocab|)... scaled by
    token frequency — spot-check the closed form on a tiny corpus."""
    import math

    from mlvectordb_spark.operators.curation import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "a a a a"), (1, "a a b c"), (2, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    # corpus counts: a=6, b=1, c=1, total=8
    assert out[0].n_tokens == 4
    assert abs(out[0].avg_logprob - round(math.log(6 / 8), 4)) < 1e-9
    expect1 = (2 * math.log(6 / 8) + 2 * math.log(1 / 8)) / 4
    assert abs(out[1].avg_logprob - round(expect1, 4)) < 1e-4
    assert out[0].avg_logprob > out[1].avg_logprob  # common text scores higher
    assert 2 not in out  # empty doc has no likelihood


def test_duplicate_ngram_coverage(spark):
    """Coverage math: a doc sharing its full text with another is 100%
    covered; a unique doc is 0%; partial overlap covers only the shared
    span's positions."""
    from mlvectordb_spark.operators.curation import duplicate_ngram_coverage

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),
            (1, "the quick brown fox jumps"),  # exact dup of 0
            (2, "totally unique words here now"),
            (3, "xx the quick brown yy zz"),  # shares one 3-gram with 0/1
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicate_ngram_coverage(docs, k=3).collect()}
    assert out[0].dup_ngram_frac == 1.0 and out[1].dup_ngram_frac == 1.0
    assert out[2].dup_ngram_frac == 0.0
    # doc 3: 'the quick brown' covers positions 1-3 of 6 tokens -> 0.5
    assert out[3].dup_ngram_frac == 0.5


def test_mixture_weights_by_tokens(spark):
    """weight_by='tokens' bases the mix on token mass: equal doc counts but
    10x longer docs in one source must tilt a weight_by='tokens' mix, while
    the doc-count mix stays 50/50."""
    from mlvectordb_spark.operators.curation import mixture_weights

    docs = spark.createDataFrame(
        [(i, "w " * (50 if i < 50 else 5), "long" if i < 50 else "short")
         for i in range(100)],
        "doc_id long, text string, source string",
    )
    by_docs = {r.source: r for r in mixture_weights(docs, alpha=1.0).collect()}
    assert abs(by_docs["long"].mixture_weight - 0.5) < 1e-9
    by_tok = {
        r.source: r
        for r in mixture_weights(docs, alpha=1.0, weight_by="tokens").collect()
    }
    assert by_tok["long"].mixture_weight > 0.8
    assert abs(by_tok["long"].mixture_weight + by_tok["short"].mixture_weight - 1.0) < 1e-9


def test_duplicate_ngram_coverage_two_pass_matches_persisted(spark):
    """two_pass=True trades the corpus-sized persist for a second kernel
    pass (round-4 verdict #4) — output must be identical row-for-row."""
    from mlvectordb_spark.operators.curation import duplicate_ngram_coverage

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta alpha beta gamma"),
            (2, "alpha beta gamma is repeated here alpha beta gamma"),
            (3, "entirely unique words compose this third document text"),
            (4, "xy"),  # too short to shingle -> omitted
        ],
        "doc_id long, text string",
    )
    a = {
        (r.doc_id, r.n_tokens, r.dup_ngram_frac)
        for r in duplicate_ngram_coverage(docs).collect()
    }
    b = {
        (r.doc_id, r.n_tokens, r.dup_ngram_frac)
        for r in duplicate_ngram_coverage(docs, two_pass=True).collect()
    }
    c = {
        (r.doc_id, r.n_tokens, r.dup_ngram_frac)
        for r in duplicate_ngram_coverage(docs, persist_level="DISK_ONLY").collect()
    }
    assert a == b == c
    assert {r[0] for r in a} == {1, 2, 3}


def test_strip_duplicate_ngrams_removes_covered_tokens(spark):
    """The removal twin of duplicate_ngram_coverage: tokens covered by a
    corpus-duplicated trigram vanish; unique text and short docs pass
    through unchanged."""
    from mlvectordb_spark.operators.curation import strip_duplicate_ngrams

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and something else entirely here"),
            (2, "prefix words the quick brown fox suffix words"),
            (3, "totally unrelated content lives in this document"),
            (4, "xy"),  # shorter than k -> passthrough
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_duplicate_ngrams(docs, k=3).collect()}
    # 'the quick brown fox' appears in docs 1 and 2 -> its trigrams are
    # duplicated; those 4 tokens are removed from both docs
    assert "the quick brown fox" not in out[1].clean_text
    assert "the quick brown fox" not in out[2].clean_text
    assert out[1].clean_text.startswith("and something else")
    assert out[2].clean_text == "prefix words suffix words"
    assert out[1].n_kept == out[1].n_tokens - 4
    assert out[2].n_kept == out[2].n_tokens - 4
    # untouched docs
    assert out[3].clean_text == docs.filter("doc_id = 3").head().text
    assert out[4].clean_text == "xy" and out[4].n_kept == 1


def test_strip_duplicate_ngrams_long_fully_covered_doc(spark):
    """A long boilerplate doc duplicated verbatim is stripped to nothing,
    and the rebuild is a set difference over positions, not a per-token
    membership test against the covered set (quadratic in doc length)."""
    from mlvectordb_spark.operators.curation import strip_duplicate_ngrams

    text = " ".join(f"w{i}" for i in range(3000))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = strip_duplicate_ngrams(docs, k=3)
    rows = sorted(out.collect())
    assert [tuple(r) for r in rows] == [(1, 3000, 0, ""), (2, 3000, 0, "")]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "array_except" in plan
    assert "array_contains" not in plan


def test_gopher_rules_flags_each_rule(spark):
    from mlvectordb_spark.operators.curation import gopher_rules

    good = "the quick brown fox and the lazy dog have that with " + " ".join(
        f"word{i}" for i in range(20)
    )
    docs = spark.createDataFrame(
        [
            (1, good),                              # passes everything
            (2, "the of and that have with"),       # too few words
            (3, "a b c " + good),                   # short words drag mean len
            (4, " ".join(f"tok{i}" for i in range(30))),  # no stop markers
            (5, " ".join("123" for _ in range(30))),      # non-alpha words
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert out[1].passes_gopher
    assert not out[2].ok_word_count and not out[2].passes_gopher
    assert out[3].mean_word_len < out[1].mean_word_len
    assert not out[4].ok_stopwords and not out[4].passes_gopher
    assert not out[5].ok_alpha and not out[5].ok_stopwords
    # mean word length == non-space chars / words, independent of spacing
    r1 = out[1]
    n_chars = len(good.replace(" ", ""))
    assert abs(r1.mean_word_len - round(n_chars / r1.n_words, 4)) < 1e-9


def test_quality_weighted_sample_props(spark):
    from mlvectordb_spark.operators.curation import quality_weighted_sample

    rich = " ".join(f"distinct{i}" for i in range(60))      # quality ~0.97
    poor = "the the of of " * 3                             # low diversity, stopwords
    docs = spark.createDataFrame(
        [(i, rich if i % 2 == 0 else poor) for i in range(200)],
        "doc_id long, text string",
    )
    kept = quality_weighted_sample(docs).collect()
    kept_ids = {r.doc_id for r in kept}
    # deterministic: second run identical
    again = {r.doc_id for r in quality_weighted_sample(docs).collect()}
    assert kept_ids == again
    # high-quality docs accepted at a visibly higher rate
    hi = sum(1 for i in kept_ids if i % 2 == 0) / 100
    lo = sum(1 for i in kept_ids if i % 2 == 1) / 100
    assert hi > lo + 0.2
    # boost=0 keeps nothing; huge boost keeps everything
    assert quality_weighted_sample(docs, boost=0.0).count() == 0
    assert quality_weighted_sample(docs, boost=1e9).count() == 200
    # a different salt redraws the sample
    other = {r.doc_id for r in quality_weighted_sample(docs, salt="qws2:").collect()}
    assert other != kept_ids


def test_materialize_mixture_hits_prescribed_rates(spark):
    from mlvectordb_spark.operators.curation import (
        materialize_mixture,
        mixture_weights,
    )

    # a big source and a small one: temperature scaling should upsample
    # the small source's rate toward (or onto) 1.0
    docs = spark.createDataFrame(
        [(i, f"text {i}", "big" if i < 900 else "small") for i in range(1000)],
        "doc_id long, text string, source string",
    )
    rates = {
        r.source: r.sampling_rate for r in mixture_weights(docs).collect()
    }
    assert rates["small"] == 1.0 and rates["big"] < 1.0
    kept = materialize_mixture(docs).groupBy("source").count().collect()
    got = {r.source: r["count"] for r in kept}
    # small source fully kept; big source near its prescribed rate
    assert got["small"] == 100
    assert abs(got["big"] / 900 - rates["big"]) < 0.05
    # deterministic + fresh-epoch salt
    a = {r.doc_id for r in materialize_mixture(docs).collect()}
    b = {r.doc_id for r in materialize_mixture(docs).collect()}
    c = {r.doc_id for r in materialize_mixture(docs, salt="mix2:").collect()}
    assert a == b and a != c


def test_cross_doc_ngram_coverage_ignores_within_doc_repeats(spark):
    """The cross-doc variant fires only on n-grams SHARED across distinct
    docs: a doc that repeats itself internally but shares nothing scores
    0, while the within-doc twin (duplicate_ngram_coverage) scores it >0;
    genuinely shared spans cover the same positions in both."""
    from mlvectordb_spark.operators.curation import (
        cross_doc_ngram_coverage,
        duplicate_ngram_coverage,
    )

    docs = spark.createDataFrame(
        [
            (0, "aa bb cc aa bb cc"),  # self-repeating, shared with nobody
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumps"),  # exact dup of 1
            (3, "xx the quick brown yy zz"),  # shares one 3-gram with 1/2
        ],
        "doc_id long, text string",
    )
    cross = {r.doc_id: r for r in cross_doc_ngram_coverage(docs, k=3).collect()}
    within = {r.doc_id: r for r in duplicate_ngram_coverage(docs, k=3).collect()}
    assert cross[0].shared_ngram_frac == 0.0  # within-doc repeats don't count
    assert within[0].dup_ngram_frac == 1.0  # ...but the total-occurrence twin fires
    assert cross[1].shared_ngram_frac == 1.0 and cross[2].shared_ngram_frac == 1.0
    assert cross[3].shared_ngram_frac == 0.5  # positions 1-3 of 6


def test_cap_per_source_deterministic_and_exact(spark):
    """Each source keeps exactly min(cap, n) docs; the kept set is stable
    across recomputation (hash-ranked, not rand()) and changes with salt."""
    from mlvectordb_spark.operators.curation import cap_per_source

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "txt") for i in range(30)],
        "doc_id long, source string, text string",
    )
    out = cap_per_source(docs, cap=4)
    per_src = {
        r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_src == {"s0": 4, "s1": 4, "s2": 4}
    assert out.agg(F.max("rnk")).first()[0] == 4
    ids_a = sorted(r.doc_id for r in out.collect())
    ids_b = sorted(r.doc_id for r in cap_per_source(docs, cap=4).collect())
    assert ids_a == ids_b  # retry-idempotent
    ids_c = sorted(r.doc_id for r in cap_per_source(docs, cap=4, salt="other:").collect())
    assert ids_a != ids_c  # a new salt draws a fresh epoch
    # cap above the source size keeps everything
    assert cap_per_source(docs, cap=99).count() == 30


def test_keep_best_per_cluster_picks_quality_argmax(spark):
    """Cluster survivor = highest quality_score, min-id on ties; cluster
    labels pass through from the assignment."""
    from mlvectordb_spark.operators.components import keep_best_per_cluster
    from mlvectordb_spark.functions.text import quality_score

    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (10, 10), (11, 10)],
        "doc_id long, cluster long",
    )
    docs = spark.createDataFrame(
        [
            (0, "aa aa aa aa"),  # low diversity -> low quality
            (1, "many distinct interesting tokens appear here today friend"),
            (2, "aa bb aa bb"),
            (10, "same text here"),
            (11, "same text here"),  # identical quality -> min id (10) wins
        ],
        "doc_id long, text string",
    )
    out = {r.cluster: r for r in keep_best_per_cluster(clusters, docs).collect()}
    assert set(out) == {0, 10}
    assert out[0].keep_id == 1
    assert out[10].keep_id == 10
    q1 = docs.filter("doc_id = 1").select(quality_score("text")).first()[0]
    assert out[0].quality == q1


def test_budget_mixture_fills_budget_exactly(spark):
    """Water-filling invariants: targets sum to the budget, no source
    exceeds capacity, saturated sources are exactly the ones at capacity,
    and frac=1.0 degrades to keep-everything."""
    from mlvectordb_spark.operators.curation import budget_mixture

    rows = []
    did = 0
    for s, n_docs, words in [("big", 40, 30), ("mid", 10, 20), ("tiny", 2, 5)]:
        for _ in range(n_docs):
            rows.append((did, s, " ".join(f"w{j}" for j in range(words))))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    total = sum({"big": 40 * 30, "mid": 10 * 20, "tiny": 2 * 5}[s]
                for s in ("big", "mid", "tiny"))

    out = {r.source: r for r in budget_mixture(docs, budget_frac=0.4).collect()}
    assert abs(sum(r.tokens_target for r in out.values()) - 0.4 * total) < 0.05
    for r in out.values():
        assert r.tokens_target <= r.n_tokens + 1e-6
        assert (r.tokens_target == r.n_tokens) == bool(r.saturated)
    # alpha=0.5 upweights tiny sources: tiny saturates first
    assert out["tiny"].saturated and not out["big"].saturated

    full = budget_mixture(docs, budget_frac=1.0).collect()
    assert all(r.saturated and r.sampling_rate == 1.0 for r in full)


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR sanity on a constructed corpus: docs sharing the target
    slice's vocabulary score a higher log importance weight than docs
    from a disjoint vocabulary, and the target docs outrank both (their
    bigrams are the target LM's). Absolute signs are not asserted:
    add-one smoothing over n_buckets >> corpus size shifts every weight
    negative on a toy corpus — only the ordering is the signal."""
    from mlvectordb_spark.operators.curation import dsir_log_weights

    tgt = ["clean measured prose with careful words"] * 6
    near = ["careful measured words in clean prose"] * 3
    junk = ["zzz qqq xxx lorem garble blort"] * 6
    rows = (
        [(i, t, True) for i, t in enumerate(tgt)]
        + [(100 + i, t, False) for i, t in enumerate(near)]
        + [(200 + i, t, False) for i, t in enumerate(junk)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, is_tgt boolean"
    )
    out = {
        r.doc_id: r.log_weight
        for r in dsir_log_weights(docs, F.col("is_tgt")).collect()
    }
    assert len(out) == 15
    near_w = sum(out[100 + i] for i in range(3)) / 3
    junk_w = sum(out[200 + i] for i in range(6)) / 6
    tgt_w = sum(out[i] for i in range(6)) / 6
    assert tgt_w > near_w > junk_w, (tgt_w, near_w, junk_w)
    # deterministic: a second invocation reproduces the weights exactly
    again = {
        r.doc_id: r.log_weight
        for r in dsir_log_weights(docs, F.col("is_tgt")).collect()
    }
    assert again == out


def test_dsir_single_token_docs_have_no_bigrams(spark):
    """A one-token doc contributes exactly one unigram feature (the
    bigram branch must not blow up on size-1 or empty token arrays);
    zero-token docs are omitted."""
    from mlvectordb_spark.operators.curation import dsir_log_weights

    docs = spark.createDataFrame(
        [(1, "word", True), (2, "", True), (3, "two tokens", False)],
        "doc_id long, text string, is_tgt boolean",
    )
    rows = {r.doc_id: r for r in dsir_log_weights(docs, F.col("is_tgt")).collect()}
    assert set(rows) == {1, 3}
    assert rows[1].n_feats == 1
    assert rows[3].n_feats == 3  # two unigrams + one bigram


def test_bigram_logprob_rewards_typical_pairs(spark):
    """Interpolated bigram LM: a doc made of corpus-typical PAIRS must
    outrank a doc reusing the same words in atypical order (the signal
    unigram_logprob cannot see), and docs with <2 tokens are omitted."""
    from mlvectordb_spark.operators.curation import bigram_logprob

    common = ["the cat sat on the mat"] * 8
    scrambled = ["mat the on sat cat the"]
    rows = (
        [(i, t) for i, t in enumerate(common)]
        + [(50, scrambled[0]), (60, "solo"), (70, "")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    assert set(out) == set(range(8)) | {50}
    assert out[0].n_bigrams == 5
    assert out[0].avg_logprob > out[50].avg_logprob
    # determinism across invocations
    again = {r.doc_id: r.avg_logprob for r in bigram_logprob(docs).collect()}
    assert again == {k: v.avg_logprob for k, v in out.items()}
