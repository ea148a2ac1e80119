"""Text family: document analysis, dedup, curation, DSIR and lexical
retrieval over the `documents` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mlvectordb_spark.functions import text as TX
from mlvectordb_spark.operators import curation as CUR
from mlvectordb_spark.operators.knn import knn_df
from mlvectordb_spark.operators.minhash import (
    MINHASH_BANDS,
    MINHASH_BAND_CAP,
    MINHASH_ROWS,
    NUM_MINHASHES,
    SHINGLE_K,
    band_candidate_pairs,
    bands_from_shingles,
    bands_from_signatures,
    shingle_table,
    signature_shingle_table,
)
from mlvectordb_spark.queries.common import (
    QUERY_VID,
    _Q_CTE,
    _entry_tmpdir,
    _sql_l2sq,
    entry,
)
from mlvectordb_spark.sources.testdata import load_table


_DOCS_FANOUT_CACHE: dict[tuple, bool] = {}


def fan_out_rowlocal(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """Fan a ROW-LOCAL corpus kernel out across cores ONLY when the scan
    itself is under-parallel. The sf testdata ships documents as one
    single-row-group parquet file, which no file-split knob can
    parallelize — only a shuffle can — so locally this repartitions
    exactly as before; on a multi-file corpus the scan is already
    many-way parallel and a row-local kernel must NOT shuffle corpus
    text (r12 verdict, What's wrong #1: the doc_gopher rationale applied
    to every pure-parallelism fan-out site). Entries whose downstream
    aggregation/join is doc_id-keyed keep their UNCONDITIONAL
    repartition instead of this helper: there the early exchange on
    compact text rows replaces a bigger post-explode exchange (shuffle
    placement, guide §2.3) and is load-bearing at any scale.

    The observed-parallelism probe (`rdd.getNumPartitions()` — plan
    analysis only, no job) is cached per (session, sf_dir, cores): every
    gated entry scans the same documents table."""
    want = spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, sf_dir, want)
    need = _DOCS_FANOUT_CACHE.get(key)
    if need is None:
        need = docs.rdd.getNumPartitions() < want
        _DOCS_FANOUT_CACHE[key] = need
    return docs.repartition(want, "doc_id") if need else docs


# absolute heavy-hitter threshold (occurrences). Deployments set heavy-
# hitter cutoffs absolutely — a mean-relative cutoff would need a corpus-
# wide exact countDistinct, the very shuffle the CMS prefilter exists to
# avoid. Mirrored as a literal in the oracle's HAVING via this constant.
HEAVY_MIN_COUNT = 33
VOCAB_SIZE = 64
JACCARD_THRESHOLD = 0.3
NGRAM_BLOCK_CAP = 64  # sub-bucket cap for hot prefix blocks
CURATION_QUALITY_MIN = 0.7
EVAL_SET_MOD = 97         # doc_id % MOD == 0 plays the held-out eval set
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.25, "zh": 0.1}
SOURCE_CAP = 10
BUDGET_FRAC = 0.4
BM25_TERMS = ("hash", "merge", "scan")   # the probe query for lexical search
BM25_K = 20
RRF_POOL = 50                            # per-ranker pool fused by RRF
RRF_K = 10
RRF_KRRF = 60

_BPE_SESSIONS: dict[tuple, object] = {}


def session_bpe(spark: SparkSession, sf_dir: str, vocab_size: int = 300):
    """Fit-once BPE tokenizer per (session, sf_dir): merges learn from a
    bounded deterministic sample (the IVF-centroid contract — tokenizer
    state is KB-scale driver data, application is the distributed part).
    A tokenizer fit is ingest-time work, never query-time."""
    from mlvectordb_spark.functions.bpe import BPETokenizer

    key = (spark.sparkContext.applicationId, sf_dir, vocab_size)
    tok = _BPE_SESSIONS.get(key)
    if tok is None:
        docs = load_table(spark, sf_dir, "documents")
        tok = BPETokenizer(vocab_size=vocab_size, sample_docs=500).fit(
            docs, id_col="doc_id"
        )
        _BPE_SESSIONS[key] = tok
    return tok


def _oracle_lang_id_sql() -> str:
    score_exprs = {
        lang: (
            "len(list_filter(toks, t -> t IN ("
            + ", ".join(f"'{w}'" for w in TX.LANG_MARKERS[lang])
            + ")))"
        )
        for lang in TX.LANG_ORDER
    }
    scores_sel = ", ".join(f"{e} AS sc_{lang}" for lang, e in score_exprs.items())
    best = "greatest(" + ", ".join(f"sc_{lang}" for lang in TX.LANG_ORDER) + ")"
    case = "CASE "
    for lang in TX.LANG_ORDER:
        case += f"WHEN sc_{lang} = best THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH toks_t AS (
  SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, lang, {scores_sel} FROM toks_t
)
SELECT doc_id, lang,
  CASE WHEN best > 0 THEN ({case}) ELSE 'und' END AS pred_lang
FROM (SELECT *, {best} AS best FROM scored)
"""


def _oracle_quality_sql() -> str:
    stop_in = ", ".join(f"'{w}'" for w in TX.STOPWORDS)
    return f"""
WITH toks_t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
)
SELECT doc_id,
  round(CASE WHEN len(toks) > 0 THEN
    0.4 * least(1.0, len(toks)::DOUBLE / 50.0)
    + 0.4 * (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE)
    + 0.2 * (1.0 - len(list_filter(toks, t -> t IN ({stop_in})))::DOUBLE / len(toks)::DOUBLE)
  ELSE 0.0 END, 4) AS quality
FROM toks_t
"""


_SQL_SHINGLES = (
    "CASE WHEN len(toks) >= {k} THEN "
    "list_transform(range(1, len(toks) - {k} + 2), i -> array_to_string(toks[i:i+{km1}], ' ')) "
    "ELSE [] END"
)


def _shingles_cte(k: int) -> str:
    body = _SQL_SHINGLES.format(k=k, km1=k - 1)
    return f"""
toks_t AS (
  SELECT doc_id, text, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
), sh_t AS (
  SELECT doc_id, text, list_distinct({body}) AS sh FROM toks_t
)"""


# per-row salt of minhash.band_candidate_pairs: 'mhblk:' || band_idx || ':'
_MH_BLK_SALT_SQL = "'mhblk:' || band_idx::VARCHAR || ':'"


def _oracle_minhash_sql() -> str:
    sig_items = ", ".join(
        f"list_min(list_transform(hh, h -> substr(h, {i * 8 + 1}, 8)))"
        for i in range(NUM_MINHASHES)
    )
    band_items = ", ".join(
        "md5(array_to_string(sig[{lo}:{hi}], '|'))".format(
            lo=b * MINHASH_ROWS + 1, hi=(b + 1) * MINHASH_ROWS
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH {_shingles_cte(SHINGLE_K)},
hh_t AS (
  SELECT doc_id, sh,
    list_transform(sh, s -> md5('0:' || s) || md5('1:' || s)) AS hh
  FROM sh_t WHERE len(sh) > 0
),
sig_t AS (
  SELECT doc_id, sh, [{sig_items}] AS sig FROM hh_t
), band_t AS (
  SELECT doc_id, sh, [{band_items}] AS bands FROM sig_t
), band_rows AS (
  SELECT doc_id, i - 1 AS band_idx, bands[i] AS band_hash
  FROM band_t, UNNEST(range(1, {MINHASH_BANDS} + 1)) AS u(i)
), bcnt AS (
  SELECT band_idx, band_hash,
         CAST(ceil(count(*)::DOUBLE / {MINHASH_BAND_CAP}) AS INT) AS nb
  FROM band_rows GROUP BY band_idx, band_hash
), bkt AS (
  SELECT doc_id, band_idx, band_hash,
         ({_oracle_hash_bucket_wide('', salt_sql=_MH_BLK_SALT_SQL)} % nb) AS bucket
  FROM band_rows JOIN bcnt USING (band_idx, band_hash)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bkt a JOIN bkt b USING (band_idx, band_hash, bucket)
  WHERE a.doc_id < b.doc_id
), pairs AS (
  SELECT doc_a, doc_b, sa.sh AS sh_a, sb.sh AS sh_b
  FROM cand
  JOIN band_t sa ON sa.doc_id = doc_a
  JOIN band_t sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b,
  round(len(list_intersect(sh_a, sh_b))::DOUBLE /
        (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))::DOUBLE, 4) AS jaccard
FROM pairs
WHERE round(len(list_intersect(sh_a, sh_b))::DOUBLE /
        (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))::DOUBLE, 4) >= {JACCARD_THRESHOLD}
"""


def _oracle_ingest_screen_sql() -> str:
    """streaming/dedup.screen stated relationally: even ids = accepted
    corpus band index, odd ids = incoming batch; a batch doc survives iff
    no band collides with the corpus index and it is the min id among its
    in-batch band collisions."""
    sig_items = ", ".join(
        f"list_min(list_transform(hh, h -> substr(h, {i * 8 + 1}, 8)))"
        for i in range(NUM_MINHASHES)
    )
    band_items = ", ".join(
        "md5(array_to_string(sig[{lo}:{hi}], '|'))".format(
            lo=b * MINHASH_ROWS + 1, hi=(b + 1) * MINHASH_ROWS
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH {_shingles_cte(SHINGLE_K)},
hh_t AS (
  SELECT doc_id, list_transform(sh, s -> md5('0:' || s) || md5('1:' || s)) AS hh
  FROM sh_t WHERE len(sh) > 0
),
sig_t AS (
  SELECT doc_id, [{sig_items}] AS sig FROM hh_t
), band_t AS (
  SELECT doc_id, [{band_items}] AS bands FROM sig_t
), band_rows AS (
  SELECT doc_id, i AS band_idx, bands[i] AS band_hash
  FROM band_t, UNNEST(range(1, {MINHASH_BANDS} + 1)) AS u(i)
), corpus_b AS (
  SELECT band_idx, band_hash FROM band_rows WHERE doc_id % 2 = 0
), batch_b AS (
  SELECT * FROM band_rows WHERE doc_id % 2 = 1
), hit AS (
  SELECT DISTINCT b.doc_id FROM batch_b b
  JOIN corpus_b c ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
), clean AS (
  SELECT * FROM batch_b WHERE doc_id NOT IN (SELECT doc_id FROM hit)
), keeper AS (
  SELECT band_idx, band_hash, min(doc_id) AS k
  FROM clean GROUP BY band_idx, band_hash
), rejected AS (
  SELECT DISTINCT c.doc_id FROM clean c
  JOIN keeper USING (band_idx, band_hash) WHERE c.doc_id != k
)
SELECT DISTINCT doc_id FROM clean
WHERE doc_id NOT IN (SELECT doc_id FROM rejected)
"""


def _oracle_simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (instr('0123456789abcdef', h[{p + 1}:{p + 1}]) - 1) >= 8 "
        f"THEN 1 ELSE -1 END)::BIGINT AS s{p}"
        for p in range(16)
    )
    sim = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(16)
    )
    return f"""
WITH {_shingles_cte(2)},
exploded AS (
  SELECT doc_id, md5(unnest(sh)) AS h FROM sh_t
), sums_t AS (
  SELECT doc_id, {sums} FROM exploded GROUP BY doc_id
), sim_t AS (
  SELECT doc_id, ({sim})::BIGINT AS simhash FROM sums_t
)
SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM sim_t GROUP BY simhash HAVING count(*) > 1
"""


def _oracle_ngram_pairs_body() -> str:
    """CTE chain ending in `ngram_pairs(doc_a, doc_b, jaccard)` — shared by
    the dedup_ngram_jaccard oracle and the dedup_clusters recursive CTE."""
    return f"""toks_t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
),
base AS (
  SELECT doc_id, array_to_string(toks[1:2], ' ') AS prefix,
    list_distinct({_SQL_SHINGLES.format(k=SHINGLE_K, km1=SHINGLE_K - 1)}) AS sh
  FROM toks_t
),
nb_t AS (
  SELECT prefix, CAST(ceil(count(*)::DOUBLE / {NGRAM_BLOCK_CAP}) AS INT) AS nb
  FROM base GROUP BY prefix
),
bucketed AS (
  SELECT base.*, ({_oracle_hash_bucket_wide('ngramblk:')} % nb) AS bucket
  FROM base JOIN nb_t USING (prefix)
),
ngram_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE, 4) AS jaccard
  FROM bucketed a JOIN bucketed b
    ON a.prefix = b.prefix AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE, 4) >= 0.2
)"""


def _oracle_hash_bucket(salt: str) -> str:
    """The two-nibble md5 bucket of operators/curation.hash_bucket, stated
    in DuckDB: (nibble1 * 16 + nibble2) of md5(salt || doc_id)."""
    h = f"md5('{salt}' || doc_id::VARCHAR)"
    return (
        f"((instr('0123456789abcdef', {h}[1:1]) - 1) * 16 + "
        f"(instr('0123456789abcdef', {h}[2:2]) - 1))"
    )


def _oracle_hash_bucket_wide(
    salt: str, nibbles: int = 4, salt_sql: str | None = None
) -> str:
    """operators/curation.hash_bucket_wide stated in DuckDB: the first
    `nibbles` md5 nibbles folded big-endian (16**nibbles buckets), so hot
    prefixes can sub-bucket past 256 without going quadratic. `salt_sql`
    (a raw SQL expression) overrides the literal salt for per-row salts —
    the band-index salt of minhash.band_candidate_pairs."""
    h = f"md5({salt_sql or repr(salt)} || doc_id::VARCHAR)"
    expr = f"(instr('0123456789abcdef', {h}[1:1]) - 1)::BIGINT"
    for i in range(2, nibbles + 1):
        expr = f"({expr} * 16 + (instr('0123456789abcdef', {h}[{i}:{i}]) - 1))"
    return expr


_SQL_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_SQL_PII_URL = "https?://[^ ]+"
_SQL_PII_PHONE = "555-[0-9]{4}"


def _sql_bm25_scored() -> str:
    """DuckDB CTE text producing bm25(doc_id, score) for BM25_TERMS —
    shared by the bm25_topk and hybrid_rrf oracles. Mirrors the Robertson/
    Lucene idf (ln(1+(N−df+½)/(df+½))), k1=1.2 / b=0.75, and the Spark
    tokenizer (single-space split, empties dropped)."""
    from mlvectordb_spark.operators.retrieval import BM25_B, BM25_K1

    tf_cols = ", ".join(
        f"len(list_filter(toks, t -> t = '{t}'))::DOUBLE AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    norm = f"({BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / avgdl))"
    score_terms = " + ".join(
        f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * tf_{i} * {BM25_K1 + 1.0} / (tf_{i} + {norm})"
        for i in range(len(BM25_TERMS))
    )
    return f"""
per_doc AS (
  SELECT doc_id, len(toks)::DOUBLE AS dl, {tf_cols}
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
        FROM documents)
), stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl, {df_cols} FROM per_doc
), bm25 AS (
  SELECT doc_id, {score_terms} AS score
  FROM per_doc CROSS JOIN stats
  WHERE {" + ".join(f"tf_{i}" for i in range(len(BM25_TERMS)))} > 0
)"""


_GOPHER_STOP_IN = ", ".join(f"'{w}'" for w in CUR.GOPHER_STOP_MARKERS)


def _oracle_minhash_est_sql() -> str:
    """Candidate CTE chain identical to _oracle_minhash_sql (same capped
    band buckets), final select = component-match estimate next to the
    exact shingle Jaccard."""
    from mlvectordb_spark.operators.minhash import NUM_MINHASHES

    sig_items = ", ".join(
        f"list_min(list_transform(hh, h -> substr(h, {i * 8 + 1}, 8)))"
        for i in range(NUM_MINHASHES)
    )
    band_items = ", ".join(
        "md5(array_to_string(sig[{lo}:{hi}], '|'))".format(
            lo=b * MINHASH_ROWS + 1, hi=(b + 1) * MINHASH_ROWS
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH {_shingles_cte(SHINGLE_K)},
hh_t AS (
  SELECT doc_id, sh,
    list_transform(sh, s -> md5('0:' || s) || md5('1:' || s)) AS hh
  FROM sh_t WHERE len(sh) > 0
),
sig_t AS (
  SELECT doc_id, sh, [{sig_items}] AS sig FROM hh_t
), band_t AS (
  SELECT doc_id, sh, [{band_items}] AS bands FROM sig_t
), band_rows AS (
  SELECT doc_id, i - 1 AS band_idx, bands[i] AS band_hash
  FROM band_t, UNNEST(range(1, {MINHASH_BANDS} + 1)) AS u(i)
), bcnt AS (
  SELECT band_idx, band_hash,
         CAST(ceil(count(*)::DOUBLE / {MINHASH_BAND_CAP}) AS INT) AS nb
  FROM band_rows GROUP BY band_idx, band_hash
), bkt AS (
  SELECT doc_id, band_idx, band_hash,
         ({_oracle_hash_bucket_wide('', salt_sql=_MH_BLK_SALT_SQL)} % nb) AS bucket
  FROM band_rows JOIN bcnt USING (band_idx, band_hash)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bkt a JOIN bkt b USING (band_idx, band_hash, bucket)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  round(len(list_filter(range(1, {NUM_MINHASHES} + 1),
                        i -> sa.sig[i] = sb.sig[i]))::DOUBLE
        / {NUM_MINHASHES}, 4) AS est_jaccard,
  round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE,
        4) AS jaccard
FROM cand
JOIN sig_t sa ON sa.doc_id = doc_a
JOIN sig_t sb ON sb.doc_id = doc_b
"""


_CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks,
         CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS INT) + 1 AS n_chunks
  FROM t
), e AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM n
)
SELECT doc_id, chunk_idx::INT AS chunk_idx,
       len(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64))::INT AS n_tokens,
       md5(array_to_string(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')) AS chunk_hash
FROM e
"""


# DSIR (Xie et al. 2023): identical md5 bucket fold + add-one
# smoothing as operators/curation.dsir_log_weights. tt/tr sums pass
# through DOUBLE division, so no HUGEINT reaches the output.
_DSIR_SQL = """
WITH toks_t AS (
  SELECT doc_id, (lang = 'en') AS is_target,
         list_filter(string_split(text, ' '), t -> t != '') AS toks
  FROM documents
), feat_t AS (
  SELECT doc_id, is_target, unnest(toks) AS feat FROM toks_t
  UNION ALL
  SELECT doc_id, is_target, toks[i] || ' ' || toks[i+1] AS feat
  FROM toks_t, UNNEST(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
), bk AS (
  SELECT doc_id, is_target,
    ((((instr('0123456789abcdef', md5('dsir:' || feat)[1:1]) - 1)::BIGINT
       * 16 + (instr('0123456789abcdef', md5('dsir:' || feat)[2:2]) - 1))
       * 16 + (instr('0123456789abcdef', md5('dsir:' || feat)[3:3]) - 1))
       * 16 + (instr('0123456789abcdef', md5('dsir:' || feat)[4:4]) - 1))
      % 4096 AS bucket
  FROM feat_t
), lm AS (
  SELECT bucket, count(*) AS raw_n,
         count(*) FILTER (WHERE is_target) AS tgt_n
  FROM bk GROUP BY bucket
), tot AS (
  SELECT sum(raw_n) AS tr, sum(tgt_n) AS tt FROM lm
), lr AS (
  SELECT bucket,
    ln((tgt_n + 1)::DOUBLE / (tt + 4096)::DOUBLE)
      - ln((raw_n + 1)::DOUBLE / (tr + 4096)::DOUBLE) AS lr
  FROM lm, tot
)
SELECT doc_id, count(*)::BIGINT AS n_feats,
  round(sum(lr), 4) AS log_weight
FROM bk JOIN lr USING (bucket)
GROUP BY doc_id
"""


@entry(oracle=f"""
WITH {_sql_bm25_scored()}
SELECT doc_id, round(score, 4) AS score
FROM bm25
ORDER BY score DESC, doc_id ASC
LIMIT {BM25_K}
""", headline=True)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over `documents` for a fixed term query — the lexical
    half of hybrid search. One corpus scan, zero data shuffles (per-term
    array counts + a 1-row stats broadcast; see operators/retrieval.py).
    Reference analog: the declared search surface (README.md:288) extended
    with the lexical scorer every hybrid deployment pairs with the vector
    index."""
    from mlvectordb_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, BM25_K)


@entry(oracle=f"""
WITH {_sql_bm25_scored()},
lex AS (
  SELECT doc_id, round(score, 4) AS s FROM bm25
  ORDER BY s DESC, doc_id ASC LIMIT {RRF_POOL}
), lex_r AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank_a
  FROM lex
), q AS {_Q_CTE},
vec AS (
  SELECT vec_id AS doc_id, round({_sql_l2sq('embedding', 'qv')}, 4) AS s
  FROM embeddings, q ORDER BY s ASC, doc_id ASC LIMIT {RRF_POOL}
), vec_r AS (
  SELECT doc_id, row_number() OVER (ORDER BY s ASC, doc_id ASC) AS rank_b
  FROM vec
), fused AS (
  SELECT coalesce(lex_r.doc_id, vec_r.doc_id) AS doc_id,
         rank_a::INT AS rank_a, rank_b::INT AS rank_b,
         round(coalesce(1.0 / ({RRF_KRRF} + rank_a), 0)
             + coalesce(1.0 / ({RRF_KRRF} + rank_b), 0), 6) AS rrf
  FROM lex_r FULL JOIN vec_r ON lex_r.doc_id = vec_r.doc_id
)
SELECT doc_id, rank_a, rank_b, rrf FROM fused
ORDER BY rrf DESC, doc_id ASC
LIMIT {RRF_K}
""", headline=True)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval via reciprocal-rank fusion: the
    top-RRF_POOL BM25 list and the top-RRF_POOL L2-KNN list (query =
    QUERY_VID's embedding, corpus keyed by vec_id = doc_id as in
    emb_doc_join), fused as Σ 1/(60+rank). Each ranker touches the corpus
    once with its own shuffle-free plan; the fusion join runs over two
    ≤RRF_POOL-row lists."""
    from mlvectordb_spark.operators.retrieval import bm25_scored, rrf_fuse, with_rank

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == QUERY_VID)
    lex = (
        bm25_scored(docs, BM25_TERMS)
        .withColumn("score", F.round("score", 4))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(RRF_POOL)
    )
    lex_ranked = with_rank(lex, "score", "doc_id", ascending=False)
    vec = (
        knn_df(emb, qdf, RRF_POOL, metric="l2")
        .select(F.col("vec_id").alias("doc_id"), "score")
    )
    vec_ranked = with_rank(vec, "score", "doc_id", ascending=True)
    return rrf_fuse(lex_ranked, vec_ranked, "doc_id", RRF_K, RRF_KRRF)


@entry(oracle=_oracle_minhash_est_sql(), headline=True)
def q_minhash_sim_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash estimator calibration: for every LSH candidate pair, the
    signature-estimated Jaccard (matching components / 8) NEXT TO the
    exact shingle Jaccard — the sketch-vs-truth diagnostic that sizes the
    bands×rows tradeoff on real data. Verifies the signature kernel
    component-by-component (dedup_minhash only checks min-hash collisions
    through band hashes; this oracle checks each of the 8 signature
    components via the estimate). Same bounded candidate generation as
    dedup_minhash; the signature join adds two bounded-side enrichments.

    Shingle sets and signatures come from ONE fused Arrow pass
    (`signature_shingle_table`, guide §4.2 — value parity with the
    Catalyst kernels pinned in tests/test_kernels.py), cached once and
    feeding BOTH the band/candidate pipeline and the estimate join — no
    explode, no agg shuffle, no separate shingle↔signature join."""
    from mlvectordb_spark.operators.minhash import (
        NUM_MINHASHES,
        band_candidate_pairs,
        bands_from_signatures,
        signature_shingle_table,
    )

    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    ss = signature_shingle_table(docs).cache()
    pairs = band_candidate_pairs(bands_from_signatures(ss))
    sh_sig = ss.select(
        "doc_id",
        "sh",
        F.array(*[F.col(f"m{i}") for i in range(NUM_MINHASHES)]).alias("sig"),
    )
    a = sh_sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sh_sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    enriched = pairs.join(a, "doc_a").join(b, "doc_b")
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return enriched.select(
        "doc_a",
        "doc_b",
        F.round(matches.cast("double") / F.lit(float(NUM_MINHASHES)), 4).alias(
            "est_jaccard"
        ),
        F.round(inter / union, 4).alias("jaccard"),
    )


@entry(oracle=_oracle_minhash_sql(), headline=True)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → 8-hash signature → 4 bands → band
    equi-join for candidates → exact jaccard filter. The signature/band
    kernel lives in `operators/minhash.py`, shared verbatim with the
    ingest-time streaming dedup (`streaming/dedup.py`).

    Physical shape (the 100 TB path): the band join shuffles ONLY
    (doc_id, band_idx, band_hash) — shingle sets stay out of the candidate
    shuffle and come back via two enrichment joins against the (cached,
    small-per-doc) shingle table. Never a quadratic self-join; hot band
    buckets (n identical docs → C(n,2) pairs) are capped at
    MINHASH_BAND_CAP via per-band-salted sub-buckets
    (`minhash.band_candidate_pairs`, round-4 verdict #3 — the recall
    tradeoff is disclosed there and mirrored exactly in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    # testdata ships one file per table -> one input partition; fan out
    # before the CPU-heavy shingle/md5 kernels — gated on observed scan
    # parallelism (at real scale the scan is already many-way parallel
    # and a row-local kernel must not shuffle corpus text)
    docs = fan_out_rowlocal(spark, sf_dir, docs)
    # fused Arrow kernel: shingle sets AND signatures in one narrow pass
    # (no explode, no agg shuffle, one-node plan — guide §4.2); value
    # parity with the Catalyst kernels pinned in tests/test_kernels.py
    ss = signature_shingle_table(docs).cache()
    banded = bands_from_signatures(ss)
    pairs = band_candidate_pairs(banded)
    # Enrichment joins carry NO broadcast hint: the shingle table grows
    # linearly with the corpus, so forcing it into a broadcast OOMs at
    # scale (round-2 verdict). The candidate-pair side is the naturally
    # small side; AQE picks broadcast-vs-shuffle from runtime sizes.
    sh_a = ss.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = ss.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    enriched = pairs.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jacc = F.round(inter / union, 4)
    return (
        enriched.withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


@entry(oracle=f"""
WITH {_oracle_ngram_pairs_body()}
SELECT doc_a, doc_b, jaccard FROM ngram_pairs
""", headline=True)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup over prefix-blocked candidates:
    block on 2-token prefix, exact trigram jaccard inside each block.

    A raw prefix block is unbounded — one hot prefix ("the quick ...")
    goes quadratic at corpus scale (round-2 verdict). Hot prefixes are
    therefore sub-bucketed deterministically: wide md5-hash of doc_id
    (4 nibbles, 65 536 values — two nibbles saturated at 256 sub-buckets,
    round-3 advice) modulo ceil(prefix_count / NGRAM_BLOCK_CAP)
    sub-buckets. Expected bucket size is NGRAM_BLOCK_CAP up to
    65 536 * cap ≈ 4.2M docs per prefix (widen `nibbles` past that), so
    pair work stays ~C(cap,2) per bucket — and
    unlike the row_number formulation there is NO per-prefix window sort
    (that window's shuffle was re-executed by both branches of the
    self-join: measured +52% on the bench). The prefix-count side is
    |distinct prefixes| rows — vocabulary-bounded, far below corpus size —
    so it broadcasts. Cross-bucket pairs are a disclosed recall tradeoff
    (the standard blocked-dedup contract)."""
    from mlvectordb_spark.operators.curation import (
        hash_bucket_wide,
        shingle_prefix_table,
    )

    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    # fused Arrow kernel: block prefix AND distinct shingle set in one
    # narrow pass (guide §4.2; value parity with the Catalyst form pinned
    # in tests/test_kernels.py). Materialized ONCE: the prefix-count
    # aggregate, the broadcast-join probe, and both self-join branches all
    # read the checkpointed table — the old shape ran the tokenize+shingle
    # kernel TWICE (once for the prefix counts, once inside the base
    # checkpoint's join).
    st = shingle_prefix_table(docs, k=SHINGLE_K).localCheckpoint()
    nb = st.groupBy("prefix").agg(
        F.ceil(F.count("*") / F.lit(float(NGRAM_BLOCK_CAP))).cast("int").alias("nb")
    )
    base = (
        st.join(F.broadcast(nb), "prefix")
        .withColumn(
            "bucket", hash_bucket_wide(F.col("doc_id"), "ngramblk:") % F.col("nb")
        )
    )
    a = base.select(
        "prefix", "bucket", F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
    )
    b = base.select(
        "prefix", "bucket", F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        a.join(b, ["prefix", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "jaccard")
    )


@entry(oracle=_oracle_simhash_sql(), headline=True)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup: 16-bit simhash per doc (nibble-high-bit majority over
    bigram shingles via explode + groupBy — fully distributed), then bucket
    counts for buckets holding >1 doc."""
    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    exploded = docs.select(
        "doc_id",
        F.explode(F.array_distinct(TX.word_shingles(TX.tokens("text"), 2))).alias(
            "shingle"
        ),
    ).withColumn("h", F.md5(F.col("shingle")))
    aggs = []
    for p in range(16):
        nib = F.instr(F.lit("0123456789abcdef"), F.substring(F.col("h"), p + 1, 1)) - 1
        aggs.append(
            F.sum(F.when(nib >= 8, 1).otherwise(-1)).alias(f"s{p}")
        )
    sums = exploded.groupBy("doc_id").agg(*aggs)
    sim = None
    for p in range(16):
        term = F.when(F.col(f"s{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    simhashed = sums.select("doc_id", sim.cast("bigint").alias("simhash"))
    return (
        simhashed.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# the batch twin of the streaming dedup screen
@entry(oracle=_oracle_ingest_screen_sql())
def q_dedup_ingest_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the ingest-time streaming dedup (`streaming/dedup.py`):
    even doc_ids play the already-accepted corpus (its LSH band index),
    odd doc_ids the incoming micro-batch. Survivors = odd docs whose bands
    collide with neither the corpus index nor a smaller-id batchmate.
    Driver-checks the exact screening semantics the streaming query runs
    per micro-batch — the same shared kernel, no stream required. Both
    band tables are localCheckpointed here, playing the roles their
    streaming counterparts' materializations play (the index is parquet
    on disk, the batch bands are cached per micro-batch in
    screen_and_write) — unchecked, _screen_bands' four references re-ran
    the shingle/md5 kernel per branch (plan audit: 10 scans)."""
    from mlvectordb_spark.streaming.dedup import _screen_bands

    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    corpus_bands = (
        bands_from_shingles(
            shingle_table(docs.filter(F.col("doc_id") % 2 == 0))
        )
        .select("band_idx", "band_hash")
        .localCheckpoint()
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    bands_new = bands_from_shingles(shingle_table(batch)).localCheckpoint()
    survivors, _ = _screen_bands(batch, bands_new, corpus_bands, "doc_id")
    return survivors.select("doc_id")


@entry(oracle=f"""
WITH RECURSIVE {_oracle_ngram_pairs_body()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ngram_pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM ngram_pairs
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, min(b)::BIGINT AS cluster FROM reach GROUP BY a
""", headline=True)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the n-gram
    Jaccard candidate pairs, labeling each clustered doc with the min doc
    id reachable from it (the canonical survivor).

    The pair pipeline (tokenize → shingle → sub-bucket self-join) is
    localCheckpointed BEFORE the component iteration: connected_components
    symmetrizes edges via a self-union, which would otherwise re-execute
    the whole candidate pipeline once per union branch (round-3 verdict —
    heaviest bench entry). Checkpointed, the corpus-scale work runs once
    and the iteration reads materialized pair blocks."""
    from mlvectordb_spark.operators.components import dedup_cluster_assignment

    pairs = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        # lazy: materialized by the component seed's first job, which
        # reads both union branches of the symmetrized edge table from
        # this one RDD — same once-only execution, one less job
        .localCheckpoint(eager=False)
    )
    return dedup_cluster_assignment(pairs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
    )


@entry(oracle=f"""
WITH RECURSIVE {_oracle_ngram_pairs_body()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ngram_pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM ngram_pairs
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clus AS (
  SELECT a AS doc_id, min(b)::BIGINT AS cluster FROM reach GROUP BY a
),
qual AS (
  SELECT doc_id,
    round(CASE WHEN len(toks) > 0 THEN
      0.4 * least(1.0, len(toks)::DOUBLE / 50.0)
      + 0.4 * (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE)
      + 0.2 * (1.0 - len(list_filter(toks, t -> t IN ({", ".join(f"'{w}'" for w in TX.STOPWORDS)})))::DOUBLE / len(toks)::DOUBLE)
    ELSE 0.0 END, 4) AS quality
  FROM toks_t
)
SELECT cluster, keep_id, quality FROM (
  SELECT c.cluster, c.doc_id AS keep_id, q.quality,
    row_number() OVER (
      PARTITION BY c.cluster ORDER BY q.quality DESC, c.doc_id ASC
    ) AS rn
  FROM clus c JOIN qual q USING (doc_id)
) WHERE rn = 1
""", headline=True)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-policy survivor per duplicate cluster: highest
    quality_score wins (ties → min doc id) — the production alternative to
    dedup_clusters' min-id canonical survivor. Reuses the checkpointed
    n-gram candidate pairs and the same component labeling."""
    from mlvectordb_spark.operators.components import (
        dedup_cluster_assignment,
        keep_best_per_cluster,
    )

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    pairs = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    clusters = dedup_cluster_assignment(pairs)
    return keep_best_per_cluster(clusters, docs).select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "keep_id",
        "quality",
    )


@entry(oracle=f"""
WITH RECURSIVE {_oracle_ngram_pairs_body()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ngram_pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM ngram_pairs
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
losers AS (
  SELECT a AS doc_id FROM (
    SELECT a, min(b) AS cluster FROM reach GROUP BY a
  ) WHERE a != cluster
)
SELECT doc_id, n_chars::BIGINT AS n_chars
FROM documents ANTI JOIN losers USING (doc_id)
""")
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT: the surviving corpus — every doc
    except non-canonical duplicate-cluster members (min-id survivor per
    cluster, singletons pass through untouched). One anti-join of the
    corpus against the (duplicate-set-sized) non-survivor list; returns
    (doc_id, n_chars) so the gate hashes real payload, not just ids."""
    from mlvectordb_spark.operators.components import dedup_cluster_assignment

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    losers = (
        dedup_cluster_assignment(pairs)
        .filter(F.col("doc_id") != F.col("cluster"))
        .select("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@entry(oracle="""
WITH a AS (
  SELECT count(*) AS n,
    count(doc_id) AS nn_doc_id, count(DISTINCT doc_id) AS nd_doc_id,
    CAST(min(doc_id) AS VARCHAR) AS mn_doc_id, CAST(max(doc_id) AS VARCHAR) AS mx_doc_id,
    count(text) AS nn_text, count(DISTINCT text) AS nd_text,
    CAST(min(text) AS VARCHAR) AS mn_text, CAST(max(text) AS VARCHAR) AS mx_text,
    count(lang) AS nn_lang, count(DISTINCT lang) AS nd_lang,
    CAST(min(lang) AS VARCHAR) AS mn_lang, CAST(max(lang) AS VARCHAR) AS mx_lang,
    count(source) AS nn_source, count(DISTINCT source) AS nd_source,
    CAST(min(source) AS VARCHAR) AS mn_source, CAST(max(source) AS VARCHAR) AS mx_source,
    count(n_chars) AS nn_n_chars, count(DISTINCT n_chars) AS nd_n_chars,
    CAST(min(n_chars) AS VARCHAR) AS mn_n_chars, CAST(max(n_chars) AS VARCHAR) AS mx_n_chars
  FROM documents
)
SELECT 'doc_id' AS "column", n::BIGINT AS n_rows, nn_doc_id::BIGINT AS n_nonnull,
  nd_doc_id::BIGINT AS n_distinct, mn_doc_id AS min_value, mx_doc_id AS max_value FROM a
UNION ALL SELECT 'text', n::BIGINT, nn_text::BIGINT, nd_text::BIGINT, mn_text, mx_text FROM a
UNION ALL SELECT 'lang', n::BIGINT, nn_lang::BIGINT, nd_lang::BIGINT, mn_lang, mx_lang FROM a
UNION ALL SELECT 'source', n::BIGINT, nn_source::BIGINT, nd_source::BIGINT, mn_source, mx_source FROM a
UNION ALL SELECT 'n_chars', n::BIGINT, nn_n_chars::BIGINT, nd_n_chars::BIGINT, mn_n_chars, mx_n_chars FROM a
""", headline=True)
def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the documents table: one scan, one
    aggregate, |columns| output rows (counts, exact distincts, lexicographic
    min/max as strings)."""
    from mlvectordb_spark.operators.curation import profile_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "text", "lang", "source", "n_chars"])


@entry(oracle=f"""
WITH eval_d AS (
  SELECT * FROM documents WHERE doc_id % {EVAL_SET_MOD} = 0
), corpus AS (
  SELECT * FROM documents WHERE doc_id % {EVAL_SET_MOD} != 0
), gt AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks,
    length(regexp_replace(text, '\\s', '', 'g')) AS nchars
  FROM corpus
), s1 AS (
  SELECT doc_id, text, toks FROM gt
  WHERE len(toks) >= {CUR.GOPHER_MIN_WORDS} AND len(toks) <= {CUR.GOPHER_MAX_WORDS}
    AND len(toks) > 0
    AND round(nchars::DOUBLE / len(toks), 4) >= {CUR.GOPHER_MIN_MEAN_WLEN}
    AND round(nchars::DOUBLE / len(toks), 4) <= {CUR.GOPHER_MAX_MEAN_WLEN}
    AND len(list_filter(toks, x -> x IN ({_GOPHER_STOP_IN}))) >= {CUR.GOPHER_MIN_STOP_HITS}
    AND round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
              / len(toks), 4) >= {CUR.GOPHER_MIN_ALPHA_FRAC}
), s2 AS (
  SELECT doc_id, text, toks FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM s1
  ) WHERE rn = 1
), eval_sh AS (
  SELECT DISTINCT unnest(
    list_distinct({_SQL_SHINGLES.format(k=SHINGLE_K, km1=SHINGLE_K - 1)})
  ) AS shingle
  FROM (SELECT list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
        FROM eval_d)
), flagged AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(
      list_distinct({_SQL_SHINGLES.format(k=SHINGLE_K, km1=SHINGLE_K - 1)})
    ) AS shingle
    FROM s2
  ) WHERE shingle IN (SELECT shingle FROM eval_sh)
), s3 AS (
  SELECT * FROM s2 ANTI JOIN flagged USING (doc_id)
), assigned AS (
  SELECT doc_id, len(toks) AS n_toks,
    CASE WHEN {_oracle_hash_bucket('split:')} >= 230 THEN 'test'
         WHEN {_oracle_hash_bucket('split:')} >= 205 THEN 'val'
         ELSE 'train' END AS split
  FROM s3
)
SELECT split, count(*)::BIGINT AS n_docs,
  sum(n_toks)::BIGINT AS total_tokens,
  sum(doc_id)::BIGINT AS sum_doc_id
FROM assigned GROUP BY split
""", headline=True)
def q_pipeline_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus pipeline, materialized: Gopher hard gate →
    exact dedup (md5 min-id survivor) → eval-set decontamination
    (doc_id % EVAL_SET_MOD == 0 plays the held-out eval slice) → deterministic
    train/val/test split — each stage the already-oracle-verified
    operator, composed in the order a production pretraining corpus runs
    them (cheap row-local gate first, then dedup, then the broadcast
    screen, split last). Output: per-split doc counts, token totals, and
    an id checksum of the FINAL corpus, so the gate verifies the whole
    composition end-to-end, not just each stage in isolation.

    Scale shape: the gate is row-local; dedup is the one md5 shuffle;
    decontamination broadcasts the (small) eval shingle set; the split is
    a per-row hash — the corpus is never joined against anything its own
    size, and each survivor set flows to the next stage as a semi/anti
    join against a strictly shrinking id list."""
    from mlvectordb_spark.operators.curation import (
        assign_split,
        decontaminate,
        gopher_rules,
    )

    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    eval_docs = docs.filter(F.col("doc_id") % EVAL_SET_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % EVAL_SET_MOD != 0)
    # the gate decision is row-local: keep_cols folds gate + filter into
    # the SAME corpus pass (the flag-table semi-join re-scanned the
    # corpus — 2 scans → 1)
    s1 = (
        gopher_rules(corpus, keep_cols=True)
        .filter(F.col("passes_gopher"))
        .select(*corpus.columns)
    )
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    # the post-dedup survivor set feeds THREE consumers (decon shingling,
    # the anti join's left side, the split aggregation): materialize it
    # once or each branch re-runs the gate + dedup lineage (plan audit: 5
    # corpus scans unchecked)
    s2 = (
        s1.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint()
    )
    flagged = decontaminate(s2, eval_docs).select("doc_id")
    s3 = s2.join(flagged, "doc_id", "left_anti")
    return (
        assign_split(s3, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text")).cast("bigint").alias("total_tokens"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        )
    )


@entry(oracle=f"""
WITH c AS (
  SELECT source,
    sum(len(list_filter(string_split(text, ' '), t -> t != '')))::DOUBLE AS n
  FROM documents GROUP BY source
), b AS (
  SELECT source, n,
    pow(n, 0.5) / sum(pow(n, 0.5)) OVER () AS w,
    {BUDGET_FRAC} * sum(n) OVER () AS bud
  FROM c
), rr AS (
  SELECT *, n / w AS r FROM b
), cumt AS (
  SELECT *,
    sum(n) OVER (ORDER BY r, source) - n AS n_before,
    sum(w) OVER () - sum(w) OVER (ORDER BY r, source) + w AS w_from
  FROM rr
), s AS (
  SELECT *, (bud - n_before) >= r * w_from AS saturated FROM cumt
), lvl AS (
  SELECT (any_value(bud)
          - sum(CASE WHEN saturated THEN n ELSE 0 END))
         / sum(CASE WHEN NOT saturated THEN w ELSE 0 END) AS lev
  FROM s
)
SELECT source, n::BIGINT AS n_tokens, saturated,
  round(CASE WHEN saturated THEN n ELSE lvl.lev * w END, 2) AS tokens_target,
  round(CASE WHEN saturated THEN 1.0 ELSE lvl.lev * w / n END, 6) AS sampling_rate
FROM s, lvl
""", headline=True)
def q_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix: water-filling allocation of 40% of corpus tokens
    across sources at temperature alpha=0.5 — saturated (fully-consumed)
    sources keep everything, the rest split the remainder by weight, with
    the water level solved in closed form (no iteration)."""
    from mlvectordb_spark.operators.curation import budget_mixture

    docs = load_table(spark, sf_dir, "documents")
    return budget_mixture(docs, budget_frac=BUDGET_FRAC, alpha=0.5)


@entry(oracle=f"""
WITH toks_t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
  FROM documents
), staged AS (
  SELECT doc_id,
    round(CASE WHEN len(toks) > 0 THEN
      0.4 * least(1.0, len(toks)::DOUBLE / 50.0)
      + 0.4 * (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE)
      + 0.2 * (1.0 - len(list_filter(toks, t -> t IN ({", ".join(f"'{w}'" for w in TX.STOPWORDS)})))::DOUBLE / len(toks)::DOUBLE)
    ELSE 0.0 END, 4) AS q,
    (CASE WHEN len(list_filter(toks, t -> t IN ('the', 'a', 'is', 'of', 'and'))) > 0
          THEN 'en' ELSE 'other' END) AS pred_lang_en_proxy,
    list_min(list_transform(
      CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
        i -> array_to_string(toks[i:i+2], ' ')) ELSE [] END,
      s -> md5(s))) AS fp,
    len(list_filter(toks, t -> t IN ('the', 'a', 'is', 'of', 'and'))) AS sc_en,
    len(list_filter(toks, t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS sc_de,
    len(list_filter(toks, t -> t IN ('el', 'los', 'que', 'es', 'una'))) AS sc_es,
    len(list_filter(toks, t -> t IN ('le', 'les', 'et', 'est', 'une'))) AS sc_fr,
    len(list_filter(toks, t -> t IN ('de5', 'shi4', 'le5', 'zai4', 'he2'))) AS sc_zh
  FROM toks_t
), langed AS (
  SELECT *, CASE WHEN greatest(sc_en, sc_de, sc_es, sc_fr, sc_zh) > 0
    AND sc_en = greatest(sc_en, sc_de, sc_es, sc_fr, sc_zh) THEN 'en'
    ELSE 'not-en' END AS pred_lang
  FROM staged
)
SELECT
  count(*) AS n_input,
  sum(CASE WHEN q >= {CURATION_QUALITY_MIN} THEN 1 ELSE 0 END)::BIGINT AS n_quality,
  sum(CASE WHEN q >= {CURATION_QUALITY_MIN} AND pred_lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_quality_and_lang,
  count(DISTINCT CASE WHEN q >= {CURATION_QUALITY_MIN} AND pred_lang = 'en'
        THEN coalesce(fp, '~') END) AS n_unique
FROM langed
""", headline=True)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation funnel: quality filter → language-ID filter →
    near-dup removal (min-shingle fingerprint, one survivor per
    fingerprint). Emits the per-stage funnel counts.

    All four counts fold into ONE conditional aggregate over ONE scan of
    the corpus: the survivor count equals the number of distinct
    fingerprints among quality+lang passers (row_number-rank-1 per
    fingerprint keeps exactly one row per group), so it's a conditional
    countDistinct, not a window. The round-3 formulation crossJoined three
    separate aggregates over an uncached `staged` — the full text-kernel
    scan ran three times (+82% on the bench; 3 corpus scans at 100 TB).
    Null fingerprints (docs shorter than the shingle width) coalesce to a
    sentinel outside md5's hex alphabet so they form one group, exactly as
    the null-partition window did."""
    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        TX.quality_score("text").alias("q"),
        TX.lang_id_expr("text").alias("pred_lang"),
        TX.min_shingle_fingerprint("text", k=3).alias("fp"),
    )
    ok = (F.col("q") >= CURATION_QUALITY_MIN) & (F.col("pred_lang") == "en")
    return staged.agg(
        F.count("*").alias("n_input"),
        F.sum(F.when(F.col("q") >= CURATION_QUALITY_MIN, 1).otherwise(0))
        .cast("bigint")
        .alias("n_quality"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("bigint").alias("n_quality_and_lang"),
        F.count_distinct(
            F.when(ok, F.coalesce(F.col("fp"), F.lit("~")))
        ).alias("n_unique"),
    )


@entry(oracle=f"""
WITH toks_t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
), sh_t AS (
  SELECT doc_id,
    list_distinct({_SQL_SHINGLES.format(k=SHINGLE_K, km1=SHINGLE_K - 1)}) AS sh
  FROM toks_t
), eval_sh AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM sh_t WHERE doc_id % {EVAL_SET_MOD} = 0
), corpus AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh_t WHERE doc_id % {EVAL_SET_MOD} != 0
), hits AS (
  SELECT doc_id, count(*)::BIGINT AS n_contaminated_shingles
  FROM corpus WHERE shingle IN (SELECT shingle FROM eval_sh)
  GROUP BY doc_id
)
SELECT h.doc_id, h.n_contaminated_shingles, len(s.sh)::BIGINT AS n_shingles
FROM hits h JOIN sh_t s USING (doc_id)
""", headline=True)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 3-word shingle
    with the (deterministic stand-in) eval set, with overlap counts. The
    eval shingle set is broadcast — the corpus is never self-joined."""
    from mlvectordb_spark.operators.curation import decontaminate

    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("doc_id") % EVAL_SET_MOD != 0)
    eval_docs = docs.filter(F.col("doc_id") % EVAL_SET_MOD == 0)
    out = decontaminate(corpus, eval_docs, k=SHINGLE_K)
    return out.select(
        "doc_id",
        F.col("n_contaminated_shingles").cast("bigint").alias(
            "n_contaminated_shingles"
        ),
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
    )


@entry(oracle=f"""
WITH synth AS (
  SELECT doc_id,
    text || ' contact user' || doc_id::VARCHAR
         || '@mail.example.com via http://ex.example.com/d/' || doc_id::VARCHAR
         || ' tel 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
  FROM documents
), s1 AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '{_SQL_PII_EMAIL}'))::BIGINT AS n_emails,
    regexp_replace(text, '{_SQL_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM synth
), s2 AS (
  SELECT doc_id, n_emails,
    len(regexp_extract_all(t1, '{_SQL_PII_URL}'))::BIGINT AS n_urls,
    regexp_replace(t1, '{_SQL_PII_URL}', '<URL>', 'g') AS t2
  FROM s1
), s3 AS (
  SELECT doc_id, n_emails, n_urls,
    len(regexp_extract_all(t2, '{_SQL_PII_PHONE}'))::BIGINT AS n_phones,
    regexp_replace(t2, '{_SQL_PII_PHONE}', '<PHONE>', 'g') AS t3
  FROM s2
)
SELECT doc_id, n_emails, n_urls, n_phones, md5(t3) AS scrub_hash FROM s3
""")
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a deterministically PII-enriched corpus (the
    synthetic testdata carries no emails/urls/phones, so each doc gets a
    derived contact trailer — same derivation in the oracle — making the
    redaction counts and scrubbed-text hash non-trivial)."""
    from mlvectordb_spark.operators.curation import scrub_pii

    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id").cast("string")
    synth = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did,
            F.lit("@mail.example.com via http://ex.example.com/d/"), did,
            F.lit(" tel 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    out = scrub_pii(synth)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_phones").cast("bigint").alias("n_phones"),
        F.md5("scrubbed").alias("scrub_hash"),
    )


@entry(oracle=f"""
WITH b AS (
  SELECT lang, doc_id, {_oracle_hash_bucket('strat:')} AS bucket FROM documents
), kept AS (
  SELECT * FROM b WHERE bucket < CASE lang
    {' '.join(f"WHEN '{s}' THEN {int(r * 256)}" for s, r in sorted(SAMPLE_RATES.items()))}
    ELSE 0 END
)
SELECT lang, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_doc_id
FROM kept GROUP BY lang
""")
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (per-language rates) — summarized
    as per-stratum counts + id checksums so the oracle verifies the exact
    membership, not just the rate."""
    from mlvectordb_spark.operators.curation import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "lang", SAMPLE_RATES, "doc_id")
    return kept.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


@entry(oracle=f"""
WITH b AS (
  SELECT lang, doc_id, {_oracle_hash_bucket('split:')} AS bucket FROM documents
), assigned AS (
  SELECT lang, doc_id,
    CASE WHEN bucket >= 230 THEN 'test'
         WHEN bucket >= 205 THEN 'val'
         ELSE 'train' END AS split
  FROM b
)
SELECT lang, split, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_doc_id
FROM assigned GROUP BY lang, split
""")
def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment, summarized per
    (lang, split) with id checksums."""
    from mlvectordb_spark.operators.curation import assign_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_split(docs, "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        )
    )


@entry(oracle=f"""
WITH h AS (
  SELECT doc_id, md5('epoch0:' || doc_id::VARCHAR) AS k,
    ({_oracle_hash_bucket_wide('epoch0:|shard:', nibbles=8)} % 8)::INT AS shard
  FROM documents
)
SELECT doc_id, shard,
  row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
FROM h
""")
def q_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle as data (operators/export.py): each
    doc's shard (8-way, via `export.shard_of` — the SAME wide-hash pmod
    the export writer ships with, so the oracle gates the actual export
    shard function, round-4 advice) and its position within the shard
    under the permutation order. Verifies the export order end-to-end
    against the oracle; a new salt = a fresh epoch."""
    from mlvectordb_spark.operators.export import shard_of, shuffle_key

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        shuffle_key(F.col("doc_id"), "epoch0:").alias("k"),
        shard_of(F.col("doc_id"), "epoch0:", 8).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


@entry(oracle=f"""
WITH h AS (
  SELECT doc_id,
    md5('pack:' || doc_id::VARCHAR) AS k,
    {_oracle_hash_bucket('pack:')} % 8 AS shard,
    len(list_filter(string_split(text, ' '), t -> t != ''))::BIGINT AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY k, doc_id) - n_tokens AS strt
  FROM h
)
SELECT doc_id, shard, n_tokens,
  (strt // 512)::BIGINT AS seq,
  (strt % 512)::BIGINT AS seq_off
FROM c
""", headline=True)
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concat-and-chunk sequence packing (operators/export.py): docs
    in deterministic pseudorandom order, token stream cut every 512 tokens,
    packed independently within 8 hash shards (a global prefix-sum would be
    a single-reducer window). Output: where each doc's first token lands —
    (shard, seq, seq_off)."""
    from mlvectordb_spark.operators.export import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", TX.token_count("text").cast("bigint").alias("n_tokens")
    )
    return pack_sequences(d, "doc_id", "n_tokens", seq_len=512, n_shards=8)


@entry(oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
  FROM documents
), tf_t AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, token
), df_t AS (
  SELECT token, count(*)::BIGINT AS df FROM tf_t GROUP BY token
), n_t AS (
  SELECT count(*)::DOUBLE AS n_docs FROM documents
), scored AS (
  SELECT doc_id, token, tf * ln(n_docs / df) AS tfidf
  FROM tf_t JOIN df_t USING (token) CROSS JOIN n_t
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
  FROM scored
)
SELECT doc_id, token, rn::INT AS rank, round(tfidf, 4) AS tfidf
FROM ranked WHERE rn <= 3
""", headline=True)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document."""
    from mlvectordb_spark.operators.curation import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return tfidf_top_terms(docs, top_n=3)


@entry(oracle=_CHUNKS_SQL)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 64, stride 48) for
    training-sequence construction; chunks surface as (doc_id, chunk_idx,
    n_tokens, content md5) so chunk-level exact dedup is join-ready."""
    from mlvectordb_spark.operators.curation import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs)


@entry(oracle="""
WITH c AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(list_filter(string_split(text, ' '), t -> t != '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
  round(pow(n_docs, 0.5) / sum(pow(n_docs, 0.5)) OVER (), 6) AS mixture_weight,
  round(least(1.0, pow(n_docs, 0.5) / sum(pow(n_docs, 0.5)) OVER ()
                   * sum(n_docs) OVER () / n_docs), 6) AS sampling_rate
FROM c
""")
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) per-source mixture weights and
    deterministic sampling rates for composing a training mix."""
    from mlvectordb_spark.operators.curation import mixture_weights

    docs = load_table(spark, sf_dir, "documents")
    return mixture_weights(docs)


@entry(oracle="""
WITH c AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(list_filter(string_split(text, ' '), t -> t != '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
  round(pow(n_tokens, 0.5) / sum(pow(n_tokens, 0.5)) OVER (), 6) AS mixture_weight,
  round(least(1.0, pow(n_tokens, 0.5) / sum(pow(n_tokens, 0.5)) OVER ()
                   * sum(n_tokens) OVER () / n_tokens), 6) AS sampling_rate
FROM c
""")
def q_source_mixture_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokens-weighted mixture recipe (weight_by="tokens" — the
    standard pretraining choice when sources differ in average document
    length; round-4 verdict #9 gates BOTH recipe variants)."""
    from mlvectordb_spark.operators.curation import mixture_weights

    docs = load_table(spark, sf_dir, "documents")
    return mixture_weights(docs, weight_by="tokens")


@entry(oracle=f"""
WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks,
    length(regexp_replace(text, '\\s', '', 'g')) AS nchars
  FROM documents
), base AS (
  SELECT doc_id, len(toks)::BIGINT AS n_words,
    CASE WHEN len(toks) > 0
         THEN round(nchars::DOUBLE / len(toks), 4) ELSE 0.0 END AS mean_word_len,
    len(list_filter(toks, x -> x IN ({_GOPHER_STOP_IN})))::BIGINT AS stop_hits,
    CASE WHEN len(toks) > 0
         THEN round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                    / len(toks), 4) ELSE 0.0 END AS alpha_frac
  FROM t
)
SELECT *,
  (n_words >= {CUR.GOPHER_MIN_WORDS} AND n_words <= {CUR.GOPHER_MAX_WORDS}) AS ok_word_count,
  (mean_word_len >= {CUR.GOPHER_MIN_MEAN_WLEN} AND mean_word_len <= {CUR.GOPHER_MAX_MEAN_WLEN}) AS ok_mean_word_len,
  (stop_hits >= {CUR.GOPHER_MIN_STOP_HITS}) AS ok_stopwords,
  (alpha_frac >= {CUR.GOPHER_MIN_ALPHA_FRAC}) AS ok_alpha,
  (n_words >= {CUR.GOPHER_MIN_WORDS} AND n_words <= {CUR.GOPHER_MAX_WORDS}
   AND mean_word_len >= {CUR.GOPHER_MIN_MEAN_WLEN} AND mean_word_len <= {CUR.GOPHER_MAX_MEAN_WLEN}
   AND stop_hits >= {CUR.GOPHER_MIN_STOP_HITS}
   AND alpha_frac >= {CUR.GOPHER_MIN_ALPHA_FRAC}) AS passes_gopher
FROM base
""", headline=True)
def q_doc_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (operators/curation.gopher_rules):
    per-rule boolean flags (word-count bounds, mean-word-length bounds,
    stopword-marker rule, alphabetic-word fraction) and the accept
    conjunction, per document. The hard ingest gate next to the soft
    `doc_quality` ranking score."""
    from mlvectordb_spark.operators.curation import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs)


@entry(oracle=f"""
WITH q AS ({{_QUALITY_BODY}}),
k AS (
  SELECT d.lang, d.doc_id, q.quality
  FROM documents d JOIN q USING (doc_id)
  WHERE ({{_QWS_U}}) < least(1.0, q.quality)
)
SELECT lang, count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS sum_doc_id,
  round(avg(quality), 4) AS avg_quality
FROM k GROUP BY lang
""".replace("{_QUALITY_BODY}", _oracle_quality_sql()).replace(
        "{_QWS_U}",
        f"{_oracle_hash_bucket_wide('qws:', nibbles=8)}::DOUBLE / 4294967296.0",
    ), headline=True)
def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling
    (operators/curation.quality_weighted_sample): each doc kept with
    probability equal to its quality score via an md5-uniform coin keyed
    on doc_id — reproducible importance resampling, per-lang acceptance
    summary."""
    from mlvectordb_spark.operators.curation import quality_weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = quality_weighted_sample(docs)
    return kept.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


@entry(oracle=f"""
WITH toks_t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
), pos_tok AS (
  SELECT doc_id, i AS pos, toks[i] AS tok
  FROM toks_t, UNNEST(range(1, len(toks) + 1)) AS u(i)
), sh_t AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ') AS sh
  FROM toks_t, UNNEST(range(1, len(toks) - {SHINGLE_K} + 2)) AS u(i)
  WHERE len(toks) >= {SHINGLE_K}
), freq AS (
  SELECT sh, count(*) AS n FROM sh_t GROUP BY sh
), cov AS (
  SELECT DISTINCT doc_id, pos + j AS pos
  FROM sh_t JOIN freq USING (sh), UNNEST(range(0, {SHINGLE_K})) AS v(j)
  WHERE freq.n >= 2
), kept AS (
  SELECT p.doc_id, p.pos, p.tok FROM pos_tok p
  ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.pos
), reb AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
    string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
  coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
  coalesce(reb.clean_text, '') AS clean_text
FROM toks_t t LEFT JOIN reb USING (doc_id)
""", headline=True)
def q_doc_strip_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram REMOVAL (RefinedWeb's removal step; doc_dup_ngrams
    is the flagging twin): rebuild each doc from the tokens NOT covered by
    a corpus-duplicated trigram. The oracle hash-checks the rebuilt text
    verbatim."""
    from mlvectordb_spark.operators.curation import strip_duplicate_ngrams

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return strip_duplicate_ngrams(docs, k=SHINGLE_K)


@entry(oracle=f"""
WITH toks_t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
), sh_t AS (
  SELECT doc_id, len(toks) AS n_tokens, i AS pos,
    array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ') AS sh
  FROM toks_t, UNNEST(range(1, len(toks) - {SHINGLE_K} + 2)) AS u(i)
  WHERE len(toks) >= {SHINGLE_K}
), freq AS (
  SELECT sh, count(DISTINCT doc_id) AS n_docs FROM sh_t GROUP BY sh
), cov AS (
  SELECT doc_id, count(DISTINCT pos + j) AS covered
  FROM sh_t JOIN freq USING (sh), UNNEST(range(0, {SHINGLE_K})) AS v(j)
  WHERE freq.n_docs >= 2
  GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
  round(coalesce(cov.covered, 0)::DOUBLE / len(t.toks), 4) AS shared_ngram_frac
FROM toks_t t LEFT JOIN cov USING (doc_id)
WHERE len(t.toks) >= {SHINGLE_K}
""", headline=True)
def q_doc_cross_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-trigram coverage: fraction of each doc's
    token positions covered by a trigram present in >= 2 DISTINCT docs —
    the inter-document boilerplate signal (n-gram-granularity substring
    dedup, Lee et al. 2022), vs doc_dup_ngrams' total-occurrence twin."""
    from mlvectordb_spark.operators.curation import cross_doc_ngram_coverage

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return cross_doc_ngram_coverage(docs, k=SHINGLE_K, min_docs=2)


@entry(oracle=f"""
SELECT doc_id, source, rnk FROM (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY md5('srccap:' || doc_id::VARCHAR), doc_id
    )::BIGINT AS rnk
  FROM documents
) WHERE rnk <= {SOURCE_CAP}
""", headline=True)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap (domain cap): deterministically keep at
    most SOURCE_CAP docs per source by md5 hash-rank — the C4/RefinedWeb
    'no domain dominates the mix' curation step, retry-idempotent."""
    from mlvectordb_spark.operators.curation import cap_per_source

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_source(docs, cap=SOURCE_CAP, salt="srccap:")


# the CMS prefilter is a certified superset prune — final counts are
# exact, so the oracle is the plain GROUP BY ... HAVING at the same
# absolute literal threshold (HEAVY_MIN_COUNT)
@entry(oracle=f"""
WITH t AS (
  SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
), sh AS (
  SELECT unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bigram
  FROM t
)
SELECT bigram, count(*) AS cnt FROM sh
GROUP BY bigram HAVING count(*) >= {HEAVY_MIN_COUNT}
""", headline=True)
def q_heavy_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-prefiltered EXACT heavy hitters (operators/sketches.py):
    bigrams occurring >= HEAVY_MIN_COUNT times (a fixed ABSOLUTE cutoff —
    no corpus-wide stats pass; the only corpus-scale work is the CMS
    matrix reduce). The count-min sketch built in one near-shuffle-free
    pass certifies a candidate SUPERSET (CMS never under-estimates), so
    only candidate occurrences enter the exact groupBy — at 100 TB that
    keeps the billions-strong distinct-value long tail out of the shuffle
    entirely. The final counts are exact, so the oracle is the plain
    GROUP BY ... HAVING with the same literal threshold."""
    from mlvectordb_spark.operators.sketches import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    big = docs.select(
        F.explode(TX.word_shingles(TX.tokens("text"), 2)).alias("bigram")
    )
    return heavy_hitters(big, "bigram", HEAVY_MIN_COUNT).select("bigram", "cnt")


@entry(oracle="""
SELECT lang, round(exp(avg(ln(n_chars::DOUBLE))), 4) AS geomean_chars
FROM documents GROUP BY lang
""")
def q_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF surface): geometric mean of doc
    length per language; oracle is the closed form exp(avg(ln(x)))."""
    from mlvectordb_spark.functions.udfs import geomean

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.round(geomean(F.col("n_chars")), 4).alias("geomean_chars"))
    )


@entry(oracle="""
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
  FROM documents
), freq AS (
  SELECT token, count(*) AS n FROM t GROUP BY token
), tot AS (
  SELECT sum(n) AS tt FROM freq
)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
  round(avg(ln(n::DOUBLE / tt)), 4) AS avg_logprob
FROM t JOIN freq USING (token), tot
GROUP BY doc_id
""", headline=True)
def q_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean log-likelihood of each doc's tokens
    under the corpus's own unigram distribution (the CCNet perplexity
    signal, engine-native)."""
    from mlvectordb_spark.operators.curation import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


# Interpolated bigram LM (operators/curation.bigram_logprob): every
# count is a marginal of the one bigram table; T and V are scalar
# subqueries (DuckDB's window engine — same values, simpler SQL).
# λ literals are ::DOUBLE-cast: bare 0.7 / (1 - 0.7) would be DuckDB
# DECIMALs evaluated exactly (0.3 → double ...99889, products kept
# exact pre-division), drifting ~1 ulp per term from Spark's double
# arithmetic (r12 review, verified empirically: 0.7*3/12 differs).
# With the casts both engines compute the identical doubles,
# including 1−λ = double(1)−double(0.7) = 0.30000000000000004.
@entry(oracle="""
WITH toks_t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
  FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS prev, toks[i+1] AS w
  FROM toks_t, UNNEST(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
), c2_t AS (
  SELECT prev, w, count(*) AS c2 FROM bg GROUP BY prev, w
), lp AS (
  SELECT prev, w,
    ln(0.7::DOUBLE * c2 / sum(c2) OVER (PARTITION BY prev)
       + (1::DOUBLE - 0.7::DOUBLE)
         * (sum(c2) OVER (PARTITION BY w) + 1)::DOUBLE
         / ((SELECT sum(c2) FROM c2_t)
            + (SELECT count(DISTINCT w) FROM c2_t))::DOUBLE) AS logp
  FROM c2_t
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
  round(avg(logp), 4) AS avg_logprob
FROM bg JOIN lp USING (prev, w)
GROUP BY doc_id
""", headline=True)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score (the fidelity step past
    doc_logprob's unigram LM toward CCNet/KenLM perplexity): mean
    log p(w|prev) with λ-interpolated ML bigram + add-one-smoothed
    unigram backoff, all counts marginals of one bigram table. The
    oracle mirrors the marginal conventions with its λ literals
    ::DOUBLE-cast — bare DuckDB numeric literals are DECIMALs whose
    exact arithmetic drifts ~1 ulp per term from Spark's doubles and
    can flip the 4-decimal rounding (r12 review finding)."""
    from mlvectordb_spark.operators.curation import bigram_logprob

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return bigram_logprob(docs)


@entry(oracle=_DSIR_SQL, headline=True)
def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-doc hashed-ngram
    log importance ratio of a target LM (here the English slice of the
    corpus) over the raw corpus LM — the published importance-resampling
    data-selection signal, engine-native. Unigram+bigram features, md5
    buckets (the cross-engine hash), add-one smoothing; the oracle
    restates the identical bucket expression and smoothing in DuckDB."""
    from mlvectordb_spark.operators.curation import dsir_log_weights

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return dsir_log_weights(docs, F.col("lang") == "en")


# The incremental DSIR fold must reproduce the one-shot batch LM exactly
# (counts are additive; the shared feature stream and scoring tail make
# the arithmetic identical), so its oracle IS doc_dsir_weights' SQL.
@entry(oracle=_DSIR_SQL)
def q_dsir_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABLE form of the DSIR LM (operators/dsir.DSIRState —
    the incremental-PCA pattern applied to the r12 DSIR operator): the
    documents table folds in three id-ranged micro-batches — each one
    distributed conditional-count pass over its OWN chunk, plus a
    replayed batch that the batch-id watermark must no-op — and scoring
    the whole corpus against the accumulated LM must equal the one-shot
    batch computation bit-for-bit (the oracle is doc_dsir_weights'
    DuckDB SQL verbatim). Gates fold + merge + replay idempotence +
    persistence round-trip + the shared feature/scoring path in one
    oracle.

    Bench semantics: like emb_pca_incremental, the folds run EAGERLY at
    query construction (bench times construction+force); the state dir
    is the per-(entry, pid) _entry_tmpdir slot wiped on re-entry, so
    every run re-folds from empty state."""
    import os

    from mlvectordb_spark.operators.dsir import (
        DSIRState,
        apply_dsir_batch,
    )

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    state_dir = _entry_tmpdir("dsir_inc")
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, "dsir_lm.npz")
    pred = F.col("lang") == "en"
    chunks = [docs.filter(F.col("doc_id") % 3 == m) for m in range(3)]
    for bid, chunk in enumerate(chunks):
        apply_dsir_batch(path, chunk, bid, pred)
    apply_dsir_batch(path, chunks[1], 1, pred)  # replay → must no-op
    return DSIRState.load(path).score(docs)


@entry(oracle=f"""
WITH toks_t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
), sh_t AS (
  SELECT doc_id, len(toks) AS n_tokens, i AS pos,
    array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ') AS sh
  FROM toks_t, UNNEST(range(1, len(toks) - {SHINGLE_K} + 2)) AS u(i)
  WHERE len(toks) >= {SHINGLE_K}
), freq AS (
  SELECT sh, count(*) AS n FROM sh_t GROUP BY sh
), cov AS (
  SELECT doc_id, count(DISTINCT pos + j) AS covered
  FROM sh_t JOIN freq USING (sh), UNNEST(range(0, {SHINGLE_K})) AS v(j)
  WHERE freq.n > 1
  GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
  round(coalesce(cov.covered, 0)::DOUBLE / len(t.toks), 4) AS dup_ngram_frac
FROM toks_t t LEFT JOIN cov USING (doc_id)
WHERE len(t.toks) >= {SHINGLE_K}
""", headline=True)
def q_doc_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate 3-gram coverage per document (Gopher/RefinedWeb 'fraction
    of tokens in duplicated n-grams' filter)."""
    from mlvectordb_spark.operators.curation import duplicate_ngram_coverage

    # testdata ships one file -> fan out before the CPU-heavy shingle
    # kernel (no-op knob on a real many-partition table)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return duplicate_ngram_coverage(docs, k=SHINGLE_K)


# the UDTF twin reproduces chunk_documents' exact output, so it shares the
# doc_chunks oracle verbatim
@entry(oracle=_CHUNKS_SQL)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join (the §2.4 table-function surface the
    scalar/grouped pandas UDFs don't cover): identical chunk semantics to
    `doc_chunks`, one input doc -> n_chunks rows, so the two entries share
    one oracle. Row-at-a-time Python by design — the native
    `chunk_documents` remains the hot path; this entry locks the API."""
    from mlvectordb_spark.functions.udfs import chunk_doc_udtf

    spark.udtf.register("chunk_doc", chunk_doc_udtf())
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "docs_udtf_v"
    )
    return spark.sql(
        """
        SELECT doc_id, c.chunk_idx, c.n_tokens, c.chunk_hash
        FROM docs_udtf_v, LATERAL chunk_doc(text, 64, 48) c
        """
    )


@entry(oracle=f"""
SELECT doc_id,
  len(list_filter(string_split(text, ' '), t -> t != ''))::BIGINT AS n_ws_tokens,
  len(regexp_extract_all(text, '{TX.BPE_TOKEN_RE.replace("'", "''")}'))::BIGINT AS n_bpe_tokens
FROM documents
""")
def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgets two ways: whitespace tokens vs the BPE-ish
    pre-tokenizer segmentation (contraction tails, letter/digit/punctuation
    runs) — the model-free estimator of real tokenizer cost. Pure codegen
    regexp, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").cast("bigint").alias("n_ws_tokens"),
        TX.bpe_token_count("text").cast("bigint").alias("n_bpe_tokens"),
    )


@entry(oracle="""
WITH t AS (
  SELECT lang, n_chars,
    len(list_filter(string_split_regex(text, '\\s+'), t -> t != ''))::BIGINT AS ntok
  FROM documents
)
SELECT lang, count(*) AS n_docs, sum(ntok)::BIGINT AS total_tokens,
  round(avg(ntok), 4) AS avg_tokens, max(n_chars) AS max_chars
FROM t GROUP BY lang
""")
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document stats (token counting over the documents
    table)."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = TX.token_count("text").cast("bigint")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ntok).alias("total_tokens"),
            F.round(F.avg(ntok), 4).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@entry(oracle=f"""
WITH c AS (
  SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
), r AS (
  SELECT source,
    round(least(1.0, pow(n_docs, 0.5) / sum(pow(n_docs, 0.5)) OVER ()
                     * sum(n_docs) OVER () / n_docs), 6) AS rate
  FROM c
), k AS (
  SELECT d.source, d.doc_id
  FROM documents d JOIN r USING (source)
  WHERE ({_oracle_hash_bucket_wide('mix:', nibbles=8)}::DOUBLE / 4294967296.0) < rate
)
SELECT source, count(*)::BIGINT AS n_sampled, sum(doc_id)::BIGINT AS sum_doc_id
FROM k GROUP BY source
""", headline=True)
def q_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temperature-scaled mix MATERIALIZED
    (operators/curation.materialize_mixture): docs sampled per-source at
    the rates q_source_mixture prescribes, via the deterministic md5 coin;
    per-source summary of the sampled corpus."""
    from mlvectordb_spark.operators.curation import materialize_mixture

    docs = load_table(spark, sf_dir, "documents")
    kept = materialize_mixture(docs)
    return kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


@entry(oracle=f"""
WITH c AS (
  SELECT source,
    sum(len(list_filter(string_split(text, ' '), t -> t != '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
), r AS (
  SELECT source,
    round(least(1.0, pow(n_tokens, 0.5) / sum(pow(n_tokens, 0.5)) OVER ()
                     * sum(n_tokens) OVER () / n_tokens), 6) AS rate
  FROM c
), k AS (
  SELECT d.source, d.doc_id,
    len(list_filter(string_split_regex(d.text, '\\s+'), t -> t != ''))::BIGINT AS ntok
  FROM documents d JOIN r USING (source)
  WHERE ({_oracle_hash_bucket_wide('mixtok:', nibbles=8)}::DOUBLE / 4294967296.0) < rate
)
SELECT source, count(*)::BIGINT AS n_sampled, sum(ntok)::BIGINT AS n_tokens_sampled,
  sum(doc_id)::BIGINT AS sum_doc_id
FROM k GROUP BY source
""")
def q_mixture_materialize_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokens-weighted mix materialized — same deterministic coin,
    rates from token mass instead of doc counts (the standard pretraining
    recipe when sources differ in average document length)."""
    from mlvectordb_spark.operators.curation import materialize_mixture

    docs = load_table(spark, sf_dir, "documents")
    kept = materialize_mixture(docs, weight_by="tokens", salt="mixtok:")
    return kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.sum(TX.token_count("text")).cast("bigint").alias("n_tokens_sampled"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


@entry(oracle=f"""
WITH toks AS (
  SELECT lang, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok
  FROM documents
), v AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT {VOCAB_SIZE}
  )
), j AS (
  SELECT t.lang, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS miss
  FROM toks t LEFT JOIN v ON t.tok = v.tok
)
SELECT lang, count(*)::BIGINT AS n_tokens, sum(miss)::BIGINT AS n_oov,
  round(sum(miss)::DOUBLE / count(*), 4) AS oov_rate
FROM j GROUP BY lang
""", headline=True)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build a top-V token vocab from corpus
    frequencies (ties broken by token — fully deterministic), then measure
    per-language out-of-vocabulary rate. The standard pre-tokenizer
    diagnostic before committing a vocab size for training.

    Scale shape: the vocab build is the token_freq shuffle (map-side
    partial counts, |distinct tokens| rows) truncated by
    TakeOrderedAndProject; the vocab itself is V rows — genuinely bounded
    by the chosen size, so the coverage join is a broadcast against the
    exploded token stream, no corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(TX.tokens("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("__v"))
    )
    miss = F.when(F.col("__v").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(miss).cast("bigint").alias("n_oov"),
            F.round(F.sum(miss) / F.count("*"), 4).alias("oov_rate"),
        )
    )


@entry(oracle="""
SELECT lang, count(*) AS n_unique_docs FROM (
  SELECT lang, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1 GROUP BY lang
""", headline=True)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep the smallest doc_id per distinct
    text, report survivors count per lang (hash-groupBy dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_unique_docs"))
    )


@entry(oracle="""
WITH t AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS token
  FROM documents
)
SELECT token, count(*) AS n FROM t GROUP BY token
""")
def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram: explode + count (the classic wordcount)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


# rows-only: iterative BPE merges
@entry(headline=True)
def q_doc_bpe_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source SUBWORD token budgets through a real BPE
    (functions/bpe.py): one Arrow map pass counts each doc's BPE tokens
    (merge ranks in the task closure, per-batch word cache, no token
    arrays cross Arrow), one aggregate rolls them up per source next to
    the whitespace word count the other token-budget ops use. Iterative
    BPE merges are not SQL-expressible → rows-only driver check; the
    tokenizer itself is gated by tests/test_bpe.py (hand-computed
    Sennrich merges, driver-vs-distributed parity, round-trip)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = session_bpe(spark, sf_dir)
    counted = tok.count_tokens(docs, "text")
    return (
        counted.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_bpe_tokens").cast("long").alias("bpe_tokens"),
            # blank docs count 0 words: split('', '\s+') yields ['']
            # (size 1), which would skew the per-source whitespace
            # baseline the subword budget is compared against (r8 advice)
            F.sum(
                F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
                    F.size(F.split(F.trim("text"), r"\s+"))
                )
            )
            .cast("long")
            .alias("ws_tokens"),
        )
        .orderBy("source")
    )


@entry(oracle="""
WITH t AS (
  SELECT doc_id,
    array_to_string(list_filter(string_split_regex(text, '\\s+'), t -> t != '')[1:2], ' ') AS prefix
  FROM documents
)
SELECT prefix, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM t GROUP BY prefix HAVING count(*) > 1
""")
def q_dedup_prefix_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-duplicate buckets by 2-token prefix: buckets with >1 doc
    (the blocking stage of a dedup pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(TX.tokens("text"), 1, 2))
    return (
        docs.groupBy(prefix.alias("prefix"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


@entry(oracle=_oracle_lang_id_sql())
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stopword-marker language ID per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", TX.lang_id_expr("text").alias("pred_lang")
    )


@entry(oracle=_oracle_quality_sql(), headline=True)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score per document (length / diversity / density)."""
    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


@entry(oracle=f"""
WITH q AS ({_oracle_quality_sql()})
SELECT least(9, floor(quality * 10))::INT AS bin,
  count(*)::BIGINT AS n_docs,
  round(avg(quality), 4) AS avg_quality,
  round(min(quality), 4) AS min_quality,
  round(max(quality), 4) AS max_quality
FROM q GROUP BY 1
""")
def q_doc_quality_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score histogram over fixed [0,1) decile bins — the corpus
    health dashboard number. Fixed bins, NOT ntile: a global ntile is a
    single-reducer sort at any scale, while floor(quality*10) is a
    zero-shuffle expression plus a 10-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    q = TX.quality_score("text")
    bin_ = F.least(F.lit(9), F.floor(q * 10)).cast("int")
    return (
        docs.select(q.alias("quality"), bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.round(F.min("quality"), 4).alias("min_quality"),
            F.round(F.max("quality"), 4).alias("max_quality"),
        )
    )


@entry(oracle=f"""
WITH {_shingles_cte(3)}
SELECT doc_id, md5(text) AS fp_exact,
  list_min(list_transform(sh_raw, s -> md5(s))) AS fp_minshingle
FROM (
  SELECT doc_id, text,
    {_SQL_SHINGLES.format(k=3, km1=2)} AS sh_raw
  FROM toks_t
)
""", headline=True)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: exact md5 + min-shingle (1-seed minhash)."""
    docs = fan_out_rowlocal(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        TX.doc_fingerprint("text").alias("fp_exact"),
        TX.min_shingle_fingerprint("text", k=3).alias("fp_minshingle"),
    )


@entry(oracle=f"""
WITH toks_t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens,
    round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS ttr, toks
  FROM toks_t WHERE len(toks) > 0
), top_tok AS (
  SELECT doc_id, round(max(n)::DOUBLE / sum(n), 4) AS top_token_frac
  FROM (SELECT doc_id, g, count(*) AS n FROM (
          SELECT doc_id, unnest(toks) AS g FROM base
        ) GROUP BY doc_id, g)
  GROUP BY doc_id
), top_bg AS (
  SELECT doc_id, round(max(n)::DOUBLE / sum(n), 4) AS top_bigram_frac
  FROM (SELECT doc_id, g, count(*) AS n FROM (
          SELECT doc_id, unnest({_SQL_SHINGLES.format(k=2, km1=1)}) AS g
          FROM base
        ) GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.ttr, t.top_token_frac,
  coalesce(g.top_bigram_frac, 0.0) AS top_bigram_frac
FROM base b
JOIN top_tok t USING (doc_id)
LEFT JOIN top_bg g USING (doc_id)
""")
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    type-token ratio, fraction of tokens taken by the single most frequent
    token, and fraction of bigrams taken by the most frequent bigram —
    the standard signals for cutting boilerplate/looping text from a
    pretraining corpus.

    Scale shape: explode→count→max is linear in corpus tokens and shuffles
    on (doc_id, gram) — bounded by doc length per group, no per-doc O(n²)
    higher-order-function loops (HOF lambdas are interpreted and a
    nested count-within-transform would go quadratic per doc)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = docs.select("doc_id", TX.tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    base = toks.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("toks")) / F.size("toks"), 4
        ).alias("ttr"),
    )
    top_tok = (
        toks.select("doc_id", F.explode("toks").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("top_n"), F.sum("n").alias("tot_n")
        )
        .select(
            "doc_id",
            F.round(F.col("top_n") / F.col("tot_n"), 4).alias(
                "top_token_frac"
            ),
        )
    )
    top_bg = (
        toks.select(
            "doc_id",
            F.explode(TX.word_shingles(F.col("toks"), 2)).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_n"), F.sum("n").alias("tot_n"))
        .select(
            "doc_id",
            F.round(F.col("top_n") / F.col("tot_n"), 4).alias(
                "top_bigram_frac"
            ),
        )
    )
    return (
        base.join(top_tok, "doc_id")
        .join(top_bg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "ttr",
            "top_token_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias(
                "top_bigram_frac"
            ),
        )
    )


@entry(oracle="""
SELECT doc_id, len(list_filter(string_split(text, ' '), t -> t != ''))::BIGINT AS n_tokens
FROM documents
""")
def q_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-batched — the sanctioned Python escape
    hatch): token counting in pandas, oracle-checked against the native
    split. Demonstrates the UDF surface; the native expression remains the
    hot path."""
    from mlvectordb_spark.functions.udfs import py_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", py_token_count(F.col("text")).alias("n_tokens"))


@entry(oracle="""
SELECT doc_id, regexp_extract(text, '^(\\w+)', 1) AS first_word,
  regexp_matches(text, '\\bspark\\b') AS mentions_spark
FROM documents
""")
def q_doc_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar functions: leading token + whether the doc mentions
    'spark' as a whole word."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"^(\w+)", 1).alias("first_word"),
        F.col("text").rlike(r"\bspark\b").alias("mentions_spark"),
    )
