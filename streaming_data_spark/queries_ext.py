"""[EXT] driver-contract queries: dedup, similarity search, text
analysis over the documents/embeddings tables (SURVEY.md §2.11).

The MinHash / SimHash oracles are generated programmatically — same
frozen constants as the Spark operators, expanded into plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_spark.operators import dedup, similarity, text
from streaming_data_spark.operators.dedup import MINHASH_PARAMS, MINHASH_PRIME
from streaming_data_spark.queries import _t

# --------------------------------------------------------------------------
# X1 — exact dedup
# --------------------------------------------------------------------------

def q_x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")


SQL_X1 = """
SELECT sha256(text) AS digest, min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents
GROUP BY sha256(text)
"""

# --------------------------------------------------------------------------
# X2a — n-gram Jaccard near-dup pairs
# --------------------------------------------------------------------------

def q_x2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.8
    )


SQL_X2_JACCARD = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
  )) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
"""

# --------------------------------------------------------------------------
# X2a'' — prefix-filtered n-gram Jaccard (PPJoin-family): LOSSLESS
# candidate pruning — identical output to the plain form (and so it
# shares SQL_X2_JACCARD as its oracle), but candidates come only from
# the rarest-first prefixes each qualifying pair MUST intersect in.
# Hot shingles sort last and fall outside every prefix, so the
# stopword fan-out the capped form cuts lossily is skipped here with
# zero recall loss. tests/test_properties.py proves output equality
# with the plain form on random corpora.
# --------------------------------------------------------------------------


def q_x2_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.8
    )


# --------------------------------------------------------------------------
# X2a' — capped n-gram Jaccard: the 100 TB form. Shingles appearing in
# more than `cap` docs are dropped like stopwords BEFORE the pair join,
# bounding join fan-out (one hot trigram would otherwise create
# quadratic candidate pairs). Fully oracle-gated: the pruning is plain
# relational algebra, so DuckDB computes the identical capped result.
# --------------------------------------------------------------------------

_HOT_CAP = 50


def q_x2_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.8, hot_shingle_cap=_HOT_CAP,
    )


SQL_X2_JACCARD_CAPPED = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh_all AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
  )) AS s
  FROM toks
), hot AS (
  SELECT s FROM sh_all GROUP BY s HAVING count(*) > {_HOT_CAP}
), sh AS (
  SELECT doc_id, s FROM sh_all WHERE s NOT IN (SELECT s FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
"""

# --------------------------------------------------------------------------
# X2b — MinHash + LSH near-dup pairs (generated oracle)
# --------------------------------------------------------------------------

_K = 16
_BANDS = 4
_R = _K // _BANDS


def q_x2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=_K, bands=_BANDS, threshold=0.7,
    )


def _minhash_sql() -> str:
    mh_aggs = ",\n    ".join(
        f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS[:_K])
    )
    sig_list = "[" + ", ".join(f"mh{i}" for i in range(_K)) + "]"
    band_keys = ", ".join(
        "(" + " || ',' || ".join(f"mh{bi * _R + j}::VARCHAR" for j in range(_R)) + ")"
        f" AS key{bi}"
        for bi in range(_BANDS)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, sig, {bi} AS band, key{bi} AS key FROM banded"
        for bi in range(_BANDS)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
  )) AS s
  FROM toks
), h AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM sh
), sig AS (
  SELECT doc_id,
    {mh_aggs}
  FROM h GROUP BY doc_id
), banded AS (
  SELECT doc_id, {sig_list} AS sig, {band_keys} FROM sig
), exploded AS (
  {band_union}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM exploded a
  JOIN exploded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  round(list_sum(list_transform(range(1, {_K + 1}),
        i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / {float(_K)}, 6)
    AS est_jaccard
FROM cand
WHERE round(list_sum(list_transform(range(1, {_K + 1}),
        i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / {float(_K)}, 6) >= 0.7
"""


SQL_X2_MINHASH = _minhash_sql()

# --------------------------------------------------------------------------
# X2c — SimHash signatures (generated oracle)
# --------------------------------------------------------------------------

def q_x4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _simhash_sql() -> str:
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(dedup.SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {2 ** j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(dedup.SIMHASH_BITS)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS h FROM toks
), bitsums AS (
  SELECT doc_id,
    {bit_sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {value} AS simhash FROM bitsums
"""


SQL_X4_SIMHASH = _simhash_sql()

# --------------------------------------------------------------------------
# X5 — brute-force cosine top-k (exact ANN baseline)
# --------------------------------------------------------------------------

def q_x5_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.cosine_topk(emb, queries, k=5)


SQL_X5 = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    list_sum(list_transform(range(1, len(e.embedding) + 1),
      i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
        i -> q.q_vec[i]::DOUBLE * q.q_vec[i]::DOUBLE)))
     * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))) AS cosine_raw
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id ASC) AS rank,
    round(cosine_raw, 6) AS cosine
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
"""

# --------------------------------------------------------------------------
# X5b — sign-LSH approximate top-k. Exact-oracle-checkable: the
# hyperplanes are frozen md5-derived constants (similarity.py:82-87),
# so the bucket arithmetic is reproducible in DuckDB — the plane
# component (h/16^7)*2-1 divides an exact integer by a power of two
# (both IEEE-exact), and the projection is the same left-fold dot both
# engines already agree on bit-for-bit for x5/x7/x8.
# --------------------------------------------------------------------------

def q_x5_signlsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    # 4 planes → 16 buckets: right bucket occupancy for the 500-vector
    # test corpus; at 100 TB raise n_planes so buckets stay executor-sized.
    return similarity.signlsh_topk(emb, queries, k=5, n_planes=4)


def _plane_comp_sql(plane: int) -> str:
    """DuckDB expression for similarity._plane_component(plane, i-1)
    with ``i`` the 1-based list index bound by the surrounding
    list_transform. 268435456 = 16^7."""
    return (
        f"((('0x' || substr(md5('p{plane}:' || (i-1)::VARCHAR), 1, 7))::BIGINT"
        " / 268435456.0) * 2.0 - 1.0)"
    )


def sign_bucket_sql(vec: str, n_planes: int) -> str:
    """DuckDB expression mirroring similarity.sign_bucket: bit 2^p set
    iff the left-fold projection of ``vec`` onto frozen plane p is
    >= 0."""
    terms = []
    for p in range(n_planes):
        proj = (
            f"list_sum(list_transform(range(1, len({vec})+1), "
            f"i -> {vec}[i]::DOUBLE * {_plane_comp_sql(p)}))"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {2 ** p} ELSE 0 END)")
    return " + ".join(terms)


def _signlsh_topk_sql(n_planes: int = 4, k: int = 5) -> str:
    cos = (
        "list_sum(list_transform(range(1, len(q.q_vec)+1),"
        " i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(range(1, len(q.q_vec)+1),"
        " i -> q.q_vec[i]::DOUBLE * q.q_vec[i]::DOUBLE)))"
        " * sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),"
        " i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))))"
    )
    probe_list = ", ".join(
        ["home"] + [f"xor(home, {2 ** p})" for p in range(n_planes)]
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         {sign_bucket_sql("embedding", n_planes)} AS bucket
  FROM embeddings
), q0 AS (
  SELECT vec_id AS query_id, embedding AS q_vec, bucket AS home
  FROM b WHERE vec_id < 3
), probes AS (
  SELECT query_id, unnest([{probe_list}]) AS bucket FROM q0
), cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
  FROM b c JOIN probes p ON c.bucket = p.bucket AND c.vec_id <> p.query_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine_raw
  FROM cand
  JOIN q0 q ON q.query_id = cand.query_id
  JOIN embeddings e ON e.vec_id = cand.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_raw DESC, neighbor_id ASC) AS rank,
    round(cosine_raw, 6) AS cosine
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
"""


SQL_X5_SIGNLSH = _signlsh_topk_sql()


# --------------------------------------------------------------------------
# X3/X6 — text metrics (lang-ID, quality, token counts, fingerprint)
# --------------------------------------------------------------------------

def q_x6_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_metrics(_t(spark, sf_dir, "documents"))


def _text_metrics_sql() -> str:
    def hits(lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
        return (
            f"list_sum(list_transform(toks, t -> "
            f"CASE WHEN list_contains([{lst}], t) THEN 1 ELSE 0 END))"
        )

    score_cols = ",\n    ".join(f"{hits(lang)} AS s_{lang}" for lang in text.LANG_PRIORITY)
    mx = "greatest(" + ", ".join(f"s_{lang}" for lang in text.LANG_PRIORITY) + ")"
    lang_case = (
        "CASE WHEN " + mx + " = 0 THEN 'und' "
        + " ".join(
            f"WHEN s_{lang} = {mx} THEN '{lang}'" for lang in text.LANG_PRIORITY
        )
        + " ELSE 'und' END"
    )
    return rf"""
WITH base AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, text, toks,
    {score_cols},
    len(toks) AS n_tok,
    len(regexp_extract_all(text, '{text.TOKEN_PATTERN}')) AS n_bpe,
    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text) AS praw
  FROM base
)
SELECT
  doc_id,
  n_tok AS n_tokens_ws,
  n_bpe AS n_tokens_bpe,
  length(text) AS n_chars_obs,
  round(s_en * 1.0 / n_tok, 6) AS stop_ratio_en,
  round(praw, 6) AS punct_ratio,
  {lang_case} AS lang_guess,
  round(least(1.0, n_tok / 200.0) * 0.3 + (s_en * 1.0 / n_tok) * 0.4 + (1.0 - praw) * 0.3, 6) AS quality,
  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM scored
"""


SQL_X6 = _text_metrics_sql()


EXT_QUERIES = {
    "x1_exact_dedup": q_x1_exact_dedup,
    "x2_ngram_jaccard": q_x2_ngram_jaccard,
    "x2_ngram_jaccard_prefix": q_x2_ngram_jaccard_prefix,
    "x2_ngram_jaccard_capped": q_x2_ngram_jaccard_capped,
    "x2_minhash_lsh": q_x2_minhash_lsh,
    "x4_simhash": q_x4_simhash,
    "x5_cosine_topk": q_x5_cosine_topk,
    "x5_signlsh_topk": q_x5_signlsh_topk,
    "x6_text_metrics": q_x6_text_metrics,
}

EXT_ORACLES = {
    "x1_exact_dedup": SQL_X1,
    "x2_ngram_jaccard": SQL_X2_JACCARD,
    # lossless pruning ⇒ the prefix form answers to the PLAIN oracle
    "x2_ngram_jaccard_prefix": SQL_X2_JACCARD,
    "x2_ngram_jaccard_capped": SQL_X2_JACCARD_CAPPED,
    "x2_minhash_lsh": SQL_X2_MINHASH,
    "x4_simhash": SQL_X4_SIMHASH,
    "x5_cosine_topk": SQL_X5,
    "x5_signlsh_topk": SQL_X5_SIGNLSH,
    "x6_text_metrics": SQL_X6,
}
