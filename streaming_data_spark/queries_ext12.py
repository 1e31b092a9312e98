"""Twelfth query wave — corpus-hygiene operators for training pipelines.

Three operators every large-scale text-curation pipeline runs that the
earlier waves don't cover:

- x21: MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
  SIGMOD'03 — public algorithm) + shared-fingerprint pairs. Unlike
  whole-document Jaccard (x2), winnowing detects PARTIAL overlap —
  a document that embeds a chunk of another — because fingerprints
  are selected locally (min hash of each sliding window of k-gram
  hashes), so any sufficiently long shared substring is guaranteed to
  contribute at least one shared fingerprint.
- x22: Gopher-style repetition metrics (Rae et al. 2021, §A1.1 —
  public heuristics): fraction of the document owned by its most
  frequent token and most frequent word bigram. High values flag
  degenerate/boilerplate docs that dedup misses (they're unique, just
  internally repetitive).
- x23: PII scrubbing: email/phone redaction with per-source audit
  counts. The synthetic corpus has no natural PII, so the query
  plants deterministic contact strings derived from (doc_id, source)
  and then proves the scrubber removes them (residual counts are part
  of the output and must be zero).

Scale notes: x21 is the same bounded equi-join shape as the shingle
join (pairs only materialize through shared fingerprints; winnowing
keeps ~1/w of the k-gram hashes, so the join input is w× smaller than
x2's); x22 is two explode+groupBy passes with map-side combine; x23
is a pure row-local projection + one groupBy on source. No all-pairs
path anywhere.

All hashing is the portable 28-bit md5 idiom (dedup._md5_hash28), so
every query has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_spark.queries import _t

# --------------------------------------------------------------------------
# X21 — winnowing fingerprint overlap
# --------------------------------------------------------------------------

_NGRAM = 3          # word k-grams hashed
_WINNOW_W = 4       # window of consecutive k-gram hashes; keep each window min
_MIN_SHARED = 2     # report pairs sharing at least this many fingerprints
_HOT_FP_CAP = 50    # fingerprints appearing in more docs are boilerplate:
                    # dropped (stopword-style) in BOTH engines, so one hot
                    # fingerprint can't own an O(m²) join task at 100×
                    # (the hot_shingle_cap / bucket_cap analog)


def _gram_strings(n: int) -> F.Column:
    """Ordered (non-distinct) word n-gram strings over ``_sds_toks``."""
    toks = F.col("_sds_toks")
    m = F.size(toks) - n + 1
    parts = [F.slice(toks, j + 1, m) for j in range(n)]
    joined = parts[0]
    for p in parts[1:]:
        joined = F.zip_with(joined, p, lambda x, y: F.concat_ws(" ", x, y))
    return F.when(F.size(toks) >= n, joined).otherwise(
        F.array().cast("array<string>")
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fp) winnowing fingerprint rows — the shared kernel of
    q_x21_winnow_overlap and its MOSS-guarantee property test (one
    definition, so the test always exercises the shipped logic).

    Per doc: word _NGRAM-gram hash sequence (ordered — winnowing is
    position-sensitive), then the min hash of each sliding window of
    _WINNOW_W, deduplicated into the doc's fingerprint set. Docs with
    1..W-1 hashes keep their global min (standard winnowing short-doc
    rule); docs with no n-grams have no fingerprints.
    """
    base = df.withColumn(
        "_sds_toks", F.split(F.trim(F.col(text_col)), r"\s+")
    ).withColumn(
        "_h",
        F.transform(
            _gram_strings(_NGRAM),
            lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
        ),
    )
    nh = F.size("_h")
    fps = (
        F.when(
            nh >= _WINNOW_W,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), nh - (_WINNOW_W - 1)),
                    lambda i: F.array_min(F.slice(F.col("_h"), i, _WINNOW_W)),
                )
            ),
        )
        .when(nh >= 1, F.array(F.array_min("_h")))
        .otherwise(F.array().cast("array<long>"))
    )
    return base.select(F.col(id_col), F.explode(fps).alias("fp"))


def q_x21_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 document pairs by shared winnowing fingerprints, with
    hot fingerprints (doc frequency > _HOT_FP_CAP) dropped before the
    pair join — identically in the SQL oracle — so boilerplate can't
    blow up the equi-join. Pairs sharing >= _MIN_SHARED fingerprints,
    ordered (n_shared desc, id_a, id_b) for a deterministic limit.
    """
    docs = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs)
    hot = fp.groupBy("fp").count().filter(F.col("count") > _HOT_FP_CAP)
    fp = fp.join(hot.select("fp"), "fp", "left_anti")
    a = fp.select(F.col("doc_id").alias("id_a"), "fp")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _MIN_SHARED)
        .orderBy(F.desc("n_shared"), "id_a", "id_b")
        .limit(20)
    )


SQL_X21 = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), hs AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {_NGRAM} THEN
           list_transform(range(1, len(t) - 1),
             i -> ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 7))::BIGINT)
         ELSE [] END AS h
  FROM toks
), fps AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(h) >= {_WINNOW_W} THEN
           list_transform(range(1, len(h) - {_WINNOW_W - 2}),
                          i -> list_min(h[i:i+{_WINNOW_W - 1}]))
         WHEN len(h) >= 1 THEN [list_min(h)]
         ELSE [] END)) AS fp
  FROM hs
), cold AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_HOT_FP_CAP}
), kept AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN cold USING (fp)
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared FROM shared
WHERE n_shared >= {_MIN_SHARED}
ORDER BY n_shared DESC, id_a, id_b
LIMIT 20
"""


# --------------------------------------------------------------------------
# X22 — repetition metrics (Gopher-style quality heuristics)
# --------------------------------------------------------------------------


def q_x22_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most internally-repetitive documents: fraction of tokens
    owned by the most frequent token / most frequent bigram. Ordered
    by (rounded bigram fraction desc, doc_id) so the limit is
    deterministic and engine-agnostic."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    tok_top = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok"), F.sum("c").alias("n_tok"))
    )
    bgs = docs.withColumn(
        "_sds_toks", F.split(F.trim(F.col("text")), r"\s+")
    ).select("doc_id", F.explode(_gram_strings(2)).alias("bg"))
    bg_top = (
        bgs.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bg"), F.sum("c").alias("n_bg"))
    )
    return (
        tok_top.join(bg_top, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("top_tok") / F.col("n_tok"), 6).alias("top_token_frac"),
            F.round(F.col("top_bg") / F.col("n_bg"), 6).alias("top_bigram_frac"),
        )
        .orderBy(F.desc("top_bigram_frac"), "doc_id")
        .limit(20)
    )


SQL_X22 = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
), tok_counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
), tok_top AS (
  SELECT doc_id, max(c) AS top_tok, sum(c) AS n_tok FROM tok_counts GROUP BY 1
), t2 AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), bgs AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM t2
), bg_counts AS (
  SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2
), bg_top AS (
  SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM bg_counts GROUP BY 1
)
SELECT t.doc_id,
       round(t.top_tok * 1.0 / t.n_tok, 6) AS top_token_frac,
       round(b.top_bg * 1.0 / b.n_bg, 6) AS top_bigram_frac
FROM tok_top t JOIN bg_top b ON t.doc_id = b.doc_id
ORDER BY top_bigram_frac DESC, t.doc_id
LIMIT 20
"""


# --------------------------------------------------------------------------
# X23 — PII scrub with audit counts
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


def q_x23_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII-redaction audit. The corpus has no natural PII,
    so each doc gets a deterministic planted contact line (email +
    phone derived from doc_id/source); the scrubber replaces both with
    typed placeholder tags. Output per source: doc count, redaction
    counts, RESIDUAL counts after scrubbing (must be 0 — the proof the
    scrubber caught everything), and a content fingerprint of the
    scrubbed text (min md5) so the oracle verifies the scrubbed BYTES,
    not just the counts."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com or +1-555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(planted, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    rows = docs.select(
        "source",
        F.regexp_count(planted, F.lit(_EMAIL_RE)).alias("n_email"),
        F.regexp_count(planted, F.lit(_PHONE_RE)).alias("n_phone"),
        (
            F.regexp_count(scrubbed, F.lit(_EMAIL_RE))
            + F.regexp_count(scrubbed, F.lit(_PHONE_RE))
        ).alias("n_residual"),
        F.md5(scrubbed).alias("scrub_md5"),
    )
    return rows.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails_redacted"),
        F.sum("n_phone").alias("phones_redacted"),
        F.sum("n_residual").alias("residual_pii"),
        F.min("scrub_md5").alias("scrub_fp"),
    )


SQL_X23 = rf"""
WITH planted AS (
  SELECT source,
         text || ' contact user' || doc_id::VARCHAR || '@' || source
              || '.example.com or +1-555-'
              || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') AS ptext
  FROM documents
), scrubbed AS (
  SELECT source, ptext,
         regexp_replace(regexp_replace(ptext, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS stext
  FROM planted
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(ptext, '{_EMAIL_RE}'))) AS BIGINT) AS emails_redacted,
       CAST(sum(len(regexp_extract_all(ptext, '{_PHONE_RE}'))) AS BIGINT) AS phones_redacted,
       CAST(sum(len(regexp_extract_all(stext, '{_EMAIL_RE}'))
              + len(regexp_extract_all(stext, '{_PHONE_RE}'))) AS BIGINT) AS residual_pii,
       min(md5(stext)) AS scrub_fp
FROM scrubbed
GROUP BY source
"""


# --------------------------------------------------------------------------
# X24 — int8 embedding quantization, reconstruction-error audit
# --------------------------------------------------------------------------


def q_x24_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label reconstruction-error audit of symmetric int8
    quantization (similarity.quantize_int8): mean/worst per-vector max
    absolute error and mean L2 error. The acceptance gate a pipeline
    runs before swapping its ANN index to quantized codes — at 100 TB
    the 4× storage/shuffle cut is only safe if this audit's error
    bounds hold corpus-wide, not on a sample.
    """
    from streaming_data_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    codes = similarity.quantize_int8(emb, "vec_id", "embedding")
    joined = emb.join(codes, "vec_id")
    deq_err = F.zip_with(
        "embedding",
        "qvec",
        lambda x, y: F.abs(x.cast("double") - y.cast("double") * F.col("scale")),
    )
    per_vec = joined.select(
        "label",
        F.array_max(deq_err).alias("max_err"),
        F.sqrt(
            F.aggregate(
                F.transform(deq_err, lambda e: e * e),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ).alias("l2_err"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("max_err"), 6).alias("mean_max_err"),
        F.round(F.max("max_err"), 6).alias("worst_err"),
        F.round(F.avg("l2_err"), 6).alias("mean_l2_err"),
    )


SQL_X24 = r"""
WITH scaled AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
), codes AS (
  SELECT vec_id, label, embedding, scale,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE)
                           / (CASE WHEN scale > 0 THEN scale ELSE 1.0 END)
                           + 0.5) AS INT)) AS qvec
  FROM scaled
), err AS (
  SELECT label,
         list_max(list_transform(range(1, len(embedding) + 1),
           i -> abs(CAST(embedding[i] AS DOUBLE) - qvec[i] * scale))) AS max_err,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
           i -> pow(CAST(embedding[i] AS DOUBLE) - qvec[i] * scale, 2)))) AS l2_err
  FROM codes
)
SELECT label,
       count(*) AS n_vecs,
       round(avg(max_err), 6) AS mean_max_err,
       round(max(max_err), 6) AS worst_err,
       round(avg(l2_err), 6) AS mean_l2_err
FROM err
GROUP BY label
"""


EXT12_QUERIES = {
    "x21_winnow_overlap": q_x21_winnow_overlap,
    "x22_repetition": q_x22_repetition,
    "x23_pii_scrub": q_x23_pii_scrub,
    "x24_quantize_error": q_x24_quantize_error,
}

EXT12_ORACLES = {
    "x21_winnow_overlap": SQL_X21,
    "x22_repetition": SQL_X22,
    "x23_pii_scrub": SQL_X23,
    "x24_quantize_error": SQL_X24,
}
