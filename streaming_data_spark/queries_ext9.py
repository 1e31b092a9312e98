"""Ninth query wave — dedup clustering and training-sequence prep.

Near-dup detection emits PAIRS (x2/x7); a training pipeline needs
CLUSTERS (pick one survivor per duplicate chain) and then needs the
surviving text carved into context windows and packed into fixed-
budget training sequences. x13/x14/x15 are those three steps.

x15's oracle is a DuckDB RECURSIVE CTE replaying the same greedy
first-fit walk row-by-row — packing is a running-reset cumulative sum,
which plain window functions cannot express but linear recursion can.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_spark.operators import chunking, dedup
from streaming_data_spark.queries import _t

# --------------------------------------------------------------------------
# X13 — duplicate clusters: connected components over Jaccard pairs
# --------------------------------------------------------------------------

_EDGE_SQL = r"""
toks AS (
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
), edges AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
)"""


def q_x13_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters on the documents table: Jaccard≥0.8 pairs →
    connected components (large-star/small-star contraction,
    dedup.connected_components_star) → (doc_id, cluster_id,
    cluster_size, is_canonical). The canonical survivor is the
    cluster's min id — drop every row where is_canonical is false and
    the corpus is transitively deduped."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comps = dedup.connected_components_star(pairs, "id_a", "id_b")
    w = Window.partitionBy("cluster_id")
    return comps.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


SQL_X13 = rf"""
WITH RECURSIVE {_EDGE_SQL}, sym AS (
  SELECT id_a AS a, id_b AS b FROM edges
  UNION
  SELECT id_b AS a, id_a AS b FROM edges
), reach AS (
  SELECT DISTINCT a AS id, a AS root FROM sym
  UNION
  SELECT s.b AS id, r.root FROM reach r JOIN sym s ON s.a = r.id
), labels AS (
  SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM labels
"""

# --------------------------------------------------------------------------
# X14 — document chunking (context-window carving)
# --------------------------------------------------------------------------

_CHUNK_TOKENS = 24
_OVERLAP = 4
_STRIDE = _CHUNK_TOKENS - _OVERLAP


def q_x14_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.chunk_documents(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_tokens=_CHUNK_TOKENS, overlap=_OVERLAP,
    )


_CHUNK_SQL_BODY = rf"""
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), nums AS (
  SELECT doc_id, t,
         ceil(greatest(len(t) - {_OVERLAP}, 1) / {float(_STRIDE)})::BIGINT AS nc
  FROM toks
), c AS (
  SELECT doc_id, t, unnest(range(0, nc)) AS chunk_id FROM nums
), chunks AS (
  SELECT doc_id, chunk_id,
         len(list_slice(t, chunk_id * {_STRIDE} + 1,
                        chunk_id * {_STRIDE} + {_CHUNK_TOKENS})) AS n_tokens,
         array_to_string(list_slice(t, chunk_id * {_STRIDE} + 1,
                        chunk_id * {_STRIDE} + {_CHUNK_TOKENS}), ' ') AS chunk_text
  FROM c
)"""

SQL_X14 = f"WITH {_CHUNK_SQL_BODY}\nSELECT doc_id, chunk_id, n_tokens, chunk_text FROM chunks"

# --------------------------------------------------------------------------
# X15 — greedy sequence packing (recursive-CTE oracle)
# --------------------------------------------------------------------------

_MAX_TOKENS = 96
_N_BUCKETS = 8


def q_x15_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk then pack into ≤96-token training sequences. Bucket key is
    pmod(doc_id, 8) — plain modulo instead of the default xxhash64 so
    the DuckDB oracle can replay the identical walk."""
    chunks = chunking.chunk_documents(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_tokens=_CHUNK_TOKENS, overlap=_OVERLAP,
    )
    packed = chunking.pack_sequences(
        chunks, "doc_id", "chunk_id", "n_tokens",
        max_tokens=_MAX_TOKENS, n_buckets=_N_BUCKETS,
        bucket_expr=F.pmod(F.col("doc_id"), F.lit(_N_BUCKETS)),
    )
    return packed.select("doc_id", "chunk_id", "n_tokens", "bucket", "seq_id", "seq_fill")


SQL_X15 = rf"""
WITH RECURSIVE {_CHUNK_SQL_BODY}, b AS (
  SELECT doc_id, chunk_id, n_tokens, (doc_id % {_N_BUCKETS})::INT AS bucket FROM chunks
), ordered AS (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id, chunk_id) AS rn
  FROM b
), pack AS (
  SELECT bucket, rn, doc_id, chunk_id, n_tokens,
         0::BIGINT AS seq_id, n_tokens AS seq_fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.chunk_id, o.n_tokens,
         CASE WHEN p.seq_fill + o.n_tokens > {_MAX_TOKENS}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.seq_fill + o.n_tokens > {_MAX_TOKENS}
              THEN o.n_tokens ELSE p.seq_fill + o.n_tokens END
  FROM pack p JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1
)
SELECT doc_id, chunk_id, n_tokens, bucket, seq_id, seq_fill FROM pack
"""


EXT9_QUERIES = {
    # both names stay registered: the __spark_entry__ window lists the _star one
    "x13_dup_clusters": q_x13_dup_clusters,
    "x13_dup_clusters_star": q_x13_dup_clusters,
    "x14_chunk_documents": q_x14_chunk_documents,
    "x15_pack_sequences": q_x15_pack_sequences,
}

EXT9_ORACLES = {
    "x13_dup_clusters": SQL_X13,
    "x13_dup_clusters_star": SQL_X13,
    "x14_chunk_documents": SQL_X14,
    "x15_pack_sequences": SQL_X15,
}
