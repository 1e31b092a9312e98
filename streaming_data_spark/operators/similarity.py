"""[EXT] Embedding similarity search (SURVEY.md §2.11 X2/X4).

Two tiers, per the PAPERS.md top-k-similarity line of work:

- ``cosine_topk`` — brute-force exact top-k: the query set is tiny and
  BROADCAST; the corpus streams through one narrow map (dot product in
  JVM higher-order functions, no Python) and a per-query top-k window.
  At 100 TB the corpus scan dominates and parallelizes linearly; no
  shuffle of the corpus, only of (n_queries × k) candidate rows.
- ``signlsh_topk`` — LSH-bucketed approximate variant: random-
  hyperplane sign bits bucket the corpus; each query probes its
  bucket and every bucket one bit-flip away. The hyperplanes are
  frozen constants so results are deterministic and testable.

Near-duplicate pairs over the same sign buckets come from one blocked
kernel, ``_lsh_block_pairs``: ``cosine_near_dup``'s scale path calls it
per bucket, and SemDeDup (``queries_ext47.x59_semdedup``) calls it per
(cluster, bucket).

Embeddings are array<float>; math is done in double (cast first) with
left-fold summation so Spark and the DuckDB oracle agree bit-for-bit
before rounding.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

# The blocked kernel's Arrow helper runs inside executor Python workers,
# which need not have this package importable (a driver may run from any
# directory). Registering the module ships its helpers by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _dot(a: Column, b: Column) -> Column:
    """Left-fold double-precision dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cosine(q_vec, c_vec):
    """The one cosine expression every top-k variant scores with."""
    return _dot(q_vec, c_vec) / (_norm(q_vec) * _norm(c_vec))


def _topk_ranked(scored: DataFrame, k: int, extra_cols: tuple = ()) -> DataFrame:
    """The one ranking contract every top-k variant shares: per-query
    (cosine DESC, neighbor_id ASC) deterministic tiebreak, rank <= k,
    cosine rounded to 6. A change to the tiebreak or rounding rule
    lands HERE once, not in four copies (review-pass consolidation)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", *extra_cols, "rank",
            F.round("cosine_raw", 6).alias("cosine"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact brute-force cosine top-k per query vector, the query
    itself excluded.

    Returns (query_id, neighbor_id, rank, cosine) with deterministic
    (cosine desc, neighbor_id asc) ranking.
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    pairs = c.crossJoin(q).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_raw"),
    )
    return _topk_ranked(scored, k)


# Frozen pseudo-random hyperplanes: component (plane, dim) is derived
# from the first 7 md5 hex chars of 'p{plane}:{dim}' — deterministic and
# stable forever. The hash runs ONCE at plan-build time on the driver
# and ships as a literal array; executors do pure arithmetic (the md5
# per row*plane*dim this replaces was the dominant LSH cost).
N_PLANES = 8
_MAX_DIMS = 256


def _plane_component(plane: int, dim_index: int) -> float:
    """Deterministic pseudo-random component in [-1, 1)."""
    import hashlib

    h = int(hashlib.md5(f"p{plane}:{dim_index}".encode()).hexdigest()[:7], 16)
    return (h / float(16 ** 7)) * 2.0 - 1.0


def sign_bucket(vec: Column, n_planes: int = N_PLANES) -> Column:
    """Random-hyperplane sign bucket id (0 .. 2^n_planes-1)."""
    bucket = None
    for p in range(n_planes):
        plane = F.lit([_plane_component(p, d) for d in range(_MAX_DIMS)])
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.slice(plane, 1, F.size(vec)),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj >= 0, F.lit(2 ** p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def auto_n_planes(corpus_rows: int, target_bucket: int = 128) -> int:
    """Plane count that holds EXPECTED bucket occupancy at
    ``target_bucket`` as the corpus grows: ceil(log2(n / target)),
    i.e. 2^planes ∝ n. Per-bucket pair work is Σ bucket² ≈ n²/2^planes,
    so a FIXED plane count is quadratic in n while this rule is linear
    — measured in the r11 x30 probe (4/7/9 planes at 2k/20k/60k
    vectors held the x30 wall to 1.79s vs 9.74s at pinned 4 planes;
    SCALE.md Round-11). Floor 1 (tiny corpora: 2 buckets), cap 32
    (bucket ids stay comfortably in a long even with one-bit-flip
    probes; past 2^32 buckets the knob stops being the bottleneck).

    Computed exactly in integers: float log2 of a quotient can land
    one plane off the occupancy contract (n/2^p in (target/2, target])
    near exact powers of two at large n. bit_length(ceil(n/t) - 1) is
    the exact ceil(log2(n/t)): 2^(p-1)+1 <= ceil(n/t) <= 2^p gives
    t/2 < n/2^p <= t whenever the floor/cap don't bind."""
    if corpus_rows <= target_bucket:
        return 1
    return max(1, min(32, (-(-corpus_rows // target_bucket) - 1).bit_length()))


def _probe_set(home: str, n_planes: int) -> Column:
    """Multi-probe bucket set {home} ∪ {home ^ 2^p}: two vectors meet in
    some probed bucket exactly when their home buckets differ in at
    most one bit."""
    return F.array(
        F.col(home),
        *[F.col(home).bitwiseXOR(F.lit(2 ** p)) for p in range(n_planes)],
    )


def _rows_matrix(arr):
    """(n, d) float64 matrix of an Arrow list array whose rows all hold
    d numbers: one flat copy, no per-row Python step. Vectors of
    different lengths have no cosine, so a ragged batch raises."""
    import numpy as np

    widths = np.diff(np.asarray(arr.offsets))
    if len(arr) and (widths != widths[0]).any():
        raise ValueError(
            "embeddings must all have one length, got lengths "
            f"{sorted(set(widths.tolist()))}"
        )
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype("float64")
    return flat.reshape(len(arr), widths[0] if len(arr) else 0)


def _lsh_block_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int,
    block_cols: tuple = (),
    bucket_cap: int | None = None,
) -> DataFrame:
    """Sign-LSH blocked near-duplicate rows (id_a, id_b, cosine_raw),
    id_a < id_b, cosine_raw >= threshold. A pair is emitted once per
    block it meets in; callers dedup across blocks.

    A block is ``(*block_cols, bucket)``: each vector sits in its home
    bucket and probes every one-bit-flip bucket (``_probe_set``), so
    within one value of ``block_cols`` a pair is found exactly when
    hamming(home_a, home_b) <= 1. Normalize and plane projection run as
    ONE numpy pass per Arrow batch (same frozen planes and sign rule as
    ``sign_bucket``: raw-vector projection >= 0 sets bit 2^p) that
    emits each vector once; the probe fan-out is a JVM ``explode``.
    Within a block the probe rows are matmul'd against the home rows,
    Arrow in and Arrow out — the per-pair work is a BLAS row, not an
    interpreted array fold.

    ``bucket_cap`` keeps only the cap smallest ids of a larger block
    (see ``cosine_near_dup``).
    """
    import numpy as np

    planes = np.array(
        [[_plane_component(p, d) for d in range(_MAX_DIMS)] for p in range(n_planes)]
    )
    blocks = [df.schema[c] for c in block_cols]
    id_field = df.schema[id_col]
    unit_schema = StructType([
        *blocks,
        StructField("_id", id_field.dataType),
        StructField("_u", ArrayType(DoubleType())),
        StructField("home", LongType()),
    ])

    def _bucketize(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            mat = _rows_matrix(batch.column("_v"))
            bits = (mat @ planes[:, : mat.shape[1]].T) >= 0
            home = (bits * (1 << np.arange(n_planes))).sum(axis=1).astype("int64")
            units = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            offsets = np.arange(len(units) + 1, dtype="int32") * units.shape[1]
            yield pa.RecordBatch.from_arrays(
                [
                    *(batch.column(f.name) for f in blocks),
                    batch.column("_id"),
                    pa.ListArray.from_arrays(offsets, units.reshape(-1)),
                    pa.array(home),
                ],
                names=unit_schema.fieldNames(),
            )

    def _bucket_pairs(tbl):
        import numpy as np
        import pyarrow as pa

        ids = tbl.column("_id").to_numpy()
        if bucket_cap is not None and len(ids) > bucket_cap:
            # shuffle delivery order is nondeterministic — keep the cap
            # smallest ids so the kept subset (and the output) is
            # deterministic
            tbl = tbl.take(np.argsort(ids)[:bucket_cap])
            ids = tbl.column("_id").to_numpy()
        mat = _rows_matrix(tbl.column("_u").combine_chunks())
        is_home = tbl.column("home").to_numpy() == tbl.column("bucket").to_numpy()
        sims = mat @ mat[is_home].T
        ia, ib = np.nonzero(sims >= threshold)
        id_a, id_b = ids[ia], ids[is_home][ib]
        lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        keep = lo < hi
        return pa.table(
            {"id_a": lo[keep], "id_b": hi[keep], "cosine_raw": sims[ia, ib][keep]}
        )

    id_type = id_field.dataType.simpleString()
    return (
        df.select(*block_cols, F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .mapInArrow(_bucketize, unit_schema)
        .select(*block_cols, "_id", "_u", "home",
                F.explode(_probe_set("home", n_planes)).alias("bucket"))
        .groupBy(*block_cols, "bucket")
        .applyInArrow(
            _bucket_pairs,
            schema=f"id_a {id_type}, id_b {id_type}, cosine_raw double",
        )
    )


def cosine_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_planes: int | str | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """[EXT X1/X2] Embedding-cosine near-duplicate pairs: (id_a, id_b,
    cosine) for every unordered pair with cosine >= threshold.

    ``n_planes=None`` is the exact all-pairs form (the oracle-matched
    correctness baseline; O(n^2), fine at test SF). ``n_planes=k`` is
    the scale path: the sign-LSH blocked kernel ``_lsh_block_pairs``
    compares only same-or-one-bit-apart buckets — the corpus never
    materializes the full cross product, so cost is
    sum(bucket_size^2) instead of n^2. At 100 TB the bucketed corpus
    is written once partitioned by bucket and the pair scan is
    embarrassingly parallel per bucket.

    ``n_planes="auto"`` (r11 verdict item 4) derives the plane count
    from the corpus cardinality via :func:`auto_n_planes` — ONE
    bounded driver scalar (a count, same protocol class as pagerank's
    node count), then the identical blocked path. The registry query
    stays pinned at 4 planes (its frozen oracle config); auto is the
    deployment mode, keeping expected bucket occupancy near 128 so
    pair work grows linearly with the corpus.

    ``bucket_cap`` (scale knob, analog of ``hot_shingle_cap``) bounds
    the quadratic term per bucket: a bucket holding more than cap
    members is deterministically truncated to its cap smallest ids
    before the matmul, so one mega-bucket (a dense near-identical
    cluster, or a degenerate hyperplane split) can't own an O(m²)
    straggler task at 100×. Capped output is always a SUBSET of the
    uncapped output (only pairs are dropped, surviving cosines are
    identical) — property-tested in tests/test_ext_operators.py.
    """
    if n_planes == "auto":
        n_planes = auto_n_planes(df.count())
    elif n_planes is not None and not isinstance(n_planes, int):
        # Fail fast with a clear message: any other string (e.g. "4"
        # read from a config file) would fall past both branches and
        # die with an opaque TypeError at range(n_planes).
        raise ValueError(
            f"n_planes must be an int, None (exact all-pairs) or "
            f"'auto', got {n_planes!r}"
        )
    if n_planes is not None:
        return (
            _lsh_block_pairs(df, id_col, vec_col, threshold, n_planes,
                             bucket_cap=bucket_cap)
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", F.round("cosine_raw", 6).alias("cosine"))
        )
    # Exact path. Normalize ONCE per vector (one corpus pass) so the
    # pairwise step is a single dot fold instead of dot + two norms —
    # 3× less per-pair work. The left-fold HOF dot keeps float op order
    # identical to the SQL oracle (bit-for-bit before rounding).
    unit = df.withColumn("_n", _norm(F.col(vec_col))).select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_n")).alias("_u"),
    )
    a = unit.select(F.col("_id").alias("id_a"), F.col("_u").alias("a_vec"))
    b = unit.select(F.col("_id").alias("id_b"), F.col("_u").alias("b_vec"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("a_vec"), F.col("b_vec"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine_raw"))
        .filter(F.col("cosine_raw") >= threshold)
        .select("id_a", "id_b", F.round("cosine_raw", 6).alias("cosine"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
) -> DataFrame:
    """[EXT X2] IVF-bucketed approximate cosine top-k.

    Inverted-file ANN: every corpus vector is assigned to its nearest
    centroid (one broadcast join — the "coarse quantizer"), and each
    query searches only its own cell (nprobe=1). Centroids here are the
    ``n_cells`` lowest-id corpus vectors — deterministic, so the whole
    operator is oracle-testable; production would swap in sampled
    KMeans centroids without touching the plan shape.

    Scale path: the centroid table is tiny (n_cells rows) and is
    collected to the driver ONCE; cell assignment is then a pure
    per-row argmax over literal centroid arrays — zero shuffle of the
    corpus (the round-1 crossJoin+window form shuffled the corpus
    ×n_cells on vec_id just to pick an argmax; this is the same math
    with no Exchange at all, asserted in tests/test_plans.py).
    Per-query search work is |cell| ≈ n/n_cells instead of n.
    """
    cent_rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"))
        .collect()
    )
    cents = [(int(r["cid"]), [float(x) for x in r["c_vec"]]) for r in cent_rows]

    def assign(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        # _vn evaluated once per row and reused across candidates; each
        # candidate's expression is arithmetically identical to the SQL
        # oracle's dot/(sqrt(v·v)·sqrt(c·c)) left-fold, so the argmax
        # (and hence the cell) is bit-stable across engines. Struct max
        # is lexicographic: highest sim, ties to the lowest cid.
        with_n = df.withColumn("_vn", _norm(F.col(vecc)))
        cands = F.array(
            *[
                F.struct(
                    (_dot(F.col(vecc), F.lit(cv))
                     / (F.col("_vn") * _norm(F.lit(cv)))).alias("s"),
                    F.lit(-cid).cast("long").alias("negcid"),
                )
                for cid, cv in cents
            ]
        )
        return (
            with_n.withColumn("cell", -F.array_max(cands)["negcid"])
            .drop("_vn")
        )

    c = assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec2")),
        "neighbor_id", "c_vec2",
    )
    q = F.broadcast(
        assign(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
            "query_id", "q_vec",
        )
    )
    scored = (
        c.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("q_vec"), F.col("c_vec2")).alias("cosine_raw"),
        )
    )
    return _topk_ranked(scored, k)


def signlsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Approximate cosine top-k: probe the query's sign-LSH bucket plus
    every bucket one bit-flip away — the standard multi-probe trade: (n_planes+1)/2^n_planes of the corpus scanned
    instead of all of it, recovering the neighbors that sit just
    across one hyperplane.

    The scale path — the corpus is bucketed ONCE (writable as a
    partitioned table); each query joins its probe set instead of the
    whole corpus. Recall < 1 by construction; measured in tests
    against cosine_topk.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    q_base = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        sign_bucket(F.col(vec_col), n_planes).alias("home"),
    )
    q = F.broadcast(
        q_base.select(
            "query_id", "q_vec", F.explode(_probe_set("home", n_planes)).alias("bucket")
        )
    )
    pairs = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_raw"),
    )
    return _topk_ranked(scored, k)


def _assign_nearest(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Cluster assignment: per-row argmin of squared L2 distance to the
    centroid literals (lexicographic struct min — ties to the lowest
    cluster index). Pure per-row arithmetic over broadcast literals:
    ZERO shuffle of the vector table, same plan shape as ``ivf_topk``'s
    cell assignment. Distances are left-fold double sums so the DuckDB
    oracle's ``list_sum(list_transform(...))`` matches bit-for-bit."""
    cands = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("vec"),
                        F.lit(cv),
                        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d2"),
                F.lit(ci).cast("long").alias("cl"),
            )
            for ci, cv in enumerate(cents)
        ]
    )
    return df.withColumn("cluster", F.array_min(cands)["cl"])


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    n_assign: int = 2,
) -> DataFrame:
    """[EXT X25] Distributed Lloyd's k-means over an embedding column —
    the trainer for ``ivf_topk``'s coarse quantizer (production IVF
    replaces the lowest-id placeholder centroids with these).

    Deterministic contract (what makes an iterative ML loop
    oracle-testable): init centroids are the ``k`` lowest-id vectors;
    ``n_assign`` assignment passes run with a centroid update between
    consecutive passes (so ``n_assign=2`` is assign→update→assign);
    ties in the argmin go to the lowest cluster index; updated centroid
    components are element-wise means rounded to 6 dp (distributed sum
    order differs between engines — rounding pins the boundary, the
    same convention every aggregate query in this repo uses).

    Scale design: assignment is a per-row argmin over k broadcast
    literal arrays — no shuffle, no Python. The update posexplodes to
    (cluster, pos, component) and hash-aggregates: map-side partial
    avgs mean the exchange carries only n_partitions × k × d partial
    rows, never n × d. Driver traffic per iteration is the k × d
    centroid table (the same driver-protocol scalar pattern as
    ``ivf_topk``'s cents). Iteration count is a fixed hyperparameter,
    not data-dependent — no convergence loop to straggle at 100 TB.

    Empty clusters keep their previous centroid; callers keep k ≪ n
    so that path stays theoretical (the SQL oracle assumes no empty
    clusters, which holds at every tested scale).
    """
    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    init_rows = base.orderBy(F.col("vid").asc()).limit(k).collect()
    cents: list[list[float]] = [
        [float(x) for x in r["vec"]]
        for r in sorted(init_rows, key=lambda r: r["vid"])
    ]
    assigned = _assign_nearest(base, cents)
    for _ in range(n_assign - 1):
        cent_rows = (
            assigned.select(
                "cluster", F.posexplode(F.col("vec")).alias("pos", "v")
            )
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("val"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in cent_rows:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = float(r["val"])
        cents = [
            [by_cluster[ci][p] for p in sorted(by_cluster[ci])]
            if ci in by_cluster
            else cents[ci]
            for ci in range(k)
        ]
        assigned = _assign_nearest(base, cents)
    return assigned.select(F.col("vid").alias(id_col), "cluster")


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[EXT X24] Symmetric per-vector int8 quantization:
    (id, qvec array<int>, scale double) with v ≈ qvec * scale.

    The standard ANN memory play at 100 TB: float32 embeddings shrink
    4× (the dominant storage + shuffle cost of every similarity job),
    and int8 dot products are what GPU/SIMD kernels want. Per-vector
    symmetric scale = max(|v|)/127; quantized value is
    floor(v/scale + 0.5) — written EXACTLY that way (not round())
    because round()'s half-case mode differs across engines, while
    floor(x + 0.5) is the same deterministic half-up everywhere, so
    the DuckDB oracle matches bit-for-bit. Zero vectors get scale 0
    and all-zero codes (guarded divide). Row-local, shuffle-free.

    Reconstruction error is bounded by scale/2 per element
    (property-tested in tests/test_ext_operators.py).
    """
    vmax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    base = df.withColumn("_sds_scale", vmax / F.lit(127.0))
    safe = F.when(F.col("_sds_scale") > 0, F.col("_sds_scale")).otherwise(F.lit(1.0))
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") / safe + F.lit(0.5)).cast("int"),
    )
    return base.select(
        F.col(id_col),
        q.alias("qvec"),
        F.col("_sds_scale").alias("scale"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Contrastive hard-negative mining: per query vector, the top-k
    most-similar corpus vectors carrying a DIFFERENT label — the pair
    generator behind contrastive/triplet training (public practice:
    in-batch hard negatives, e.g. SimCLR/SBERT-style mining). The
    label filter runs BEFORE ranking, so rank is within the negative
    set (a same-label near-duplicate never displaces a negative).

    Same scale shape as ``cosine_topk``: the bounded query set
    broadcasts, the corpus is scanned once with JVM higher-order
    dot/norm folds, one per-query top-k window; at corpus-scale query
    sets the IVF/LSH bucketing tiers apply unchanged (filter on
    label inside the bucket probe).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.col(label_col).alias("q_label"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("n_label"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("n_label") != F.col("q_label"))
        .select(
            "query_id",
            "neighbor_id",
            "n_label",
            _cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_raw"),
        )
    )
    return _topk_ranked(scored, k, extra_cols=("n_label",))
