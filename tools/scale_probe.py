"""Scale probe: replicate a testdata dir N times and time registry
queries at every replica scale.

Replication is FK-consistent: fact keys (orderkey, event_id, doc_id,
vec_id) are offset per copy, and the dimension tables are copied once,
so N times the fact rows join the same dimensional universe, which is
how real warehouses grow. Document text is suffix-perturbed per copy
and embeddings get a per-copy orthogonal transform, so vocabulary and
near-dup pair volume grow linearly instead of quadratically. A healthy
distributed plan scales at most linearly in rows; superlinear growth
flags a global window, an unbounded join fan-out or a driver
bottleneck. Results are recorded in SCALE.md.

Environment:
  SPARK_GRAFT_SF_DIR     base testdata dir (default: the sf0.1 testdata)
  SPARK_GRAFT_SCALE_DIR  replicas live in $SPARK_GRAFT_SCALE_DIR/sfx{N}
                         (default /tmp)
  SPARK_GRAFT_IO_CODEC   optional spark.io.compression.codec; zstd about
                         halves shuffle spill on text, which the x1000
                         doc-graph legs need on a small disk

Stages, one process each:

    python tools/scale_probe.py replicate N      # sfx{N}; 300/1000 fan sfx100
    python tools/scale_probe.py embeddings1000   # true x1000 embeddings fan
    python tools/scale_probe.py run [QUERY ...]  # default: HEAVY
    python tools/scale_probe.py autoplanes

``run`` times each query at the base and at every replica present,
min-of-2 into the noop sink with the shared pair view dropped per rep,
after autosizing shuffle partitions from the scale's bytes. It prints
one JSON line with the seconds and partitions per scale,
``ratio_x{N}`` against the base and ``seg_x{N}`` against the next
smaller replica. Run heavy queries one process each, so one query's
GC/JIT state cannot skew the next.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp")
DIMS = ("region", "nation", "customer", "supplier", "part")
FACTS = (("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
         ("events", "event_id"))
# Per-copy key stride, far above any base key. The second-stage fan of
# the x100 replica strides by 1e9, above stage 1's 99 * 10M ceiling.
OFF = 10_000_000
OFF2 = 1_000_000_000
# Copy counts built as a second fan of sfx100 (copies of it), so
# Catalyst never sees a 1000-child union. Their embeddings stay a 1x
# copy of the x100 table, because the orthogonal family does not
# compose across stages, until embeddings1000 writes a true fan and
# its marker.
TWO_STAGE = {300: 3, 1000: 10}
EMB_FAN_MARKER = "EMBEDDINGS_X1000_FANNED.json"

HEAVY = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue",
    "a3_ohlcv", "a4_rolling_24h", "x1_exact_dedup", "x2_minhash_lsh",
    "q18_large_orders", "q10_returned_items", "q6_forecast_revenue",
    "q19_disjunctive_revenue", "q16_supplier_cnt", "x16_decontaminate",
    "x17_tfidf_terms", "q9_profit_by_nation_year",
    "q13_order_count_distribution", "q11_heavy_parts",
    "x21_winnow_overlap", "x22_repetition", "x23_pii_scrub",
    "q21_sole_returner", "q2_min_cost_supplier", "q12_priority_split",
    "x25_kmeans_assign", "scd2_history", "funnel_conversion",
    "cohort_retention", "a15_robust_stats", "a16_rolling_zscore",
    "a17_rolling_distinct", "x26_zorder_curve", "x29_fuzzy_match",
    "x30_inverted_index", "x31_bigram_lm", "a18_equidepth_hist",
    "j7_temporal_join", "p14_unpivot", "incremental_rollup",
    "a19_activity_streaks", "a20_rolling_corr", "x2_ngram_jaccard_prefix",
    "x33_centroid_classify", "cdc_snapshot_diff", "a21_candle_resample",
    "f_variant_json", "x34_weighted_sample", "a22_wow_growth",
    "a23_topn_others", "a24_cooccurrence", "funnel_in_session",
    "a25_rolling_median", "a26_window_median", "a27_sma_crossover",
    "a29_ewma", "a30_max_drawdown", "x35_lm_score", "x36_heavy_hitters",
    "a31_target_encode", "x37_feature_hash", "a32_event_transitions",
    "x30_inverted_index_capped", "a33_atr", "a34_rsi", "a35_stochastic",
    "a36_obv", "x38_pmi_collocations", "x39_char_entropy", "x40_bm25",
    "x41_canonical_by_quality", "x42_pagerank", "x43_stratified_split",
    "x44_class_balance", "x45_hard_negatives", "a38_rfm_segments",
    "x54_auc", "x55_winsorize", "x56_assoc_rules", "x57_triangles",
    "a39_seasonal_dow", "x58_knn_classify", "x59_semdedup",
    "a40_anomaly_mad",
]


def replica_dir(copies: int) -> str:
    return os.path.join(SCALE_DIR, f"sfx{copies}")


def _fan(df: DataFrame, copies: int, build) -> DataFrame:
    return reduce(DataFrame.unionByName, (build(df, i) for i in range(copies)))


def _write(df: DataFrame, dst: str, table: str) -> None:
    df.write.mode("overwrite").parquet(f"{dst}/{table}.parquet")


def replicate(
    spark: SparkSession,
    src: str,
    dst: str,
    copies: int,
    *,
    stride: int = OFF,
    tag: str = "c",
    fan_embeddings: bool = True,
) -> None:
    """Write a ``copies``-fold FK-consistent replica of ``src`` to
    ``dst``. Copy ``i`` offsets every fact key by ``i * stride`` and
    suffixes each word of its document text with ``{tag}{i}``. With
    ``fan_embeddings=False`` the embeddings table is copied once."""
    for t in DIMS + (() if fan_embeddings else ("embeddings",)):
        _write(spark.read.parquet(f"{src}/{t}.parquet"), dst, t)
    # events may store ts as TIMESTAMP(NANOS); copy it at the raw-long
    # level so load_table's nanos handling applies identically to dst
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        for t, key in FACTS:
            _write(_fan(spark.read.parquet(f"{src}/{t}.parquet"), copies,
                        lambda d, i, k=key: d.withColumn(
                            k, F.col(k) + F.lit(i * stride))), dst, t)
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    _write(_fan(spark.read.parquet(f"{src}/documents.parquet"), copies,
                lambda d, i: d
                .withColumn("doc_id", F.col("doc_id") + F.lit(i * stride))
                .withColumn("text", F.regexp_replace(
                    "text", r"(\S+)", rf"$1{tag}{i}"))), dst, "documents")
    if fan_embeddings:
        _fan_embeddings(spark, src, dst, copies, stride)


def _embedding_dim(emb: DataFrame, src: str) -> int:
    first = emb.select("embedding").first()
    if first is None or first[0] is None:
        raise SystemExit(
            f"embeddings table at {src} is empty — cannot derive the "
            "transform dimension; regenerate the testdata")
    return len(first[0])


def _fan_embeddings(
    spark: SparkSession, src: str, dst: str, copies: int, stride: int
) -> None:
    """Fan embeddings with a per-copy orthogonal transform: a cyclic
    coordinate shift by the copy index and a copy-dependent sign
    pattern. Within-copy cosines are preserved exactly, while
    cross-copy similarities become generic, so near-dup candidate
    volume grows linearly in copies. A plain vec_id-offset fan would
    make every vector an exact duplicate of its twins, a quadratic
    candidate volume."""
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dim = _embedding_dim(emb, src)
    # Copies i and i' get identical transforms, hence exact duplicates,
    # when i = i' mod lcm(dim, 3).
    if math.lcm(dim, 3) <= copies:
        raise SystemExit(
            f"embedding dim {dim}: lcm(dim, 3) = {math.lcm(dim, 3)} "
            f"<= {copies} copies — per-copy transforms would repeat "
            "and produce exact cross-copy duplicates")

    dtype = emb.schema["embedding"].dataType

    def rot(d: DataFrame, i: int) -> DataFrame:
        if i:  # copy 0 is the untouched base
            d = d.withColumn("embedding", F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.element_at(
                    "embedding", ((j + F.lit(i)) % dim + 1).cast("int")
                ) * F.when((j + F.lit(i)) % 3 == 0, -1.0).otherwise(1.0),
            ).cast(dtype))  # sign flips are exact in the source type
        return d.withColumn("vec_id", F.col("vec_id") + F.lit(i * stride))

    _write(_fan(emb, copies, rot), dst, "embeddings")


def _session() -> SparkSession:
    from streaming_data_spark.session import get_session

    codec = os.environ.get("SPARK_GRAFT_IO_CODEC")
    return get_session(
        app_name="scale-probe",
        extra_conf={"spark.io.compression.codec": codec} if codec else None)


def _replicate_stage(copies: int) -> None:
    spark = _session()
    dst = replica_dir(copies)
    t0 = time.time()
    if copies in TWO_STAGE:
        # this stage writes a 1x embeddings copy, so a marker left by
        # an earlier embeddings1000 fan would now be a lie
        marker = os.path.join(dst, EMB_FAN_MARKER)
        if os.path.exists(marker):
            os.unlink(marker)
        replicate(spark, replica_dir(100), dst, TWO_STAGE[copies],
                  stride=OFF2, tag="d", fan_embeddings=False)
    else:
        replicate(spark, SRC, dst, copies)
    print(json.dumps({"replicated": f"x{copies}", "dir": dst,
                      "sec": round(time.time() - t0, 1)}))
    spark.stop()


def _embeddings_1000() -> None:
    """True x1000 embeddings fan, built in one stage from the base
    table with a 1024-member signed-permutation family (the cyclic
    shift + mod-3 sign family caps at lcm(dim, 3) = 192 copies for
    dim 64).

    Copy i -> shift s = i % dim composed with Walsh sign mask
    q = i // dim:  T_i(v)[j] = v[k] * (-1)^popcount(q & k) with
    k = (j + s) % dim.  Every T_i is a signed permutation, so
    within-copy cosines are preserved exactly.  Two copies share a
    transform only at identical (s, q), never for i != i' < dim * dim.
    For equal shifts and q != q', the pointwise sign product is the
    Walsh function W_{q xor q'}, balanced over [0, dim), so cross-copy
    cosines are ~0 and near-dup pair volume grows linearly.

    vec_id offsets mirror the two-stage documents fan exactly
    (a * OFF for a = i % 100, b * OFF2 for b = i // 100), so
    doc-embedding joins stay aligned per copy."""
    spark = _session()
    dst = replica_dir(1000)
    t0 = time.time()
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = _embedding_dim(emb, SRC)
    copies = 1000
    if dim * dim < copies or (copies + dim - 1) // dim > dim:
        raise SystemExit(
            f"embedding dim {dim}: Walsh family supports dim^2 = "
            f"{dim * dim} copies < {copies}")
    cp = F.col("copy")
    s = (cp % dim).cast("int")
    q = (cp / dim).cast("int")

    def elem(jj):
        k = ((jj + s) % dim).cast("int")
        sign = F.when(F.bit_count(q.bitwiseAND(k)) % 2 == 1,
                      F.lit(-1.0)).otherwise(F.lit(1.0))
        return F.element_at("embedding", k + 1) * sign

    fanned = (
        emb.crossJoin(F.broadcast(
            spark.range(copies).select(F.col("id").alias("copy"))))
        .withColumn("vec_id",
                    F.col("vec_id") + (cp % 100) * F.lit(OFF)
                    + (cp / 100).cast("long") * F.lit(OFF2))
        .withColumn("embedding",
                    F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), elem)
                    .cast("array<float>"))
        .drop("copy")
    )
    _write(fanned, dst, "embeddings")
    meta = {"family": "walsh_signed_permutation", "copies": copies,
            "dim": dim, "source": SRC, "vec_id_strides": [OFF, OFF2]}
    with open(os.path.join(dst, EMB_FAN_MARKER), "w") as fh:
        json.dump(meta, fh, indent=1)
    print(json.dumps({"replicated": "x1000-embeddings", "dir": dst,
                      "sec": round(time.time() - t0, 1), **meta}))
    spark.stop()


def _scales() -> list[tuple[str, str, int]]:
    """(label, dir, copies) for the base and every replica present,
    smallest first."""
    found = []
    if os.path.isdir(SCALE_DIR):
        for d in os.listdir(SCALE_DIR):
            m = re.fullmatch(r"sfx(\d+)", d)
            if m and os.path.isdir(replica_dir(int(m[1]))):
                found.append(int(m[1]))
    base = os.path.basename(os.path.normpath(SRC))
    return [(base, SRC, 1)] + [(f"x{n}", replica_dir(n), n)
                               for n in sorted(found)]


def _fans_embeddings(copies: int) -> bool:
    return copies not in TWO_STAGE or os.path.exists(
        os.path.join(replica_dir(copies), EMB_FAN_MARKER))


def _ratios(times: dict[str, float], labels: list[str]) -> dict[str, float]:
    """ratio_{label} = t / t_base for every replica; seg_{label} =
    t / t of the next smaller replica measured."""
    out: dict[str, float] = {}
    measured = [lb for lb in labels if lb in times]
    for prev, cur in zip(measured, measured[1:]):
        out[f"ratio_{cur}"] = round(times[cur] / times[measured[0]], 2)
        if prev != measured[0]:
            out[f"seg_{cur}"] = round(times[cur] / times[prev], 2)
    return out


def _run(names: list[str]) -> None:
    import __spark_entry__ as entry
    from streaming_data_spark import plans
    from streaming_data_spark.operators import dedup as _dedup
    from streaming_data_spark.session import autosize_shuffle_partitions

    spark = _session()
    # autosize only raises the count; floor each scale at the
    # session's own setting, not at whatever the previous scale set
    floor = max(spark.sparkContext.defaultParallelism,
                int(spark.conf.get("spark.sql.shuffle.partitions")))
    scales = _scales()
    qs = entry.queries()
    result: dict[str, dict[str, float]] = {}
    for name in names:
        fn = qs[name]
        reads_emb = None
        times: dict[str, float] = {}
        for label, d, copies in scales:
            if not _fans_embeddings(copies):
                if reads_emb is None:
                    reads_emb = "embeddings.parquet" in plans.explain_str(
                        fn(spark, SRC))
                if reads_emb:
                    print(f"{name}: skipping {label} (its embeddings table "
                          "is not fanned)", file=sys.stderr)
                    continue
            parts = autosize_shuffle_partitions(spark, d, floor=floor)
            best = float("inf")
            for _ in range(2):
                # standalone cost per rep: the shared pair view would
                # otherwise make rep 2 a warm cache hit
                _dedup.drop_pair_views(spark)
                t0 = time.time()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            times[label] = round(best, 3)
            times[f"parts_{label}"] = parts
            print(f"{name} @{label}: {times[label]}s (parts={parts})",
                  file=sys.stderr, flush=True)
        times.update(_ratios(times, [lb for lb, _, _ in scales]))
        result[name] = times
    print(json.dumps({"probe": "scaling", "queries": result}))
    spark.stop()


def _autoplanes() -> None:
    """cosine_near_dup(n_planes='auto') at every scale whose embeddings
    are fanned: the public scale path for the sign-LSH family, whose
    registry pin (n_planes=4) is the frozen quadratic oracle config."""
    from streaming_data_spark.operators import similarity

    spark = _session()
    scales = [s for s in _scales() if _fans_embeddings(s[2])]
    rpt: dict[str, dict] = {"sec": {}, "planes": {}, "pairs": {}}
    for label, d, _ in scales:
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        n = emb.count()
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            pairs = similarity.cosine_near_dup(
                emb, threshold=0.9, n_planes="auto").count()
            best = min(best, time.time() - t0)
        rpt["sec"][label] = round(best, 3)
        rpt["planes"][label] = similarity.auto_n_planes(n)
        rpt["pairs"][label] = pairs
        print(label, {"rows": n, "sec": rpt["sec"][label],
                      "planes": rpt["planes"][label], "pairs": pairs},
              file=sys.stderr)
    print(json.dumps({"probe": "autoplanes", **rpt,
                      **_ratios(rpt["sec"], [lb for lb, _, _ in scales])}))
    spark.stop()


def main() -> None:
    stage, *rest = sys.argv[1:] or ["run"]
    if stage == "replicate" and len(rest) == 1:
        _replicate_stage(int(rest[0]))
    elif stage == "embeddings1000" and not rest:
        _embeddings_1000()
    elif stage == "autoplanes" and not rest:
        _autoplanes()
    elif stage == "run":
        _run(rest or HEAVY)
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
