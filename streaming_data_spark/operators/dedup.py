"""[EXT] Deduplication operators (SURVEY.md §2.11 X1/X2).

Scale design (the 100 TB constraint — nothing here does a global
all-pairs pass):

- exact dedup: hash-groupBy on a content digest — one shuffle keyed by
  digest; AQE handles skew from pathological duplicates.
- n-gram Jaccard near-dup: shingle→explode→equi-join on shingle →
  per-pair intersection counts. Only pairs SHARING a shingle are ever
  materialized; hot shingles (df > cap) are dropped like stopwords —
  the standard set-similarity-join pruning.
- MinHash: k deterministic universal-hash permutations over a single
  md5-derived base hash; signatures via ONE mapInArrow kernel.
- LSH banding: signatures split into b bands of r rows; candidate
  pairs come from an equi-join on (band index, band key) — join
  fan-out is bounded by bucket sizes, never n².
- SimHash: 32-bit signature via per-bit sign sums — explode tokens,
  ONE groupBy with 32 conditional sums.

All hashing is md5-derived (both Spark and DuckDB expose md5), so
every operator has an exact SQL oracle. Generalizes the reference's
exact-key dedup (drop_duplicates at insert_csv_to_postgres.py:61 and
ON CONFLICT keys, upbit_data_pipeline.py:116).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Mersenne prime 2^31-1; with base hash < 2^28 and a,b < p the
# products stay < 2^59 — no 64-bit overflow in either engine.
MINHASH_PRIME = 2_147_483_647
# Deterministic (a, b) parameter pairs for k=16 universal hashes,
# generated once from a fixed seed and frozen here as constants.
MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (319860338, 1945836712), (1956143625, 717436824),
    (137232829, 1802335202), (2025738368, 386381432),
    (1644055472, 1048108784), (1094126957, 1802194358),
    (1676998832, 909307022), (864914510, 2063853269),
    (560999185, 492388557), (1695263977, 1875936893),
    (1176880740, 1301073852), (1217190995, 1970997088),
    (940730613, 1969702949), (1634523528, 1057290752),
    (632048986, 135477598), (1975904769, 1998987651),
)


def content_digest(cols: list[str] | None = None, text: str | None = None) -> Column:
    """sha2-256 digest of the dedup key (whole-row or content column)."""
    if text is not None:
        return F.sha2(F.col(text), 256)
    return F.sha2(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in (cols or [])]), 256)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X1 — exact dedup on content hash: keep the smallest id per
    digest (deterministic survivor)."""
    return (
        df.select(F.col(id_col), content_digest(text=text_col).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Shape: n shifted ``slice`` views of the token array zipped
    together — each slice is evaluated once per ROW, so the cost is
    linear in document length. (The naive ``transform(sequence(...),
    i -> element_at(toks, i+j))`` form re-evaluates the split per
    element after Catalyst collapses the projection — measured 4.5×
    slower on 1500-token docs and superlinear in doc length.)

    Documents with fewer than ``n`` tokens yield NO shingles (an
    unguarded sequence(0, size-n) would descend into negative indices
    and throw on any short/empty doc — and real corpora always contain
    some). Matches the oracle's empty range(1, len-1) behavior;
    explode drops the doc entirely.
    """
    toks = F.col("_sds_toks")
    m = F.size(toks) - n + 1  # shingle count when size >= n
    parts = [F.slice(toks, j + 1, m) for j in range(n)]
    joined = parts[0]
    for p in parts[1:]:
        joined = F.zip_with(joined, p, lambda x, y: F.concat_ws(" ", x, y))
    grams = F.when(F.size(toks) >= n, joined).otherwise(F.array().cast("array<string>"))
    return (
        df.withColumn("_sds_toks", F.split(F.trim(F.col(text_col)), r"\s+"))
        .select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    hot_shingle_cap: int | None = None,
) -> DataFrame:
    """X2a — near-duplicate pairs by n-gram Jaccard ≥ threshold.

    Pairs materialize only through the shingle equi-join; optional
    ``hot_shingle_cap`` drops shingles appearing in more than that
    many docs (stopword-style pruning — at 100 TB this caps join
    fan-out; correctness loss only for pairs WHOLLY joined by hot
    shingles, the standard trade).
    """
    sh = shingles(df, id_col, text_col, n)
    if hot_shingle_cap:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > hot_shingle_cap)
        sh = sh.join(hot.select("shingle"), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _md5_hash28(col: Column) -> Column:
    """28-bit integer base hash of a shingle/token string: the first 7
    hex chars of md5 via conv. DuckDB computes the identical value, so
    every MinHash/SimHash operator keeps an exact SQL oracle, and the
    value stays < 2^28 so the affine permutations never overflow
    64-bit (see MINHASH_PRIME)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 16
) -> DataFrame:
    """X2b — k-permutation MinHash signature per document, as
    ``(id, sig array<bigint>)`` of length k.

    ONE ``mapInArrow`` batch kernel (guide §4.2 — the x7/x59 numpy
    recipe): tokenize, shingle, md5-base-hash and fold the k affine
    mins per document INSIDE the Python worker, so the plan carries no
    corpus explode, no 16-wide min-aggregate codegen surface, and ZERO
    exchanges (signatures are a per-row function of the document).
    r16: an interleaved same-session A/B against the JVM
    explode+groupBy form read −35% end to end on the x2 pipeline.

    Value-exact vs the JVM expression form by construction:

    - tokens: Java ``split("\\s+", -1)`` on the space-trimmed text ≡
      ``re.split(r"\\s+", text.strip(" "))`` under ``re.ASCII``
      (identical character class [ \\t\\n\\x0B\\f\\r]; both keep
      leading/trailing empty fields; Spark ``trim`` strips 0x20 only).
    - shingle set: same ``" "``-joined n-token windows; min() over the
      distinct SET equals min() over the multiset, so dedup is only a
      work-saver.
    - base hash: ``int.from_bytes(md5(utf8).digest()[:4], "big") >> 4``
      — the first 4 digest bytes big-endian are the first 8 hex chars,
      so shifting out the low nibble leaves exactly the first 7, ≡
      ``int(md5(utf8).hexdigest()[:7], 16)`` ≡
      ``conv(substring(md5(col), 1, 7), 16, 10)`` (property-tested in
      tests; avoids building the 32-char hex string + the base-16
      string parse per shingle).
    - (a·h + b) % p in int64: h < 2^28 and a, b < 2^31 keep every
      product < 2^59 — no overflow in either engine (the same bound
      the JVM form relies on).
    - docs with < n tokens or NULL text emit no row (the explode
      dropped them; the kernel skips them).

    r17 (guide §4.2, second half — cheapen the digests): the base
    hash comes from the raw digest bytes instead of the hex string,
    and a per-task digest memo (bounded: cleared before any insert
    past 1M entries) amortizes md5 across repeated shingles — near-dup
    corpora repeat shingles heavily, and the digest is the kernel's
    dominant term
    (min unaffected: the memo only dedups identical strings, and min
    over a multiset with duplicated values equals min over the set).
    Measured at the x10 replica, interleaved same-session A/B: old
    kernel median 1.166 s / floor 0.974; this shape median 0.972 /
    floor 0.817 (−16%), stable rep-to-rep. A FULLY batched fold
    (per-Arrow-batch flat hash array + k-wide vectorized products +
    per-doc ``np.minimum.reduceat``) was A/B'd and REJECTED: its
    floor was marginally better (0.78) but reps spiked 2.5–8.5 s
    (median 2.5, 2× WORSE than the old kernel; spikes persisted with
    gc disabled — the per-task tens-of-MB ndarray temporaries ×32
    concurrent workers, not collector pressure). Recorded so round
    18+ doesn't retry it.
    """
    import numpy as np  # deferred: keep module import light

    params = MINHASH_PARAMS[:k]
    id_field = df.schema[id_col]
    out_type = f"{id_col} {id_field.dataType.simpleString()}, sig array<bigint>"

    def _gen(batches):
        import hashlib
        import re

        import pyarrow as pa

        a_vec = np.array([p[0] for p in params], dtype=np.int64)
        b_vec = np.array([p[1] for p in params], dtype=np.int64)
        ws = re.compile(r"\s+", re.ASCII)
        md5 = hashlib.md5

        class _DigestMemo(dict):
            def __missing__(self, g):
                v = int.from_bytes(md5(g.encode("utf-8")).digest()[:4], "big") >> 4
                if len(self) >= 1_000_000:  # bound worker RSS per task
                    self.clear()
                self[g] = v
                return v

        memo = _DigestMemo()
        for batch in batches:
            ids = batch.column(0)
            out_ids: list = []
            out_sigs: list = []
            for rid, txt in zip(ids.to_pylist(), batch.column(1).to_pylist()):
                if txt is None:
                    continue
                toks = ws.split(txt.strip(" "))
                m = len(toks) - n + 1
                if m <= 0:
                    continue
                grams = {" ".join(toks[i : i + n]) for i in range(m)}
                hs = np.fromiter(
                    (memo[g] for g in grams), dtype=np.int64, count=len(grams)
                )
                out_ids.append(rid)
                out_sigs.append(
                    ((hs[:, None] * a_vec + b_vec) % MINHASH_PRIME)
                    .min(axis=0)
                    .tolist()
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=ids.type),
                    pa.array(out_sigs, type=pa.list_(pa.int64())),
                ],
                names=[id_col, "sig"],
            )

    # explicit 2-col projection before the opaque function (guide §4.1)
    return df.select(id_col, text_col).mapInArrow(_gen, out_type)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """X2b — MinHash+LSH candidate pairs with estimated Jaccard.

    Bands of r=k/bands rows; candidates = equi-join on (band, band
    key); est. Jaccard = fraction of agreeing signature positions.
    (b=4, r=4) ⇒ S-curve threshold ≈ 0.71.
    """
    r = k // bands
    # Signatures are tiny relative to the corpus (k longs per doc); at
    # scale they'd be materialized to a table. localCheckpoint (not
    # persist) keeps the band self-join from recomputing the shingle→
    # hash pipeline twice AND lets the blocks be reclaimed when the
    # result goes out of scope — an explicit persist here leaked cache
    # across repeated invocations in a long-lived session.
    sig = minhash_signatures(df, id_col, text_col, n, k).localCheckpoint(eager=True)
    # Band key is a FLAT STRUCT of the r signature longs (r16): struct
    # equality is exactly concat-string equality here (long→string is
    # injective under the "," separator the old form used), but the
    # join key is 4 longs instead of a per-row built string — no
    # string materialization, cheaper hashing, narrower exchange.
    banded = sig.select(
        F.col(id_col),
        F.col("sig"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    *[F.col("sig")[bi * r + j].alias(f"k{j}") for j in range(r)],
                )
                for bi in range(bands)
            ])
        ).alias("bk"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "bk")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "bk")
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    # Score and THRESHOLD-FILTER each candidate instance BEFORE the
    # pair dedup (r16, guide §2.3): est_jaccard is a deterministic
    # function of the two signatures, so filter-then-dedup emits the
    # identical pair set, while the dedup exchange now moves only
    # (id_a, id_b, est) for pairs that ALREADY passed the threshold —
    # the old shape shuffled both full signature arrays for every
    # sub-threshold candidate just to drop them afterwards.
    return (
        a.join(b, ["bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("est_jaccard", F.round(agree / F.lit(float(k)), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .dropDuplicates(["id_a", "id_b"])
    )


SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X2c — 32-bit SimHash signature per document: per-bit ±1 sums of
    token hashes, reassembled into one integer."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", _md5_hash28(F.col("tok")))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    value = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        value = term if value is None else value + term
    return agg.select(F.col(id_col), value.alias("simhash"))


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """X13 — connected components over a near-dup pair graph:
    (id, cluster_id) where cluster_id is the component's minimum id.

    Dedup emits PAIRS; deciding which documents to drop needs CLUSTERS
    (a chain a~b~c must keep exactly one survivor). Every endpoint
    appears once, including nodes whose only edges are self-loops.

    Algorithm: alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm). Plain min-label propagation needs diameter-many rounds
    — a 300-node chain needs 300 joins. Star contraction converges in
    O(log² n) rounds REGARDLESS of diameter by rewiring the graph
    itself toward stars:

    - large-star (per node u, over the symmetrized neighborhood):
      every strictly LARGER neighbor v re-attaches to
      m = min(N(u) ∪ {u}); emitted edges are always (v, m) with v > m.
    - small-star (per node u, over smaller neighbors only): u and all
      its smaller neighbors re-attach to m = min(N≤(u) ∪ {u}).

    Both steps preserve connectivity and only ever decrease the
    partner of a node, so the edge set converges to per-component
    stars centered at the minimum id; labels read off the final edges
    directly. Each round is two groupBy+join passes over the CURRENT
    edge set (which star contraction shrinks toward n-1 star edges),
    with localCheckpoint lineage truncation per round, so at 100 TB
    the per-round cost FALLS as contraction proceeds — the right
    trade for duplicate graphs whose shape you don't control.

    Driver finish: an ``Observation`` on the one edge materialization
    counts the edges. When that count × the row's default size is at
    most ``spark.sql.autoBroadcastJoinThreshold`` — the size Spark
    itself would ship whole to every executor — the edges are
    collected and solved on the driver by union-find, and the labels
    come back as a ``LocalRelation``: same rows, same schema, none of
    the loop's per-round jobs. A threshold of -1 (broadcast off, the
    100 TB shape) always runs the loop, which stays the only path for
    edge lists above the threshold.
    """
    # Materialize the input edge list ONCE: both all_nodes and the
    # canonical edge set derive from it, and edge inputs are routinely
    # expensive plans (a prefix-filtered pair join) — without this the
    # full pair plan would execute twice before the first round.
    n_raw = Observation()
    raw = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .observe(n_raw, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # every endpoint, INCLUDING nodes whose only edges are self-loops
    # (singleton clusters)
    all_nodes = (
        raw.select(F.col("s").alias("id"))
        .union(raw.select(F.col("t").alias("id")))
        .distinct()
    )
    conf = raw.sparkSession._jsparkSession.sessionState().conf()
    if n_raw.get["n"] * raw._jdf.schema().defaultSize() <= conf.autoBroadcastJoinThreshold():
        return _components_on_driver(raw, all_nodes.schema["id"])
    # canonical directed form: (big, small), no self-loops
    e = (
        raw.filter(F.col("s") != F.col("t"))
        .select(
            F.greatest("s", "t").alias("big"), F.least("s", "t").alias("small")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # The fixpoint test needs |e| each round, but e is always last
    # round's already-counted `stepped` — carry the count instead of
    # re-running a job per round over the checkpointed edges. The
    # count also serves the no-edges early exit: a separate isEmpty()
    # here paid 1 OR 2 take-scan jobs depending on whether the fresh
    # checkpoint's first partition happened to be empty — the ±1-job
    # nondeterminism that kept x41 out of the plan-fingerprint diff.
    n_e = e.count()
    if n_e == 0:
        return all_nodes.withColumn("cluster_id", F.col("id"))
    for _ in range(max_iter):
        # ---- large-star ----
        # symmetrize in ONE pass over e (r16): explode emits both
        # directions per row instead of the union's two scans of the
        # checkpointed edge set.
        sym = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("big").alias("u"), F.col("small").alias("v")),
                    F.struct(F.col("small").alias("u"), F.col("big").alias("v")),
                )
            ).alias("_d")
        ).select("_d.u", "_d.v")
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("big"), F.col("m").alias("small"))
            .distinct()
        )
        # ---- small-star (input already directed big->small) ----
        # Both emitted edge families come from the SAME large⋈m2 join;
        # the previous union of two copies of that join evaluated it
        # twice (only its exchanges were reused). One join, explode
        # the two outputs per row (r16). The big != small filter only
        # ever removes rows of the first family — the second family's
        # small = min over a set of values all < big — so filtering
        # after the explode is equivalent to the old per-branch shape.
        m2 = large.groupBy("big").agg(F.min("small").alias("m"))
        stepped = (
            large.join(m2, "big")
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("small").alias("big"),
                            F.col("m").alias("small"),
                        ),
                        F.struct(
                            F.col("big").alias("big"),
                            F.col("m").alias("small"),
                        ),
                    )
                ).alias("_s")
            )
            .select("_s.big", "_s.small")
            .filter(F.col("big") != F.col("small"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # Convergence (r16): the loop's fixpoint is EXACTLY the edge
        # set being a star partition — every `big` appears in one edge
        # and no center (`small`) is itself a `big`. Proof both ways:
        # on such a set both star steps are the identity (each center
        # c is the min of its own neighborhood — all its leaves are
        # bigger by the (big, small) orientation — so every leaf
        # re-attaches to c and c to itself); conversely a small that
        # is also a big re-attaches its leaf to a strictly smaller
        # node next round, and a big with two smalls gets its larger
        # small rewired to the min one — either way the set changes.
        # Testing the star property on `stepped` DIRECTLY therefore
        # replaces the old equal-size + exceptAll protocol, which
        # could only detect the fixpoint by paying one extra FULL
        # confirming round (at sf0.1 the x41 graph converges after
        # round 0: the old shape ran round 1 + a diff — 2.0 s of the
        # 3.0 s row — just to observe nothing changed). Both probe
        # jobs run on the freshly checkpointed, contraction-shrunken
        # edge set; count()-style jobs, not isEmpty (job-count
        # reproducibility for plan_fps.py, as before).
        row = stepped.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("big").alias("nb"),
        ).first()
        e = stepped
        if row["n"] == row["nb"] and stepped.join(
            stepped.select(F.col("big").alias("small")), "small", "left_semi"
        ).count() == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    centers = e.select(F.col("small").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    labeled = e.select(
        F.col("big").alias("id"), F.col("small").alias("cluster_id")
    ).union(centers)
    # self-loop-only nodes have no star edge; they are their own cluster
    singletons = all_nodes.join(
        labeled.select("id"), "id", "left_anti"
    ).withColumn("cluster_id", F.col("id"))
    return labeled.union(singletons)


def _components_on_driver(raw: DataFrame, id_field: StructField) -> DataFrame:
    """The star loop's output for a materialized (s, t) edge list that
    fits the driver: union-find where a union keeps the smaller root,
    so every root is its component's minimum. Every endpoint appears
    once; self-loop-only and null endpoints are their own cluster (a
    null endpoint joins no edge, as ``s != t`` drops it in the loop).

    Built from Arrow, so the result plans as a ``LocalRelation``; a
    Python-list ``createDataFrame`` plans as an RDD scan."""
    import pyarrow as pa

    edges = raw.toArrow()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges.column("s").to_pylist(), edges.column("t").to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = list(parent)
    table = pa.table({"id": pa.array(ids), "cluster_id": pa.array([find(x) for x in ids])})
    schema = StructType([id_field, StructField("cluster_id", id_field.dataType, id_field.nullable)])
    return raw.sparkSession.createDataFrame(table, schema)


def ranked_encoded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, _sid, _rk, n_sh): the hash-encoded, prefix-ranked shingle
    table every PPJoin-family build starts from — NOT checkpointed
    (callers `.localCheckpoint(eager=True)` it; returning the lazy
    plan keeps it dumpable for the plan-diff deliverables).

    Hash encoding (r17, replacing the r16 string-keyed dictionary):
    ``_sid = xxhash64(shingle)`` is computed in the projection right
    after the explode, so the ~40-byte shingle STRING dies before any
    exchange, and the document frequency ``_df`` rides a window over
    the same ``_sid`` partitioning — ONE int-keyed corpus exchange
    where the dictionary shape paid a string-keyed groupBy exchange
    PLUS a string-keyed corpus-side join exchange (guide §2.3/§2.4;
    the r16 x300 probe measured the string-keyed build spilling
    ~49 GB, and the vocab join was the last corpus-scale string
    exchange in the repo's hot paths). Two corpus exchanges total:
    hash(_sid) for _df, hash(id) for the rank window + set size.

    Deterministic and collision-GUARDED, not collision-assumed:

    - ``xxhash64`` is a pure function of the shingle, so a shuffle
      fetch-failure stage retry reassigning ids (the
      monotonically_increasing_id hazard: indeterminate-stage
      rollback does not pin AQE-free window plans) cannot produce two
      different encodings of one shingle.
    - a SECOND, algorithmically independent 32-bit hash (``_chk`` =
      murmur3 via ``F.hash``) rides the same ``_sid`` window;
      ``min(_chk) != max(_chk)`` inside an ``_sid`` partition proves
      two DISTINCT shingles collided on xxhash64, and ``raise_error``
      aborts the job rather than emit a silently wrong pair set. A
      real collision escapes only if both hashes collide for the same
      pair (~2^-96 per shingle pair); detection costs zero extra
      exchanges (min/max share the _df window) and zero extra jobs.

    Rank order = (_df asc, _sid asc): prefix-filter correctness only
    needs ONE consistent total order over shingles (any deterministic
    injective key qualifies — collision-guarded xxhash64 is one), and
    the emitted pair set is order-invariant (the order changes which
    candidates are pruned, never which pairs qualify — verification
    is exact).
    """
    from pyspark.sql import Window

    sh = shingles(df, id_col, text_col, n)
    w_sid = Window.partitionBy("_sid")
    w_doc = Window.partitionBy(id_col)
    return (
        sh.select(
            F.col(id_col),
            F.xxhash64("shingle").alias("_sid"),
            F.hash("shingle").alias("_chk"),
        )
        .withColumn(
            "_df",
            F.when(
                F.min("_chk").over(w_sid) == F.max("_chk").over(w_sid),
                F.count(F.lit(1)).over(w_sid),
            ).otherwise(
                F.raise_error(F.lit(
                    "xxhash64 shingle-id collision detected: two distinct "
                    "shingles share an _sid. 64-bit shingle ids are sound "
                    "only well below ~6e8 distinct shingles per build "
                    "(birthday bound n^2/2^65: ~1% at 6e8, ~39% at 4e9); "
                    "split the corpus into smaller builds"
                ))
            ),
        )
        .select(F.col(id_col), "_sid", "_df")
        .withColumn(
            "_rk",
            F.row_number().over(
                w_doc.orderBy(F.col("_df").asc(), F.col("_sid").asc())
            ),
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(w_doc))
        .drop("_df")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """X2a via prefix filtering (PPJoin-family, Chaudhuri et al.
    ICDE'06 / Xiao et al. WWW'08 — public algorithms): identical
    output to :func:`ngram_jaccard_pairs`, with PROVABLY LOSSLESS
    candidate pruning instead of the lossy ``hot_shingle_cap``.

    The filter: order each document's shingles globally by (document
    frequency asc, shingle asc) — rarest first; for Jaccard ≥ t, two
    sets of sizes |a|,|b| need |a∩b| ≥ ceil(t/(1+t)·(|a|+|b|)), and in
    particular a set can "afford" to miss at most |s| − ceil(t·|s|)
    of its own elements in any qualifying partner — so if two sets
    share ANY element, they must share one inside their first
    |s| − ceil(t·|s|) + 1 rarest elements. Joining on prefix tokens
    only therefore keeps every qualifying pair while skipping exactly
    the joins that hot (stopword-grade) shingles would have fanned
    out, because hot shingles sort LAST and fall outside prefixes.

    Cost shape: one extra groupBy (df counts) + one window rank per
    doc vs the plain form, in exchange for a candidate join bounded by
    prefix×prefix instead of set×set. Verification then computes the
    exact intersection for candidates only — two keyed joins against
    the full shingle table. At 100 TB the candidate join is the term
    that explodes; this is the standard published fix.

    Hash encoding (r17, replacing the r16 string-keyed dictionary):
    every shuffle in the build carries an 8-byte ``_sid =
    xxhash64(shingle)`` instead of the ~40-byte shingle string — the
    string now dies at the projection right after the explode and
    never crosses ANY exchange (the r16 dictionary still shuffled
    strings twice to build the vocabulary). Deterministic and
    collision-guarded, not collision-assumed — see
    :func:`ranked_encoded_shingles` for the guard construction and
    the order-invariance argument. The encoded table is eagerly
    localCheckpointed with its prefix rank and per-doc set size
    already attached (one doc-keyed exchange, r16 shape), so every
    downstream branch reads the same materialized int-keyed rows.
    """
    ranked = ranked_encoded_shingles(df, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    # prefix length = |s| - ceil(t_eff*|s|) + 1. Two exactness notes:
    # - The ceil must be of the EXACT product: in doubles 0.29*100 =
    #   29.000000000000004 and a naive ceil() returns 30, shortening
    #   the prefix by one and silently dropping qualifying pairs.
    #   Nudging down by 1e-9 before ceil restores exactness for every
    #   threshold with < ~8 significant digits.
    # - t_eff = threshold - 1e-6, NOT threshold (r16 advice): the
    #   output contract is round(jaccard, 6) >= t, which admits pairs
    #   with true overlap as low as (t - 5e-7)*n — the same slack the
    #   per-instance filters below already absorb. With exact-t the
    #   prefix length is one too short for docs past ~2e6 distinct
    #   shingles whenever (t - 5e-7)*n crosses an integer below t*n;
    #   at any tested SF ceil(t_eff*n) == ceil(t*n) (the 1e-6*n slack
    #   is far below 1), so the emitted candidate set is unchanged
    #   there — this closes the asymptotic edge only.
    needed = F.ceil(
        (F.lit(threshold) - F.lit(1e-6)) * F.col("n_sh") - F.lit(1e-9)
    )
    pref = ranked.filter(
        F.col("_rk") <= F.col("n_sh") - needed + 1
    ).select(F.col(id_col), "_sid", "_rk", "n_sh")
    # Per-instance LENGTH and POSITIONAL filters (PPJoin, Xiao et al.
    # WWW'08 — r16 opt): both are LOSSLESS for the rounded-jaccard
    # output contract, pruning candidate instances BEFORE the
    # candidate-dedup exchange and the verification joins — the two
    # terms that explode at scale. Proof sketch (o = |a∩b|,
    # t_eff = threshold − 1e−6 absorbs the round(j, 6) ≥ t slack,
    # since round(j, 6) ≥ t ⇒ j ≥ t − 5e−7 > t_eff):
    # - length: j ≤ o/union ≤ least/greatest, so any emitted pair has
    #   least ≥ t_eff·greatest.
    # - positional: rank by the SAME (_df,_sid) total order both
    #   sides; at the FIRST common element (rank p_a in a, p_b in b)
    #   every earlier element is non-shared, so o ≤ 1 + n_a − p_a and
    #   o ≤ 1 + n_b − p_b; and j ≥ t_eff ⇒ o ≥ t_eff·greatest. The
    #   first-common instance of every qualifying pair therefore
    #   passes, and `distinct()` needs only one surviving instance
    #   per pair. The −1e−9 nudges keep integer-boundary products
    #   (e.g. 0.8·5) from flipping the comparison, the same guard the
    #   prefix-length ceil uses.
    gmax = F.greatest("n_a", "n_b")
    bound = (F.lit(threshold) - F.lit(1e-6)) * gmax - F.lit(1e-9)
    cand = (
        pref.select(
            F.col(id_col).alias("id_a"),
            "_sid",
            F.col("_rk").alias("_rk_a"),
            F.col("n_sh").alias("n_a"),
        )
        .join(
            pref.select(
                F.col(id_col).alias("id_b"),
                "_sid",
                F.col("_rk").alias("_rk_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "_sid",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least("n_a", "n_b") >= bound)
        .filter(
            F.lit(1)
            + F.least(
                F.col("n_a") - F.col("_rk_a"), F.col("n_b") - F.col("_rk_b")
            )
            >= bound
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verification for candidates only — int-keyed: ranked
    # carries (doc, _sid) for the FULL shingle set, so the
    # explode-by-|a| term (the widest shuffle in the whole build)
    # moves ids + one set-size int per row instead of the shingle
    # string; carrying n_a/n_b through the verification joins (group
    # constants, folded with max) replaces the two doc-keyed size
    # joins of the previous shape outright.
    a = ranked.select(
        F.col(id_col).alias("id_a"), "_sid", F.col("n_sh").alias("n_a")
    )
    b = ranked.select(
        F.col(id_col).alias("id_b"), "_sid", F.col("n_sh").alias("n_b")
    )
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "_sid"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    return (
        inter
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Shared prefix-pair materialization. Six registry queries (x41, x70,
# x89, x92, x96, x97) derive from the SAME near-dup pair set over the
# documents table; rebuilding it per query was the ext bench suite's
# single largest cost (r7 verdict item 7). The pair output is kept as a
# temp view of the caller's session (the production analog is a
# materialized pair table every downstream consumer scans), so it ends
# with the session. The view's name is a digest of everything the
# pairs depend on, so a rewritten input file gets a new name instead of
# stale pairs.
_PAIR_VIEW_PREFIX = "sds_pairs_"


def _digest(key) -> str:
    return hashlib.sha256(repr(key).encode()).hexdigest()[:16]


def _pair_view_name(
    df: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> str:
    """The prefix, 16 hex of the build key (the analyzed plan's
    ``semanticHash`` — a filter or a different source changes it — and
    the build parameters), then 16 hex of each input file's path,
    length and modification time (an in-place rewrite changes those,
    not the plan hash). One hex run, so a rewrite keeps the build
    key's part of the name."""
    spark = df.sparkSession
    conf = spark._jsc.hadoopConfiguration()
    stamps = []
    for f in sorted(df.inputFiles()):
        path = spark._jvm.org.apache.hadoop.fs.Path(f)
        status = path.getFileSystem(conf).getFileStatus(path)
        stamps.append((f, status.getLen(), status.getModificationTime()))
    build_key = _digest([df.semanticHash(), id_col, text_col, n, threshold])
    return _PAIR_VIEW_PREFIX + build_key + _digest(stamps)


def ngram_jaccard_pairs_prefix_shared(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs_prefix`, built once per session and
    input. A miss drops the views its build key superseded (same plan
    and parameters, older files), then checkpoints the pairs into the
    temp view :func:`_pair_view_name` names; hit or miss, the call
    returns that view, so a consumer's plan does not depend on call
    order."""
    spark = df.sparkSession
    view = _pair_view_name(df, id_col, text_col, n, threshold)
    if not spark.catalog.tableExists(view):
        build_key = view[: len(_PAIR_VIEW_PREFIX) + 16]
        _drop_views(spark, build_key)
        ngram_jaccard_pairs_prefix(
            df, id_col, text_col, n, threshold
        ).localCheckpoint(eager=True).createOrReplaceTempView(view)
    return spark.table(view)


def _drop_views(spark: SparkSession, prefix: str) -> None:
    # SHOW VIEWS runs no job and reads ~5x faster than listTables
    for row in spark.sql(f"SHOW VIEWS LIKE '{prefix}*'").collect():
        if row.isTemporary:
            spark.catalog.dropTempView(row.viewName)


def drop_pair_views(spark: SparkSession) -> None:
    """Drop the session's shared pair views, so the next shared call
    pays its own build."""
    _drop_views(spark, _PAIR_VIEW_PREFIX)
