"""Hypothesis property tests for the algorithmic operators whose
contracts have cheap Python reference implementations: connected
components (vs union-find), winnowing's shared-substring guarantee,
and int8 quantization's error bound.

Example counts are kept small (each example runs real Spark jobs);
the value is randomized STRUCTURE — graphs, token sequences, vectors —
not volume.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import uf_components
from streaming_data_spark.operators import dedup, similarity

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_star_cc_matches_union_find(spark, star_cc_paths, edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    nodes = sorted({x for e in edges for x in e})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for _ in star_cc_paths():
        got = {
            (r.id, r.cluster_id)
            for r in dedup.connected_components_star(df).collect()
        }
        assert got == uf_components(edges, nodes)


@given(
    prefix_a=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=6),
    prefix_b=st.lists(st.sampled_from("ijklmnop"), min_size=0, max_size=6),
    shared=st.lists(st.sampled_from("qrstuvwx"), min_size=8, max_size=14),
)
@settings(**_SETTINGS)
def test_winnowing_shared_run_guarantees_shared_fingerprint(
    spark, prefix_a, prefix_b, shared
):
    """The MOSS guarantee: two documents containing the same contiguous
    token run of length >= W + N - 1 (= 6 tokens here: every window of
    W=4 consecutive 3-gram hashes inside the run is identical in both
    docs) must share at least one winnowing fingerprint — regardless
    of what surrounds the run. This is the property that makes
    winnowing detect PARTIAL overlap that whole-doc Jaccard misses.
    Runs against the SHIPPED fingerprint kernel (winnow_fingerprints),
    not a private copy of it."""
    from streaming_data_spark.queries_ext12 import winnow_fingerprints

    doc_a = " ".join([*prefix_a, *shared])
    doc_b = " ".join([*prefix_b, *shared])
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )
    sets: dict[int, set] = {1: set(), 2: set()}
    for r in winnow_fingerprints(docs).collect():
        sets[r.doc_id].add(r.fp)
    assert sets[1] & sets[2], (doc_a, doc_b, sets)


@given(
    vec=st.lists(
        st.floats(
            min_value=-100.0,
            max_value=100.0,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=1,
        max_size=16,
    )
)
@settings(**_SETTINGS)
def test_quantize_error_bound_random_vectors(spark, vec):
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = similarity.quantize_int8(df).collect()[0]
    assert all(-127 <= q <= 127 for q in row.qvec)
    if row.scale == 0.0:
        assert all(q == 0 for q in row.qvec)
        return
    bound = row.scale / 2 * (1 + 1e-9)
    # float32 storage rounds the input; compare against the stored value
    stored = df.collect()[0].embedding
    for orig, q in zip(stored, row.qvec):
        assert abs(orig - q * row.scale) <= bound, (orig, q, row.scale)


def _ref_morton(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@given(
    pts=st.lists(
        st.tuples(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_morton_code_matches_reference_bit_interleave(spark, pts):
    """The engine's shift/mask Morton column must equal the defining
    per-bit interleave for arbitrary 16-bit coordinates (bijectivity
    on the grid follows: the reference map is invertible by
    construction)."""
    from pyspark.sql import functions as F

    from streaming_data_spark.operators.layout import morton_code

    df = spark.createDataFrame(pts, "x long, y long").withColumn(
        "z", morton_code(F.col("x"), F.col("y"), 16)
    )
    for r in df.collect():
        assert r.z == _ref_morton(r.x, r.y, 16), (r.x, r.y, r.z)


def _fold_inputs(values):
    """Per-event input columns for the stateful folds, derived from one
    drawn value sequence: strictly increasing days, OHLC around the
    close, integer volumes, and session timestamps whose steps (0-100
    µs) straddle a 30 µs gap."""
    return {
        "days": list(range(1, len(values) + 1)),
        "ts": list(itertools.accumulate(int(v) for v in values)),
        "closes": values,
        "highs": [v * 1.1 for v in values],
        "lows": [v * 0.9 for v in values],
        "volumes": [int(v * 10) for v in values],
    }


# fold -> (input columns, parameters), both in the fold's positional
# order after the state argument
_FOLDS = {
    "_advance_session": (("ts", "closes"), (30,)),
    "_detect_changes": (("days", "closes"), (0.25,)),
    "_advance_cross": (("days", "closes"), (2, 4)),
    "_advance_bollinger": (("days", "closes"), (4, 2.0)),
    "_advance_ewma": (("days", "closes"), (0.2,)),
    "_advance_rsi": (("days", "closes"), (3,)),
    "_advance_atr": (("days", "highs", "lows", "closes"), (3,)),
    "_advance_stoch": (("days", "highs", "lows", "closes"), (3, 2)),
    "_advance_obv": (("days", "closes", "volumes"), ()),
    "_advance_holt": (("days", "closes"), (0.2, 0.1)),
    "_advance_balance": (("days", "closes"), (50.0, 120.0)),
    "_advance_cusum": (("days", "closes"), (50.0, 10.0, 0.5)),
}


@pytest.mark.parametrize("fold_name", list(_FOLDS))
@given(
    values=st.lists(
        st.floats(min_value=0.5, max_value=100.0, allow_nan=False),
        min_size=2,
        max_size=40,
    ),
    n_cuts=st.integers(0, 3),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_fold_invariant_under_batch_splits(fold_name, values, n_cuts, data):
    """Micro-batch boundaries are an accident of arrival, not of
    semantics: folding an ordered event sequence through ANY split
    must emit exactly the rows of the single-batch fold, with state
    threaded across the cuts. The state round-trips through tuple()
    at each cut, the way the stream binder stores it. Pure-Python
    kernel property — this is the invariant each stream==batch Spark
    test samples once; here it's exercised across random splits."""
    from streaming_data_spark.streaming import stateful

    fold = getattr(stateful, fold_name)
    col_names, params = _FOLDS[fold_name]
    inputs = _fold_inputs(values)
    cols = [inputs[c] for c in col_names]
    whole, _ = fold(None, *cols, *params)

    n_cuts = min(n_cuts, len(values) - 1)  # only len-1 distinct cut points exist
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(1, len(values) - 1),
                min_size=n_cuts,
                max_size=n_cuts,
                unique=True,
            )
        )
    )
    bounds = [0, *cuts, len(values)]
    state = None
    pieced = []
    for lo, hi in zip(bounds, bounds[1:]):
        out, state = fold(state, *(c[lo:hi] for c in cols), *params)
        state = tuple(state)
        pieced.extend(out)
    assert pieced == whole


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=0,
            max_size=12,
        ),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@settings(**_SETTINGS)
def test_prefix_filtered_jaccard_equals_plain(spark, docs, threshold):
    """Prefix filtering must be LOSSLESS: on arbitrary corpora and
    thresholds the prefix-filtered pair set equals the plain all-
    shared-shingle pair set exactly — the property that separates it
    from the (intentionally lossy) hot-shingle cap."""
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=threshold
        ).collect()
    }
    pref = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs_prefix(
            df, "doc_id", "text", n=2, threshold=threshold
        ).collect()
    }
    assert pref == plain


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 5),                      # user
            st.integers(0, 9),                      # day offset
            st.floats(min_value=0.1, max_value=50.0, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    ),
    split_day=st.integers(0, 9),
)
@settings(**_SETTINGS)
def test_incremental_rollup_merge_equals_direct_for_any_split(spark, rows, split_day):
    """The monoid-merge argument behind incremental_rollup, proved for
    ARBITRARY split points (the registry query fixes one): state
    partials + delta partials re-aggregated == one-pass groupBy,
    including groups that span the split."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "user long, day int, value double")

    def partial(d):
        return d.groupBy("user", "day").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )

    merged = (
        partial(df.filter(F.col("day") < split_day))
        .unionByName(partial(df.filter(F.col("day") >= split_day)))
        .groupBy("user", "day")
        .agg(F.sum("n").alias("n"), F.round(F.sum("total"), 6).alias("total"))
    )
    direct = df.groupBy("user", "day").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total")
    )
    got = {(r.user, r.day): (r.n, r.total) for r in merged.collect()}
    want = {(r.user, r.day): (r.n, r.total) for r in direct.collect()}
    assert got == want


@given(
    old_keys=st.sets(st.integers(1, 30), min_size=0, max_size=15),
    new_keys=st.sets(st.integers(1, 30), min_size=0, max_size=15),
    changed=st.sets(st.integers(1, 30), min_size=0, max_size=10),
)
@settings(**_SETTINGS)
def test_cdc_diff_classification_tiles_the_key_space(spark, old_keys, new_keys, changed):
    """I/U/D/unchanged must PARTITION the key universe for arbitrary
    snapshot pairs — the tiling invariant behind the CDC primitive
    (the registry query fixes one derivation; this drives random
    ones, including NULL prices on both sides)."""
    from pyspark.sql import functions as F

    old_rows = [(k, None if k % 7 == 0 else float(k)) for k in sorted(old_keys)]
    new_rows = [
        (k, None if k % 7 == 0 else float(k) * (2.0 if k in changed else 1.0))
        for k in sorted(new_keys)
    ]
    old = spark.createDataFrame(old_rows, "k long, price double").select(
        "k", F.col("price").alias("old_price"), F.lit(1).alias("in_old")
    )
    new = spark.createDataFrame(new_rows, "k long, price double").select(
        "k", F.col("price").alias("new_price"), F.lit(1).alias("in_new")
    )
    diff = (
        old.join(new, "k", "full_outer")
        .withColumn(
            "op",
            F.when(F.col("in_old").isNull(), F.lit("I"))
            .when(F.col("in_new").isNull(), F.lit("D"))
            .when(~F.col("old_price").eqNullSafe(F.col("new_price")), F.lit("U")),
        )
    )
    got = {(r.k, r.op) for r in diff.collect()}
    want = set()
    for k in old_keys | new_keys:
        if k not in old_keys:
            want.add((k, "I"))
        elif k not in new_keys:
            want.add((k, "D"))
        else:
            o = None if k % 7 == 0 else float(k)
            n = None if k % 7 == 0 else float(k) * (2.0 if k in changed else 1.0)
            want.add((k, "U" if o != n else None))
    assert got == want


@given(
    n=st.integers(min_value=0, max_value=10**15),
    target=st.integers(min_value=1, max_value=100_000),
)
@settings(max_examples=200, deadline=None)
def test_auto_n_planes_occupancy_and_monotonicity(n, target):
    """Pure-function contract of the r12 auto plane knob: (a) result
    in [1, 32]; (b) whenever the cap/floor don't bind, expected
    occupancy n/2^planes lands in (target/2, target] — i.e. ceil of
    the log puts the corpus within one halving of the target bucket
    size; (c) monotone non-decreasing in n at fixed target (more
    corpus can never mean fewer planes — the scale invariant the x30
    probe relies on)."""
    p = similarity.auto_n_planes(n, target)
    assert 1 <= p <= 32
    if n > target and p < 32:
        occ = n / (2 ** p)
        assert occ <= target
        assert occ > target / 2
    # monotonicity across a doubling (cheap single-step check per
    # example; the grid test in test_ext_operators covers a sweep)
    assert similarity.auto_n_planes(2 * n if n else 1, target) >= p
