"""Property tests for chunking, sequence packing, and connected
components beyond the oracle gate: reconstruction, budget invariants,
short-doc edge cases, transitivity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import uf_components
from streaming_data_spark.operators import chunking, dedup


def _docs(spark):
    rows = [
        (1, "a b c d e f g h i j"),          # 10 tokens
        (2, "one two three"),                 # 3 tokens (< stride)
        (3, "x"),                             # 1 token
        (4, " ".join(f"t{i}" for i in range(37))),  # partial tail
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_overlap_reconstruction(spark):
    """Dropping the first `overlap` tokens of every chunk after the
    first and concatenating must reproduce the original token stream."""
    docs = _docs(spark)
    out = chunking.chunk_documents(docs, chunk_tokens=8, overlap=2).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        toks = r.chunk_text.split()
        prev = by_doc.setdefault(r.doc_id, [])
        prev.extend(toks if r.chunk_id == 0 else toks[2:])
    for row in docs.collect():
        assert by_doc[row.doc_id] == row.text.split(), f"doc {row.doc_id}"


def test_chunk_short_doc_single_chunk(spark):
    out = chunking.chunk_documents(_docs(spark), chunk_tokens=8, overlap=2)
    short = out.filter(F.col("doc_id").isin(2, 3)).collect()
    assert {(r.doc_id, r.chunk_id) for r in short} == {(2, 0), (3, 0)}
    assert {r.n_tokens for r in short} == {3, 1}


def test_chunk_sizes_bounded(spark):
    out = chunking.chunk_documents(_docs(spark), chunk_tokens=8, overlap=2)
    assert out.filter((F.col("n_tokens") < 1) | (F.col("n_tokens") > 8)).count() == 0


def test_chunk_rejects_bad_overlap(spark):
    with pytest.raises(ValueError):
        chunking.chunk_documents(_docs(spark), chunk_tokens=8, overlap=8)


def test_pack_budget_and_order(spark):
    """No sequence exceeds the budget unless it holds a single
    oversize chunk; within a bucket, (doc_id, chunk_id) order maps to
    non-decreasing seq_id; every chunk appears exactly once."""
    chunks = chunking.chunk_documents(_docs(spark), chunk_tokens=8, overlap=2)
    n_in = chunks.count()
    packed = chunking.pack_sequences(
        chunks, max_tokens=20, n_buckets=2,
        bucket_expr=F.pmod(F.col("doc_id"), F.lit(2)),
    )
    rows = packed.collect()
    assert len(rows) == n_in
    totals = {}
    for r in rows:
        totals.setdefault((r.bucket, r.seq_id), []).append(r.n_tokens)
    for (b, s), sizes in totals.items():
        assert sum(sizes) <= 20 or len(sizes) == 1, f"bucket {b} seq {s}: {sizes}"
    for b in {r.bucket for r in rows}:
        ordered = sorted(
            (r for r in rows if r.bucket == b), key=lambda r: (r.doc_id, r.chunk_id)
        )
        seqs = [r.seq_id for r in ordered]
        assert seqs == sorted(seqs), f"bucket {b} seq_id not monotone"
        fill = 0
        for r in ordered:
            fill = r.n_tokens if r.seq_fill == r.n_tokens else fill + r.n_tokens
            assert r.seq_fill == fill


def test_connected_components_transitive_chain(spark, star_cc_paths):
    """A chain 1-2, 2-3, 3-4 plus an island pair 10-11 must collapse
    to two clusters labeled by their minima."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    for _ in star_cc_paths():
        assert _star_labels(edges) == {
            (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)
        }


def test_connected_components_empty(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components_star(edges).count() == 0


def _star_labels(edges):
    return {
        (r.id, r.cluster_id)
        for r in dedup.connected_components_star(edges).collect()
    }


def test_star_cc_matches_label_prop(spark, star_cc_paths):
    """large-star/small-star must produce the (id, min-label) output
    of the union-find reference (what min-label propagation converges
    to) on a mixed graph: chain + island + star-shaped component — on
    the driver finish and on the loop."""
    pairs = [(2, 1), (2, 3), (3, 4), (10, 11), (20, 25), (20, 22), (20, 27)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    ref = uf_components(pairs, {x for e in pairs for x in e})
    for _ in star_cc_paths():
        assert _star_labels(edges) == ref


def test_star_cc_high_diameter_chain(spark, star_cc_paths):
    """A 120-node chain has diameter 120: label propagation's
    iteration bound (max_iter) is diameter-many rounds, while star
    contraction converges in O(log² n) — this chain must finish well
    inside max_iter=30 and label everything with the chain minimum."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    for _ in star_cc_paths():
        assert _star_labels(edges) == {(i, 0) for i in range(121)}


def test_star_cc_empty(spark, star_cc_paths):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    for _ in star_cc_paths():
        assert dedup.connected_components_star(edges).count() == 0


def test_star_cc_keeps_self_loop_only_nodes(spark, star_cc_paths):
    """A node whose only edges are self-loops must appear as its own
    singleton cluster, as the union-find reference reports it."""
    pairs = [(5, 5), (2, 1), (7, 7)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    ref = uf_components(pairs, {x for e in pairs for x in e})
    for _ in star_cc_paths():
        assert _star_labels(edges) == ref == {(5, 5), (7, 7), (1, 1), (2, 1)}


def test_star_cc_driver_finish_equals_loop(spark, star_cc_paths):
    """String ids, null endpoints, duplicate and reversed edges and a
    self-loop: the driver finish returns the loop's rows and schema,
    and only the driver finish plans as a local relation."""
    edges = spark.createDataFrame(
        [
            ("b", "a"), ("a", "b"), ("b", "a"), ("c", None), (None, "d"),
            ("e", "e"), ("d", "x"), ("x", "d"), ("y", "x"), ("q", "p"),
        ],
        "id_a string, id_b string",
    )
    got = {}
    for path in star_cc_paths():
        out = dedup.connected_components_star(edges)
        got[path] = (out.schema, sorted(map(tuple, out.collect()), key=str))
        local = "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
        assert local == (path == "driver_finish"), path
    assert got["driver_finish"] == got["loop"]
    assert dict(got["loop"][1]) == {
        "a": "a", "b": "a", "c": "c", "d": "d", "x": "d", "y": "d",
        "e": "e", "p": "p", "q": "p", None: None,
    }
