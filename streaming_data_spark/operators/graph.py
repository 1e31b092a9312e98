"""[EXT] Iterative graph scoring over the duplicate graph.

``connected_components_star`` (dedup.py) answers "which docs are the
same document"; PageRank over the same near-dup edge set answers
"which doc is the most CENTRAL copy" — a centrality-based canonicalization
signal complementing x41's quality-based pick (a hub mirrored by many
partial copies outranks a leaf copy even when their quality scores
tie). Public algorithm (Brin & Page 1998); damping 0.85.

Spark shape: the edge list is symmetrized once, degrees come from one
groupBy, and each iteration is ONE keyed join + ONE aggregation —
never a collect of the rank vector (ranks stay distributed; only the
node COUNT is a driver scalar). ``localCheckpoint`` cuts the lineage
each round, the same guard the star-contraction CC uses — without it
iteration k replays all k-1 prior shuffles. Fixed iteration count
keeps the computation deterministic and lets the DuckDB oracle
UNROLL the same recurrence (aggregation inside a recursive CTE term
is not portable SQL; unrolling is).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the UNDIRECTED graph given by ``edges`` (each
    row one undirected edge; symmetrized internally). Returns
    (id, pagerank) for every node incident to an edge.

    rank_{k+1}(v) = (1-d)/N + d·Σ_{u→v} rank_k(u)/deg(u), starting
    from 1/N. The symmetric graph has no dangling nodes, so total
    mass is conserved without a redistribution term.
    """
    # Materialize the edge list ONCE before symmetrizing: the union's
    # two branches would otherwise each replay the whole upstream pair
    # computation (shingle explode + similarity join on near-dup
    # inputs) — measured 75.6s vs 21.5s at x30 data, where the edge
    # OUTPUT is only thousands of rows. Same guard triangles() and
    # kcore_peel() already carry.
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("u").alias("id"), "deg").localCheckpoint()
    n = float(nodes.count())  # bounded driver scalar (node count only)
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("pagerank"))
    base = (1.0 - damping) / n

    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contribs = (
            ranks.join(nodes, "id")
            .join(sym, F.col("id") == F.col("u"))
            .select(F.col("v").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.select("id")
            .join(contribs, "id", "left")
            .select(
                "id",
                (F.lit(base) + damping * F.coalesce("s", F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("id", F.round("rank", 6).alias("pagerank"))


def triangles(edges: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Enumerate triangles (id_a < id_b < id_c) in an id-canonical
    edge list (every edge stored with src < dst).

    Two self-equi-joins: wedges a-b-c from e1.dst = e2.src, closed by
    probing (a, c) against the edge set. The id-orientation means each
    triangle is emitted exactly once and a node's join fan-out is its
    FORWARD degree, not its total degree; at 100 TB the standard
    hardening is to re-orient edges by (degree, id) instead of raw id
    — same algorithm, provably O(m^1.5) wedge volume (node-iterator
    with degree orientation, cf. Suri & Vassilvitskii's MapReduce
    triangle counting, WWW'11). The near-dup graphs this runs on are
    band-blocked pair sets, so edge volume is already output-bounded.
    """
    # The edge frame feeds three join branches; without materializing
    # it once, the whole upstream pair computation (shingle explode +
    # similarity join on near-dup inputs) replays 3x.
    edges = edges.localCheckpoint(eager=True)
    e1 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e2 = edges.select(F.col(src).alias("b"), F.col(dst).alias("c"))
    e3 = edges.select(F.col(src).alias("a"), F.col(dst).alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.col("c").alias("id_c"),
        )
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 4,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """k-core peeling over an undirected pair graph: ``rounds``
    iterations of "drop every node with degree < k, keep edges whose
    endpoints both survive", then emit (id, degree) of the survivors
    with their degree in the final peeled graph.

    Completes the graph family (PageRank = centrality, triangles =
    local clustering, CC = identity): coreness separates a densely
    mirrored template cluster (high core) from chains of partial
    copies (peeled away at k=2). Full k-core = peel to fixpoint; the
    FIXED round count keeps the computation deterministic and lets
    the DuckDB oracle unroll the identical rounds (the same contract
    as pagerank's fixed iterations — a fixpoint loop is not portable
    SQL). On the near-dup graphs this targets, 4 rounds reach the
    2-core fixpoint in practice; callers needing certainty raise
    ``rounds`` (each is one degree groupBy + two semi-joins on a
    graph that only SHRINKS, localCheckpoint-truncated per round).
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    def _endpoints(edges_df: DataFrame) -> DataFrame:
        # both endpoints in ONE pass over the (checkpointed) edge set
        # (r16) — the union form scanned it twice per round
        return edges_df.select(
            F.explode(F.array(F.col("a"), F.col("b"))).alias("id")
        )

    for _ in range(rounds):
        deg = _endpoints(e).groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        survivors = deg.filter(F.col("deg") >= k).select("id")
        e = (
            e.join(survivors.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(survivors.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return _endpoints(e).groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
