"""The driver-window rotation is generated, not hand-ordered (r8
verdict item 7), and since r10 the `--front` list is generated too
(r9 verdict item 2): ``tools/freshness.py`` derives the oldest-first
order from the CORRECTNESS_r*.json history and the front from the
PLAN_FPS_r*.json fingerprint diffs. Past windows are pinned against
the CORRECTNESS_r*.json file the driver recorded for them, and the
live ``_R17_WINDOW`` / ``_R17_TAIL`` literals in ``__spark_entry__.py``
must be exactly what the generator emits. No SparkSession needed —
this is pure bookkeeping.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

import __spark_entry__ as entry_mod
from freshness import auto_front, latest_rows, oldest_first

# Wired into the registry in r14 (r13 verdict item 1 — queries_ext65
# had been authored in r7 but never imported). Absent from the
# registry for every historical replay below, so the replays filter
# them out of oldest_first (which runs against the CURRENT registry
# and would otherwise put the three round-0 newcomers at the head of
# every historical order).
R14_WIRED = {
    "x104_quantized_recall", "x105_knn_reciprocity", "a82_promo_lift_curve",
}


def _hist_order(upto: int) -> list[str]:
    """oldest_first as the registry stood BEFORE the r14 wiring."""
    return [n for n, _ in oldest_first(upto=upto) if n not in R14_WIRED]

# The r10 front: x13_dup_clusters_star is the r9-verdict-ordered front
# (star-contraction count-carry changed its execution in r9, after its
# r5 driver row); x56/x59 are the `--front auto` findings (plans
# changed in r7, last driver rows r6 — misses of the r7-r9 hand
# rotations); x41 is fronted by r10's OWN change (deterministic
# convergence probes in dedup.py altered its build execution after its
# r9 driver row — the snapshot diffed at upto=9 predates that change,
# so auto cannot see it; PLAN_FPS_r10 records the new fingerprint).
# Order = staleness order, same as the window body rule.
R10_FRONT = [
    "x13_dup_clusters_star",
    "x56_assoc_rules",
    "x59_semdedup",
    "x41_canonical_by_quality",
]

# The five queries the r8 verdict hand-fronted for the r9 window —
# auto_front must rediscover all of them from r1..r8 data alone.
R9_HAND_FRONT = {
    "x41_canonical_by_quality",
    "x70_kcore",
    "x92_dup_clustering_coeff",
    "x96_adamic_adar",
    "x97_degree_assortativity",
}


def test_auto_front_for_r10_is_the_pinned_front():
    """`--front auto` at upto=9 finds exactly the three stale-plan
    rows — x13-star (sha changed r7 + count-carry r9, row r5) and
    x56/x59 (r7 changes, rows r6) — with ZERO uncomparable queries
    (the action-count metric is reproducible across sessions; see
    plan_fps.py). Pinning both lists means a future snapshot that
    silently changes either comparability or the diff fails here
    first."""
    front, uncomparable = auto_front(upto=9)
    assert front == [
        "x13_dup_clusters_star", "x56_assoc_rules", "x59_semdedup",
    ]
    assert uncomparable == []
    # R10_FRONT = the auto output + x41 (fronted by r10's own change,
    # invisible to the upto=9 snapshots by construction — visible in
    # the PLAN_FPS_r09-vs-r10 diff), in staleness order.
    assert R10_FRONT == sorted(
        front + ["x41_canonical_by_quality"],
        key=lambda n: [x[0] for x in oldest_first(upto=9)].index(n),
    )


def test_auto_front_reproduces_and_dominates_the_r9_hand_front():
    """The r9 verdict's done-criterion: `--front auto` from r1..r8
    data reproduces the five hand-fronted queries — it does, plus four
    GENUINE misses of the hand process (each verified against git
    history in r10): sessionization (plan changed r5, row was r4),
    x56/x59 (plans changed r7, rows r6), and x13_dup_clusters_star
    (its plan hash already changed in r7, two rounds before the
    count-carry that finally fronted it)."""
    front, uncomparable = auto_front(upto=8)
    assert R9_HAND_FRONT <= set(front)
    assert set(front) - R9_HAND_FRONT == {
        "sessionization",
        "x56_assoc_rules",
        "x59_semdedup",
        "x13_dup_clusters_star",
    }
    assert uncomparable == []


def test_r10_window_was_generator_output_from_r9_data():
    """The r10 window (now history — its driver rows are in
    CORRECTNESS_r10.json) was front + oldest-first body from the
    r1..r9 driver history. Pinned via the r10 CORRECTNESS file itself:
    the driver ran exactly the literal we shipped, so replaying the
    generator against upto=9 data must reproduce that file's order."""
    import json

    with open(REPO / "CORRECTNESS_r10.json") as fh:
        r10_checked = list(json.load(fh))
    order = _hist_order(9)
    body = [n for n in order if n not in R10_FRONT]
    n_body = 50 - len(R10_FRONT)
    assert r10_checked == R10_FRONT + body[:n_body]


def test_auto_front_for_r11_at_r10_snapshots_is_empty():
    """`--front auto` at upto=10 emits ZERO fronts (r10 verdict item 1
    pre-ran this): no plan fingerprint changed after its owner's last
    driver row — r10's commits were rotation/bench bookkeeping plus
    the dedup-probe change whose consumers were all IN the r10
    window. Zero uncomparable, as every round since the action-count
    metric landed. (r11 then fronted two queries by its OWN changes —
    see the next test — which the upto=10 view cannot see by
    construction: both fixes postdate the r10 snapshot.)"""
    front, uncomparable = auto_front(upto=10)
    assert front == []
    assert uncomparable == []


# Both fronted by r11's OWN edge-replay fixes (SCALE.md Round-11 +
# addendum): graph.pagerank (+1 action, fp a8->a9, last driver row r6)
# and label-prop connected_components (+2 actions, fp a5->a7, last
# driver row r8). Front order = staleness order, same as the body.
R11_FRONT = ["x42_pagerank", "x13_dup_clusters"]


def test_r11_window_was_generator_output_from_r10_data():
    """The r11 window (now history — its driver rows are in
    CORRECTNESS_r11.json) was front + oldest-first body from the
    r1..r10 driver history. Pinned via the r11 CORRECTNESS file
    itself: the driver ran exactly the literal we shipped, so
    replaying the generator against upto=10 data must reproduce that
    file's order. x42 was already in the window by staleness (the
    front only moved it up); fronting x13 (last row r8) pushed the
    50th body query to the tail head."""
    import json

    with open(REPO / "CORRECTNESS_r11.json") as fh:
        r11_checked = list(json.load(fh))
    order = _hist_order(10)
    body = [n for n in order if n not in R11_FRONT]
    n_body = 50 - len(R11_FRONT)
    assert r11_checked == R11_FRONT + body[:n_body]


def test_auto_front_for_r12_at_r11_snapshots_is_empty():
    """`--front auto` at upto=11 emits ZERO fronts (the r11 verdict
    pre-ran the generator and predicted exactly this): r11's only
    engine changes were the two edge-replay fixes, and both consumers
    (x42_pagerank, x13_dup_clusters) got fresh r11 driver rows AFTER
    the PLAN_FPS_r11 re-snapshot — no fingerprint postdates its
    owner's last driver row. Zero uncomparable, as every round since
    the action-count metric landed."""
    front, uncomparable = auto_front(upto=11)
    assert front == []
    assert uncomparable == []


def test_r12_window_was_generator_output_from_r11_data():
    """The r12 window (now history — its driver rows are in
    CORRECTNESS_r12.json) was the pure oldest-first body from the
    r1..r11 driver history (zero fronts — see the previous test).
    Pinned via the r12 CORRECTNESS file itself: the driver ran exactly
    the literal we shipped, so replaying the generator against upto=11
    data must reproduce that file's order. The body started with the
    23 r7-stale queries (x75_tfidf_topk_pairs first) then the 27
    oldest r8 entries — exactly the r11 tail block."""
    import json

    with open(REPO / "CORRECTNESS_r12.json") as fh:
        r12_checked = list(json.load(fh))
    order = _hist_order(11)
    assert r12_checked == order[:50]


def test_auto_front_for_r13_at_r12_snapshots_is_empty():
    """`--front auto` at upto=12 emits ZERO fronts (the r12 verdict
    pre-ran the generator and predicted exactly this): PLAN_FPS_r12 is
    fingerprint-identical to r11 for all 221 queries — r12's only
    engine change was the additive auto-planes knob, which no registry
    query exercises — so no fingerprint postdates its owner's last
    driver row. Zero uncomparable, as every round since the
    action-count metric landed."""
    front, uncomparable = auto_front(upto=12)
    assert front == []
    assert uncomparable == []


def test_r13_window_was_generator_output_from_r12_data():
    """The r13 window (now history — its driver rows are in
    CORRECTNESS_r13.json) was the pure oldest-first body from the
    r1..r12 driver history (zero fronts — see the previous test): the
    22 r8-stale queries (q16_supplier_cnt first) then the 28 oldest
    r9 entries. Pinned via the r13 CORRECTNESS file itself: the
    driver ran exactly the literal we shipped, so replaying the
    generator against upto=12 data must reproduce that file's
    order."""
    import json

    with open(REPO / "CORRECTNESS_r13.json") as fh:
        r13_checked = list(json.load(fh))
    order = _hist_order(12)
    assert r13_checked == order[:50]


def test_auto_front_for_r14_at_r13_snapshots_is_empty():
    """`--front auto` at upto=13 emits ZERO fronts (the r13 verdict
    pre-ran the generator and predicted exactly this): PLAN_FPS_r13
    is fingerprint-identical to r12 for all 221 pre-existing queries
    — r13's only engine change was 18 additive lines in
    similarity.py — so no fingerprint postdates its owner's last
    driver row. The three r14-wired newcomers are round-0 rows with
    no prior driver row to invalidate: the generator skips them in
    the diff (they lead the window body by staleness instead), so
    they appear in NEITHER list. Zero uncomparable, as every round
    since the action-count metric landed."""
    front, uncomparable = auto_front(upto=13)
    assert front == []
    assert uncomparable == []


def test_r14_window_was_generator_output_from_r13_data():
    """The r14 window (now history — its driver rows are in
    CORRECTNESS_r14.json) was the oldest-first body from the r1..r13
    driver history over the 224-query registry (zero fronts — see the
    previous test): the three never-driver-checked r14 newcomers
    first (round-0 staleness), then x12_clean_corpus + the 46
    next-oldest r9/r10 entries. Pinned via the r14 CORRECTNESS file
    itself: the driver ran exactly the literal we shipped, so
    replaying the generator against upto=13 data must reproduce that
    file's order."""
    import json

    with open(REPO / "CORRECTNESS_r14.json") as fh:
        r14_checked = list(json.load(fh))
    order = [n for n, _ in oldest_first(upto=13)]
    assert r14_checked == order[:50]
    assert r14_checked[:3] == [
        "x104_quantized_recall", "x105_knn_reciprocity",
        "a82_promo_lift_curve",
    ]


def test_auto_front_for_r15_at_r14_snapshots_is_empty():
    """`--front auto` at upto=14 emits ZERO fronts (the r14 verdict
    pre-ran the generator and predicted exactly this): PLAN_FPS_r14
    is fingerprint-identical to r13 for all 221 carried queries —
    r14's only registry change was wiring EXT65, whose three queries
    got their first driver rows in the same round — so no fingerprint
    postdates its owner's last driver row. Zero uncomparable, as
    every round since the action-count metric landed."""
    front, uncomparable = auto_front(upto=14)
    assert front == []
    assert uncomparable == []


def test_r15_window_is_generator_output_from_r14_data():
    """The r15 window (now history — CORRECTNESS_r15 went 50/50
    against it) was the oldest-first body from the r1..r14 driver
    history (zero fronts — see the previous test): the 24 remaining
    r10-stale entries (x33_centroid_classify first) then the 26 oldest
    r11 entries. Pinned via the r15 CORRECTNESS file itself: the
    driver ran exactly the literal we shipped."""
    import json

    with open(REPO / "CORRECTNESS_r15.json") as fh:
        r15_checked = list(json.load(fh))
    order = [n for n, _ in oldest_first(upto=14)]
    assert r15_checked == order[:50]
    assert r15_checked[0] == "x33_centroid_classify"


def test_auto_front_for_r16_at_r15_snapshots_is_empty():
    """`--front auto` at upto=15 emits ZERO fronts (the r15 verdict
    pre-ran the generator and predicted exactly this): r15 made zero
    registry or operator-source changes — PLAN_FPS_r15 diffs 225/0/0
    against r14 — so no fingerprint postdates its owner's last driver
    row. Zero uncomparable, as every round since the action-count
    metric landed."""
    front, uncomparable = auto_front(upto=15)
    assert front == []
    assert uncomparable == []


def test_r16_window_is_generator_output_from_r15_data():
    """The r16 window (now history — its driver rows are in
    CORRECTNESS_r16.json) was the oldest-first body from the r1..r15
    driver history (zero fronts — see the previous test): the 24
    remaining r11-stale entries (x55_winsorize first) then the 26
    oldest r12 entries — exactly the r15 tail block, as the rotation
    invariant requires. Pinned via the r16 CORRECTNESS file itself.
    The generator's next block is pinned through _R17_TAIL below."""
    import json

    with open(REPO / "CORRECTNESS_r16.json") as fh:
        r16_checked = list(json.load(fh))
    order = [n for n, _ in oldest_first(upto=15)]
    assert r16_checked == order[:50]
    assert r16_checked[0] == "x55_winsorize"


# `--front auto` at upto=16: every r16-touched query whose plan
# fingerprint postdates its last driver row — exactly the list the
# r16 verdict item 3 asked the r17 rotation to front.
R17_AUTO_FRONT = [
    "x80_minhash_recall_eval", "x89_split_leakage",
    "x91_threshold_sweep", "x98_containment_pairs", "x2_minhash_lsh",
    "x70_kcore", "x92_dup_clustering_coeff", "x96_adamic_adar",
    "x97_degree_assortativity", "q5_regional_revenue",
    "x13_dup_clusters_star", "x59_semdedup",
    "x41_canonical_by_quality", "x30_inverted_index",
    "x2_ngram_jaccard_prefix", "x35_lm_score",
    "x30_inverted_index_capped",
]

# The r17 front = the auto findings + the three queries ROUND 17
# itself changed after their r16 driver rows (q3 pre-aggregation,
# x63/x66 hashed checkpoints — the r10 precedent: the upto=16
# snapshots predate the current round's own edits, so auto cannot see
# them; PLAN_FPS_r17 records the new fingerprints). Appended in
# CORRECTNESS_r16.json order — the staleness-tie order is that round's
# driver file order.
R17_FRONT = [
    *R17_AUTO_FRONT,
    "q3_shipping_priority", "x63_boilerplate_ngrams",
    "x66_ngram_novelty",
]


def test_auto_front_for_r17_at_r16_snapshots():
    front, uncomparable = auto_front(upto=16)
    assert front == R17_AUTO_FRONT
    assert uncomparable == []


def test_r17_front_extension_matches_plan_fps_diff():
    """The three hand-fronted names are EXACTLY the registry queries
    whose fingerprint changed between the committed PLAN_FPS_r16 and
    PLAN_FPS_r17 snapshots and that auto (upto=16) could not see —
    pinning the r10-precedent judgment to the committed data."""
    import json

    with open(REPO / "PLAN_FPS_r16.json") as fh:
        q16 = json.load(fh)["queries"]
    with open(REPO / "PLAN_FPS_r17.json") as fh:
        q17 = json.load(fh)["queries"]
    changed = {
        q for q in q17
        if q in q16 and q16[q] != q17[q] and q in entry_mod.queries()
    }
    assert changed - set(R17_AUTO_FRONT) == {
        "q3_shipping_priority", "x63_boilerplate_ngrams",
        "x66_ngram_novelty",
    }, changed


def test_r17_window_is_generator_output_from_r16_data():
    """_R17_WINDOW == R17_FRONT + the oldest-first body (minus the
    front) from the r1..r16 driver history; _R17_TAIL is the full
    next block of that same order (the literal is exactly what
    `tools/freshness.py --window 50 --upto 16 --front <R17_FRONT>`
    emits, length included)."""
    order = [n for n in (x for x, _ in oldest_first(upto=16))]
    body = [n for n in order if n not in set(R17_FRONT)]
    expect = R17_FRONT + body
    assert entry_mod._R17_WINDOW == expect[:50]
    assert entry_mod._R17_TAIL == (body[50 - len(R17_FRONT):])[:50]
    assert len(entry_mod._R17_TAIL) == 50
    assert entry_mod._R17_WINDOW[0] == "x80_minhash_recall_eval"


def test_window_covers_registry_and_leads_queries():
    """Window/tail names are real registry queries, the window is the
    driver-checked size (50), and queries() iteration order leads with
    the window (the driver checks the FIRST 50 entries)."""
    names = list(entry_mod.queries())
    assert len(entry_mod._R17_WINDOW) == 50
    assert names[:50] == entry_mod._R17_WINDOW
    assert set(entry_mod._R17_TAIL) <= set(names)
    assert len(set(entry_mod._R17_WINDOW)) == 50  # no double-counted slots


def test_staleness_accounting_matches_registry():
    """Every registry query has a driver row by r14 (the r14
    verdict's cumulative-green claim: histogram r14=50, r13=50,
    r12=50, r11=50, r10=24 — the floor advanced from r9 to r10 at the
    r14 close, and the EXT65 trio got its first rows inside the r14
    window)."""
    latest = latest_rows(upto=14)
    names = set(entry_mod.queries())
    assert len(names) == 224
    assert names - set(latest) == set(), sorted(names - set(latest))
    rounds = [latest[n][0] for n in names]
    assert min(rounds) >= 10  # nothing older than r10 entering r15
    hist = {r: rounds.count(r) for r in set(rounds)}
    assert hist == {14: 50, 13: 50, 12: 50, 11: 50, 10: 24}
