"""Plan-fingerprint machinery (r9 verdict item 2) — pure bookkeeping,
no SparkSession.

tools/plan_fps.py records, per round, each registry query's normalized
analyzed-plan hash plus the number of driver-side actions its
construction runs; tools/freshness.py `--front auto` diffs those
snapshots against
each query's last driver-checked round to decide who jumps the window
queue. These tests pin the normalization rules and the diff logic on
synthetic data; the real-data pins (auto-front reproduces the r9 hand
front) live in test_freshness.py.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

import plan_fps  # noqa: E402
from plan_fps import fingerprint, normalize_plan  # noqa: E402
import freshness  # noqa: E402


def test_normalize_strips_expr_ids_but_keeps_structure():
    a = "Project [l_orderkey#123L, sum_qty#45]\n+- Filter (x#7 > 3)"
    b = "Project [l_orderkey#955L, sum_qty#81]\n+- Filter (x#2 > 3)"
    assert normalize_plan(a) == normalize_plan(b)
    # a STRUCTURAL difference must survive normalization
    c = "Project [l_orderkey#123L]\n+- Filter (x#7 > 3)"
    assert normalize_plan(a) != normalize_plan(c)


def test_normalize_strips_lambda_allocation_counters():
    """Higher-order-function lambda variables carry a globally
    incrementing counter (x_12 one build, x_19 the next) — measured
    flapping x2_minhash_lsh's hash every build until normalized."""
    a = "zip_with(s, t, lambdafunction((lambda x_12#L = lambda y_13#L), lambda x_12#L, lambda y_13#L, false))"
    b = "zip_with(s, t, lambdafunction((lambda x_19#L = lambda y_20#L), lambda x_19#L, lambda y_20#L, false))"
    assert normalize_plan(a) == normalize_plan(b)
    # ...but a different VARIABLE (not counter) still distinguishes
    c = a.replace("lambda y_13", "lambda z_13")
    assert normalize_plan(a) != normalize_plan(c)


def test_normalize_strips_pair_view_digest():
    """The shared pair view's name digests its input files' mtimes, so
    two copies of one testdata tree name it differently."""
    a = "SubqueryAlias sds_pairs_5d358c8ba5a520c9\n+- View (`sds_pairs_5d358c8ba5a520c9`, [id_a#30L])"
    b = "SubqueryAlias sds_pairs_1605ffce963969c6\n+- View (`sds_pairs_1605ffce963969c6`, [id_a#31L])"
    assert normalize_plan(a) == normalize_plan(b)


def test_fingerprint_composes_plan_and_actions():
    """The actions component exists because an analyzed-plan hash
    cannot see driver-side execution changes (r9's star-contraction
    count-carry returned an IDENTICAL plan, one fewer count per
    round). Driver ACTIONS, not raw Spark jobs: AQE materializes a
    scheduler-dependent number of stage-jobs per action (measured
    flapping +-1 across sessions in r10), while the action count is a
    property of the query code path alone."""
    sha = "a" * 64
    assert fingerprint(sha, 7) != fingerprint(sha, 9)
    assert fingerprint(sha, 7) == f"{'a' * 16}:a7"


def _write(repo: str, name: str, payload) -> None:
    with open(os.path.join(repo, name), "w") as fh:
        json.dump(payload, fh)


def _fp_file(queries: dict) -> dict:
    return {"_meta": {}, "queries": queries}


def test_latest_rows_ignores_file_sort_order(tmp_path, monkeypatch):
    """r9 advice: an unpadded CORRECTNESS_r10.json sorts BEFORE r2 —
    the numerically-latest round must win regardless."""
    repo = str(tmp_path)
    _write(repo, "CORRECTNESS_r10.json", {"q": {}})   # unpadded, sorts first
    _write(repo, "CORRECTNESS_r2.json", {"q": {}, "p": {}})
    latest = freshness.latest_rows(repo)
    assert latest["q"] == (10, 0)   # r10 beats r2 despite sort order
    assert latest["p"] == (2, 1)


def test_auto_front_diffs_against_last_checked_round(tmp_path, monkeypatch):
    repo = str(tmp_path)
    # registry of four queries; driver history: a,b checked r1; c,d r2
    monkeypatch.setattr(freshness, "registry_names",
                        lambda: ["a", "b", "c", "d"])
    _write(repo, "CORRECTNESS_r01.json", {"a": {}, "b": {}})
    _write(repo, "CORRECTNESS_r02.json", {"c": {}, "d": {}})
    _write(repo, "PLAN_FPS_r01.json", _fp_file({
        "a": {"fp": "A:a0", "stable": True},
        "b": {"fp": "B:a0", "stable": True},
    }))
    _write(repo, "PLAN_FPS_r02.json", _fp_file({
        "a": {"fp": "A2:a0", "stable": True},  # changed since its r1 row
        "b": {"fp": "B:a0", "stable": True},   # unchanged
        "c": {"fp": "C:a0", "stable": True},   # fresh (checked at r2)
        "d": {"fp": "D:a0", "stable": True},
    }))
    front, uncomparable = freshness.auto_front(repo)
    assert front == ["a"]
    assert uncomparable == []


def test_auto_front_excludes_unstable_and_err_as_uncomparable(tmp_path, monkeypatch):
    """An unstable fingerprint can only produce a FALSE front — the
    query goes to the uncomparable list (human judgment), never
    silently into (or out of) the front."""
    repo = str(tmp_path)
    monkeypatch.setattr(freshness, "registry_names",
                        lambda: ["u", "e", "m"])
    _write(repo, "CORRECTNESS_r01.json", {"u": {}, "e": {}, "m": {}})
    _write(repo, "PLAN_FPS_r01.json", _fp_file({
        "u": {"fp": "U:a0", "stable": False},
        "e": {"err": "boom"},
        # "m" missing entirely from the snapshot
        "m_other": {"fp": "X:a0", "stable": True},
    }))
    _write(repo, "PLAN_FPS_r02.json", _fp_file({
        "u": {"fp": "U2:a0", "stable": True},
        "e": {"fp": "E:a0", "stable": True},
        "m": {"fp": "M:a0", "stable": True},
    }))
    front, uncomparable = freshness.auto_front(repo)
    assert front == []
    assert set(uncomparable) == {"u", "e", "m"}


def test_snapshot_exists_for_every_driver_round():
    """Round-close checklist step 3, enforced: the rotation for round
    N+1 diffs against the code state the round-N driver actually
    checked, so a PLAN_FPS snapshot at least as new as the newest
    CORRECTNESS file must exist — otherwise the next round's
    auto-front silently degrades to 'everything uncomparable'."""
    import glob
    import re

    def newest(pattern: str) -> int:
        return max(
            int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
            for p in glob.glob(pattern)
        )

    cor = newest("/root/repo/CORRECTNESS_r*.json")
    fps = newest("/root/repo/PLAN_FPS_r*.json")
    assert fps >= cor, (
        f"newest PLAN_FPS is r{fps} but the driver has checked up to "
        f"r{cor} — run tools/plan_fps.py before round close"
    )


def test_compute_rejects_reps_below_two():
    """r10 advice: majority-vote stability is vacuous at one
    observation (votes=1 > 0 marks stable=true), and --reps 0 crashed
    on most_common(1)[0]. compute() refuses both before touching
    Spark."""
    for bad in (0, 1, -3):
        with pytest.raises(SystemExit):
            plan_fps.compute("/root/repo", "/root/testdata/sf0.001",
                             reps=bad, cpus=2)


def test_auto_front_warns_on_engine_version_mismatch(tmp_path, monkeypatch, capsys):
    """r10 advice: an engine upgrade between rounds changes
    analyzed-plan strings wholesale — a cross-version diff must warn
    that its fronts may be engine artifacts, not query-code changes.
    Same-version (and version-less legacy) snapshots stay silent."""
    repo = str(tmp_path)
    monkeypatch.setattr(freshness, "registry_names", lambda: ["a"])
    _write(repo, "CORRECTNESS_r01.json", {"a": {}})
    _write(repo, "PLAN_FPS_r01.json", {
        "_meta": {"engine": {"pyspark": "4.0.0", "spark": "4.0.0"}},
        "queries": {"a": {"fp": "A:a0", "stable": True}},
    })
    _write(repo, "PLAN_FPS_r02.json", {
        "_meta": {"engine": {"pyspark": "4.1.2", "spark": "4.1.2"}},
        "queries": {"a": {"fp": "A2:a0", "stable": True}},
    })
    front, _ = freshness.auto_front(repo)
    assert front == ["a"]  # the diff still runs...
    assert "WARNING" in capsys.readouterr().err  # ...but warns loudly
    # same engine on both sides -> silent
    _write(repo, "PLAN_FPS_r01.json", {
        "_meta": {"engine": {"pyspark": "4.1.2", "spark": "4.1.2"}},
        "queries": {"a": {"fp": "A:a0", "stable": True}},
    })
    freshness.auto_front(repo)
    assert "WARNING" not in capsys.readouterr().err
    # legacy snapshot without engine metadata -> no false alarm
    _write(repo, "PLAN_FPS_r01.json", _fp_file(
        {"a": {"fp": "A:a0", "stable": True}}))
    freshness.auto_front(repo)
    assert "WARNING" not in capsys.readouterr().err


def test_window_smaller_than_front_errors(monkeypatch):
    """r10 advice: len(front) > --window used to slice with a negative
    bound and silently emit a wrong-sized window literal."""
    import __spark_entry__ as entry_mod

    names = list(entry_mod.queries())[:3]
    monkeypatch.setattr(
        sys, "argv",
        ["freshness.py", "--window", "2", "--front", ",".join(names)])
    with pytest.raises(SystemExit) as exc:
        freshness.main()
    assert "wrong-sized window" in str(exc.value)


def test_auto_front_skips_rows_fresher_than_snapshot(tmp_path, monkeypatch):
    """A driver row from the same round as (or newer than) the current
    snapshot already postdates the current code — never fronted even
    if older snapshots disagree."""
    repo = str(tmp_path)
    monkeypatch.setattr(freshness, "registry_names", lambda: ["a"])
    _write(repo, "CORRECTNESS_r01.json", {"a": {}})
    _write(repo, "CORRECTNESS_r02.json", {"a": {}})
    _write(repo, "PLAN_FPS_r01.json", _fp_file(
        {"a": {"fp": "A:a0", "stable": True}}))
    _write(repo, "PLAN_FPS_r02.json", _fp_file(
        {"a": {"fp": "A2:a0", "stable": True}}))
    front, uncomparable = freshness.auto_front(repo)
    assert front == [] and uncomparable == []


def test_compute_targets_include_shared_pair_build(spark):
    """r13 verdict item 5: the bench's one non-registry timing site is
    fingerprinted with the registry protocol, so a change to its plan
    shows up in the snapshot like any registry query's. Live
    run (reps=2, sf0.001) — also pins that the LAZY builder's plan is
    session-stable (the memoized wrapper's checkpointed plan is not,
    which is why the canary fingerprints the builder)."""
    out, _env = plan_fps.compute(
        "/root/repo", "/root/testdata/sf0.001", reps=2, cpus=4,
        only={"shared_pair_build"})
    rec = out["shared_pair_build"]
    assert "err" not in rec, rec
    assert rec["stable"] is True
    assert rec["fp"].endswith(f":a{rec['actions']}")
