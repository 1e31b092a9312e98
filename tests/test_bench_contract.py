"""bench.py contract pins — no SparkSession needed.

bench.main() silently skips a suite name that is missing from the
registry (per-query failure isolation must not abort the run), which
means a renamed registry query would silently drop out of the suite
and the headline total would read as a phantom speedup. Pin every
suite name to the registry here so the rename fails in CI instead.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import bench
import __spark_entry__ as entry_mod


def test_every_bench_suite_name_resolves_in_registry():
    registry = entry_mod.queries()
    missing = [n for n in bench.HEADLINE if n not in registry]
    missing += [n for n in bench.EXT_HEADLINE if n not in registry]
    assert not missing, f"bench suite names not in registry: {missing}"


def test_suites_do_not_overlap_and_headline_is_r1_comparable():
    """The headline set must stay the r1 set (cross-round comparability
    is the whole point of the anchor guard); ext must not double-time a
    headline query."""
    assert len(bench.HEADLINE) == 11
    assert not set(bench.HEADLINE) & set(bench.EXT_HEADLINE)


def test_every_oracle_key_has_a_query():
    """oracle_sql() may be a subset of queries() (rows-only checks) but
    never a superset — an orphan oracle is a typo'd key the driver
    would never exercise."""
    qs = set(entry_mod.queries())
    orphans = set(entry_mod.oracle_sql()) - qs
    assert not orphans, f"oracles without a query: {sorted(orphans)}"


def test_vs_prev_guard_covers_shared_pair_build_line(tmp_path=None):
    """r9 verdict item 4: shared_pair_build got its first baseline in
    BENCH_r09, and a regression in the BUILD stage must flag on the
    build line (not surface as noise on a warm consumer). The guard
    compares prev['queries_ext'] against the current ext timings, and
    the build line lives in queries_ext on both sides — pin that, plus
    the _flag arithmetic on the line itself."""
    import json

    with open("/root/repo/BENCH_r09.json") as fh:
        prev_ext = json.load(fh)["parsed"]["queries_ext"]
    assert "shared_pair_build" in prev_ext  # baseline exists
    base = prev_ext["shared_pair_build"]

    # a regressed build flags on the build line...
    now = dict(prev_ext, shared_pair_build=round(base * 1.5, 3))
    flagged = bench._flag(prev_ext, now)
    assert "shared_pair_build" in flagged
    assert flagged["shared_pair_build"]["base"] == base
    # ...and ONLY on the build line (consumers unchanged).
    assert set(flagged) == {"shared_pair_build"}
    # steady state does not flag
    assert "shared_pair_build" not in bench._flag(prev_ext, dict(prev_ext))


def test_await_quiet_waits_then_passes_and_stops_at_budget():
    """r10 verdict item 4 (the load gate): BENCH_r10's 8.5s headline
    was recorded at loadavg 7.34 and was pure box noise. The gate must
    (a) return immediately on a quiet box, (b) poll until the box
    quiets, (c) give up at the wait budget rather than hang the driver."""
    # (a) quiet box: no sleeping at all
    la, waited = bench._await_quiet(
        2.0, 600, poll_s=15,
        loadavg=lambda: [0.4, 0.5, 0.6],
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")))
    assert la == [0.4, 0.5, 0.6] and waited == 0.0

    # (b) loaded box that quiets after two polls
    readings = iter([[5.0, 4, 4], [3.0, 4, 4], [1.2, 2, 2]])
    slept = []
    la, waited = bench._await_quiet(
        2.0, 600, poll_s=15, loadavg=lambda: next(readings),
        sleep=slept.append)
    assert la[0] == 1.2 and waited == 30.0 and slept == [15, 15]

    # (c) never quiets: stops at the budget, reports what it saw
    la, waited = bench._await_quiet(
        2.0, 45, poll_s=15, loadavg=lambda: [9.9, 9, 9],
        sleep=lambda s: None)
    assert la[0] == 9.9 and waited >= 45


def test_await_quiet_also_waits_on_the_5min_term():
    """r16 verdict item 1: BENCH_r16 passed the 1-min gate at 1.99 with
    5-min loadavg 14.6 and recorded a 4-6x inflated headline. With
    load5_limit set, the gate must keep waiting while the 5-min term is
    hot even though the 1-min term is quiet — and the limit is wired in
    main() to the same CALIB_WARM_LOAD5_FRAC fraction the throttle
    stamp corroborates on."""
    # 1-min quiet, 5-min hot: waits until the 5-min term drains
    readings = iter([[1.0, 14.6, 12.0], [1.0, 9.0, 10.0], [1.0, 7.9, 9.0]])
    slept = []
    la, waited = bench._await_quiet(
        2.0, 600, poll_s=15, loadavg=lambda: next(readings),
        sleep=slept.append, load5_limit=8.0)
    assert la[1] == 7.9 and waited == 30.0 and slept == [15, 15]

    # load5_limit=None keeps the historical 1-min-only behavior
    la, waited = bench._await_quiet(
        2.0, 600, poll_s=15, loadavg=lambda: [1.0, 14.6, 12.0],
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")))
    assert waited == 0.0


def test_contamination_stamp_mirrors_both_quiet_gate_terms():
    """A run whose wait budget ran out with the 1-minute loadavg quiet
    but the 5-minute term still above its cap is stamped
    load_contaminated too: main() stamps exactly when _is_quiet, the
    gate's own condition, is false."""
    assert bench._is_quiet([1.0, 0.5, 0.4], 2.0, load5_limit=1.0)
    assert not bench._is_quiet([2.5, 0.5, 0.4], 2.0, load5_limit=1.0)
    assert not bench._is_quiet([1.0, 14.6, 12.0], 2.0, load5_limit=1.0)
    assert bench._is_quiet([1.0, 14.6, 12.0], 2.0)  # no cap: 1-min only
    assert not bench._is_quiet([], 2.0)


def test_calibrate_start_retries_while_throttled_within_budget():
    """r16 verdict item 1 (second half): a throttled START stamp must be
    re-run under a bounded backoff budget, not recorded. First retry is
    immediate (the calibration job is itself the warm-up on this host's
    cold-ramp era); later retries sleep; the budget bounds total wait;
    the returned loadavg5 is the one read at the FINAL stamp."""
    floors = {"cpu_sec": 0.2, "shuffle_sec": 0.3}

    # throttled twice, then clean: three attempts, first retry free,
    # later retries back off (30 then 60)
    stamps = iter([(0.9, 0.3), (0.5, 0.3), (0.21, 0.3)])
    la5s = iter([14.6, 9.0, 0.5])
    slept = []
    cpu, shuf, attempts, waited, la5 = bench._calibrate_start_with_retry(
        lambda: next(stamps), floors, lambda: next(la5s), 32,
        budget_s=600.0, sleep=slept.append)
    assert (cpu, shuf) == (0.21, 0.3)
    assert attempts == 3 and slept == [30.0, 60.0] and waited == 90.0
    assert la5 == 0.5  # corroboration reads the final stamp's box state

    # never clean: stops at the budget, returns the last (bad) stamp
    cpu, shuf, attempts, waited, la5 = bench._calibrate_start_with_retry(
        lambda: (0.9, 0.9), floors, lambda: 14.6, 32,
        budget_s=40.0, sleep=lambda s: None)
    assert cpu == 0.9 and attempts == 2 and waited == 30.0

    # clean box: exactly one attempt, zero waiting
    cpu, shuf, attempts, waited, la5 = bench._calibrate_start_with_retry(
        lambda: (0.21, 0.3), floors, lambda: 0.5, 32,
        budget_s=600.0,
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")))
    assert attempts == 1 and waited == 0.0

    # a calibration crash returns Nones instead of raising
    def _boom():
        raise RuntimeError("gateway died")
    cpu, shuf, attempts, waited, la5 = bench._calibrate_start_with_retry(
        _boom, floors, lambda: 0.5, 32, budget_s=600.0, sleep=lambda s: None)
    assert cpu is None and shuf is None and attempts == 1


def test_committed_bench_artifacts_are_clean_or_inert():
    """Every BENCH_r*.json is DRIVER-deposited (r14 lesson — the
    builder's runs live in SCALE.md), so the builder cannot "rerun
    before committing" a dirty one. The r11-r13 history is hard-clean
    (the old rule, kept as a regression pin on those files); from r15
    on a marker is ALLOWED — detection working is not a defect — and
    the marked artifact must instead be INERT, which
    test_marked_artifacts_are_inert_in_every_scan pins at the unit
    level. What stays non-negotiable for ALL parseable artifacts:
    the structural stamps must exist (else detection dies silently)."""
    import glob
    import json
    import re

    for path in glob.glob("/root/repo/BENCH_r*.json"):
        rnd = int(re.search(r"r(\d+)", path).group(1))
        if rnd < 11:
            continue
        with open(path) as fh:
            parsed = json.load(fh).get("parsed")
        if parsed is None:
            # A driver capture failure ("parsed": null). r14's is the
            # known incident (the oversized stdout line, fixed r15 by
            # _compact_payload + STDOUT_BUDGET); any LATER null-parsed
            # artifact means the compaction regressed — fail loudly.
            assert rnd == 14, (
                f"{path} has no parseable payload — the compact stdout "
                "line must stay under the driver's capture budget")
            continue
        assert not parsed.get("smoke_mode"), (
            f"{path} is a SMOKE run (truncated suites, 1/100-size "
            "calibration) — never a round record")
        la = parsed.get("load_context", {}).get("loadavg_start")
        assert la, f"{path} is missing loadavg_start"
        if 11 <= rnd <= 14:
            # historical hard-clean pins (these files are frozen)
            assert not bench._marked_dirty(parsed), (
                f"{path}: the r11-r14 history was verified clean; a "
                "marker appearing here means the file was rewritten")
            assert la[0] <= bench.LOAD_GATE_THRESHOLD, (
                f"{path} loadavg_start {la} exceeds the gate threshold")
        if rnd < 12:
            continue  # r11 predates the end-drift marker (r11 advice)
        la_end = parsed.get("load_context", {}).get("loadavg_end")
        assert la_end, f"{path} is missing loadavg_end"
        if rnd < 14:
            continue  # pre-r14 artifacts predate the calibration stamp
        assert isinstance(
            parsed.get("load_context", {}).get("spark_calib_sec"),
            (int, float)), f"{path} is missing the calibration stamp"
        if rnd >= 15 and bench._marked_dirty(parsed):
            # a marked artifact self-documents why its numbers are
            # rerun-only; the scans below must ignore it entirely
            assert parsed.get("load_contaminated") or parsed.get(
                "host_throttled") or parsed.get("load_drift")


def test_throttle_predicate_marks_positional_excess_only():
    """The r15 done-criterion: with the committed floor armed, a 1.4x
    calibration reading marks host_throttled — and ONLY a positional
    excess does (an end stamp is never judged against a start floor,
    since end-of-suite JVMs read systematically warmer)."""
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    floors, _pinned = bench._calib_file_floor(here, 0.1)  # committed seed
    assert floors  # armed
    # a 1.4x start-cpu reading trips it (1.4 > CALIB_THROTTLE_RATIO)
    assert bench._is_throttled(
        {"spark_calib_sec": round(1.4 * floors["cpu_sec"], 3)}, floors)
    # an in-band reading does not
    assert not bench._is_throttled(
        {"spark_calib_sec": round(1.2 * floors["cpu_sec"], 3)}, floors)
    # positional: a start stamp equal to 1.4x the END floor is NOT
    # compared against it — only its own (start) floor judges it
    assert not bench._is_throttled(
        {"spark_calib_sec": round(1.4 * floors["cpu_end_sec"], 3)},
        {"cpu_end_sec": floors["cpu_end_sec"]})
    # disarmed floor (missing position) -> never throttled
    assert not bench._is_throttled({"spark_calib_sec": 99.0}, {})


def test_throttle_predicate_warm_box_corroboration_closes_blind_band():
    """The r16 done-criterion (r15 verdict "what's wrong" #4): the
    1.29-1.35x band was blind. A synthetic warm-box fixture — calib
    1.3x its floor, loadavg5 12 on 32 cpus — now gets the marker,
    while the SAME 1.3x stamp on a quiet box (loadavg5 0.5, the r16
    fresh-session host-era reading) stays clean, and an in-band 1.1x
    stamp never trips even warm."""
    floors = {"cpu_sec": 0.29}
    stamp = {"spark_calib_sec": round(1.3 * floors["cpu_sec"], 3)}
    # warm box corroborates the elevated stamp -> marked
    assert bench._is_throttled(stamp, floors, loadavg5=12.0, cpus=32)
    # quiet box: same stamp is host-era drift, not load -> clean
    assert not bench._is_throttled(stamp, floors, loadavg5=0.5, cpus=32)
    # no loadavg available -> unconditional threshold only
    assert not bench._is_throttled(stamp, floors)
    # a genuinely in-band stamp stays clean even on a warm box
    ok = {"spark_calib_sec": round(1.1 * floors["cpu_sec"], 3)}
    assert not bench._is_throttled(ok, floors, loadavg5=12.0, cpus=32)
    # an explicit ratio BELOW the warm ratio is never loosened by it
    tight = {"spark_calib_sec": round(1.15 * floors["cpu_sec"], 3)}
    assert bench._is_throttled(tight, floors, ratio=1.1,
                               loadavg5=12.0, cpus=32)


def test_marked_artifacts_are_inert_in_every_scan(tmp_path):
    """A marked (throttled/contaminated/drifted) driver artifact must
    contribute NOTHING: no records, no history, no vs-prev baseline
    (walk-back skips it), no calibration floors — otherwise one dirty
    driver run pollutes every future guard denominator."""
    import json

    clean = {"parsed": {
        "sf": 0.1, "queries": {"q": 1.0},
        "load_context": {"spark_calib_sec": 0.30}}}
    dirty = {"parsed": {
        "sf": 0.1, "queries": {"q": 0.1},  # would beat every record
        "host_throttled": True,
        "load_context": {"spark_calib_sec": 0.05}}}  # and every floor
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(clean))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(dirty))
    records, history = bench._record_tables(str(tmp_path), 0.1)
    assert records == {"q": (1.0, "BENCH_r01.json")}
    assert history == {"q": [1.0]}
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.30}
    for marker in ("load_contaminated", "load_drift", "host_throttled",
                   "smoke_mode"):
        assert bench._marked_dirty({marker: True})
    assert not bench._marked_dirty({"sf": 0.1})


def test_flap_triage_verdict_paths():
    """r12 verdict item 3: the x35/x63-style manual pre-root-cause is
    now a bench.py verdict. Pure decision logic with injected probes —
    pin all four verdict paths and exactly which ones demote."""
    vs_prev = {
        "q_jit": {"base": 1.0, "now": 1.35},        # unchanged fp, floor ok
        "q_shift": {"base": 0.887, "now": 1.322},   # unchanged fp, floor moved
        "q_replanned": {"base": 1.0, "now": 1.4},   # fingerprint changed
        "q_dark": {"base": 1.0, "now": 1.4},        # no snapshot entry
        "q_probe_dead": {"base": 1.0, "now": 1.4},  # floor probe failed
    }
    snapshot = {
        "q_jit": {"fp": "aaaa:a0", "stable": True},
        "q_shift": {"fp": "bbbb:a0", "stable": True},
        "q_replanned": {"fp": "cccc:a0", "stable": True},
        "q_probe_dead": {"fp": "dddd:a0", "stable": True},
    }
    live = {
        "q_jit": {"fp": "aaaa:a0", "stable": True},
        "q_shift": {"fp": "bbbb:a0", "stable": True},
        "q_replanned": {"fp": "cccc:a1", "stable": True},  # actions changed
        "q_dark": {"fp": "eeee:a0", "stable": True},
        "q_probe_dead": {"fp": "dddd:a0", "stable": True},
    }
    # records: x35's real r7 incident shape for q_shift (floor moved to
    # 1.322 vs a 0.887 record), the r12 flap shape for q_jit (floor
    # 1.191 vs 1.158 record = 1.028, inside the 1.15 band)
    records = {"q_jit": (1.158, "BENCH_r07.json"),
               "q_shift": (0.887, "BENCH_r05.json"),
               "q_probe_dead": (1.0, "BENCH_r01.json")}
    floors = {"q_jit": {"floor": 1.191, "times": [1.191, 1.25]},
              "q_shift": {"floor": 1.322, "times": [1.322, 1.4]},
              "q_probe_dead": None}

    triage, demote = bench._triage_flaps(
        vs_prev, snapshot,
        live_fp=lambda q: live.get(q),
        floor_probe=lambda q: floors.get(q),
        record_floor=lambda q: records.get(q, (None, None)),
    )
    assert set(triage) == set(vs_prev)
    assert triage["q_jit"]["verdict"] == "jit_band"
    assert triage["q_jit"]["floor_ratio"] == round(1.191 / 1.158, 3)
    assert triage["q_shift"]["verdict"] == "floor_shift"
    assert triage["q_replanned"]["verdict"] == "fingerprint_changed"
    assert triage["q_dark"]["verdict"] == "uncomparable"
    assert triage["q_probe_dead"]["verdict"] == "uncomparable"
    # ONLY the in-band unchanged-fingerprint flap is demoted; the
    # x35-r7 incident shape and every uncomparable path keep the flag
    assert demote == ["q_jit"]
    # every triage record still carries the raw flag it judged
    assert triage["q_shift"]["flag"] == vs_prev["q_shift"]
    # an unstable snapshot entry can never be 'unchanged'
    t2, d2 = bench._triage_flaps(
        {"q_jit": vs_prev["q_jit"]},
        {"q_jit": {"fp": "aaaa:a0", "stable": False}},
        live_fp=lambda q: live.get(q),
        floor_probe=lambda q: floors.get(q),
        record_floor=lambda q: records.get(q, (None, None)),
    )
    assert t2["q_jit"]["verdict"] == "uncomparable" and d2 == []


def test_record_floor_scans_all_rounds_and_both_sections():
    """The floor is judged against the best committed number ANYWHERE
    in the history (same sf), not just the previous round — a slow
    prev round must not launder a regression. x2_minhash_lsh has both
    a headline history and round-to-round variance; its record must be
    the global min across artifacts."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    best, src = bench._record_floor(here, 0.1, "x2_minhash_lsh")
    assert best is not None and src is not None
    lows = []
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        with open(path) as fh:
            parsed = json.load(fh).get("parsed") or {}
        if parsed.get("sf") != 0.1 or bench._marked_dirty(parsed):
            continue  # marked artifacts are inert — same rule as
            # _record_tables (see test_marked_artifacts_are_inert...)
        for section in ("queries", "queries_ext"):
            t = parsed.get(section, {}).get("x2_minhash_lsh")
            if isinstance(t, (int, float)) and t > 0:
                lows.append(t)
    assert best == min(lows)
    # ext-section queries resolve too (shared_pair_build lives only
    # in queries_ext)
    best_ext, _ = bench._record_floor(here, 0.1, "shared_pair_build")
    assert best_ext is not None
    # unknown query / wrong sf -> no record, triage says uncomparable
    assert bench._record_floor(here, 0.1, "no_such_query") == (None, None)
    assert bench._record_floor(here, 99.0, "x2_minhash_lsh") == (None, None)


def test_committed_artifacts_from_r13_have_triaged_vs_prev_flags():
    """From r13 on, a committed artifact may carry vs-prev flags ONLY
    with a triage verdict that justifies keeping them (jit_band ones
    are demoted out by construction) — the manual pre-root-cause
    section in SCALE.md is retired, so an untriaged flag in the round
    record means the triage was skipped; rerun with it enabled."""
    import glob
    import json
    import re

    for path in glob.glob("/root/repo/BENCH_r*.json"):
        rnd = int(re.search(r"r(\d+)", path).group(1))
        if rnd < 13:
            continue
        with open(path) as fh:
            parsed = json.load(fh).get("parsed")
        if parsed is None:
            continue  # named-allowed only for r14; the artifact test
            # above owns that assertion — don't double-report here
        flags = dict(parsed.get("regressions_vs_prev", {}))
        # r14: the cumulative record guard's flags need verdicts too
        vs_rec = parsed.get("regressions_vs_record", {})
        if "count" in flags or "count" in vs_rec:
            # r15+ compact stdout shape: flag dicts are count+top and
            # the triage compacts to verdict counts. A standing hard
            # flag still demands a triage section; jit_band entries
            # were demoted OUT of the counts by construction.
            standing = (flags.get("count") or 0) + (
                vs_rec.get("count") or 0)
            if not standing:
                continue
            ft = parsed.get("flap_triage", {})
            verdicts = ft.get("verdicts", {})
            assert verdicts or ft.get("skipped"), (
                f"{path}: {standing} standing flags with no triage — "
                "rerun bench.py with SPARK_GRAFT_TRIAGE enabled")
            assert set(verdicts) <= {
                "fingerprint_changed", "floor_shift", "uncomparable",
                "probe_budget_exceeded", "jit_band"}
            continue
        flags.update(vs_rec)
        if not flags:
            continue
        triage = parsed.get("flap_triage", {}).get("queries", {})
        for q in flags:
            assert q in triage, (
                f"{path}: flag {q} has no triage verdict — "
                "rerun bench.py with SPARK_GRAFT_TRIAGE enabled")
            assert triage[q]["verdict"] in (
                "fingerprint_changed", "floor_shift", "uncomparable",
                "probe_budget_exceeded")


def test_latest_plan_fps_picks_the_numerically_newest_snapshot():
    """The triage diffs live fingerprints against the NEWEST committed
    snapshot. File-name sort order is a trap ('PLAN_FPS_r9' sorts
    after 'PLAN_FPS_r13' lexically), so the picker must key on the
    round number — same lesson as freshness.py's latest_rows."""
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    fname, queries = bench._latest_plan_fps(here)
    rounds = [
        int(f.split("_r")[1].split(".")[0])
        for f in os.listdir(here)
        if f.startswith("PLAN_FPS_r") and f.endswith(".json")
    ]
    assert fname == f"PLAN_FPS_r{max(rounds)}.json"
    # <=r13: the frozen 221-query registry. >=r14: 224 (EXT65 wired,
    # r13 verdict item 1) + the shared_pair_build canary fingerprint
    # (r13 verdict item 5).
    expected = 221 if max(rounds) <= 13 else 225
    assert queries and len(queries) == expected
    # a directory with no snapshots is a clean (None, None) — the
    # triage then reports every flag uncomparable instead of crashing
    import tempfile

    with tempfile.TemporaryDirectory() as empty:
        assert bench._latest_plan_fps(empty) == (None, None)


def test_x2_baseline_override_retires_with_the_artifact_it_corrects():
    """r9 advice: the 1.5s x2 pin corrects the specific 0.926s r01
    artifact (block-manager-cache leak, fixed r2). It must only apply
    while the anchor still records that number — an in-place
    re-generated BENCH_r01 retires the pin."""
    import json

    artifact, pin = bench.BASE_OVERRIDES_SPEC["x2_minhash_lsh"]
    assert (artifact, pin) == (0.926, 1.5)
    with open("/root/repo/BENCH_r01.json") as fh:
        recorded = json.load(fh)["parsed"]["queries"]["x2_minhash_lsh"]
    assert recorded == artifact  # the artifact is still the anchor


def test_record_guard_flags_compounding_drift_without_absolute_floor():
    """r13 verdict item 4: three rounds of ~1.2x sub-0.25s drift
    passed the vs-prev gate untouched (a34/x75/a44). The record guard
    compares every reported row against its best committed number with
    NO absolute-delta floor, so exactly that compounding path flags."""
    records = {
        "a34_rsi": (0.10, "BENCH_r10.json"),   # 0.173 now = 1.73x record
        "x75_ok": (0.50, "BENCH_r11.json"),    # 0.6 now = 1.2x, inside
        "q_big": (2.0, "BENCH_r01.json"),      # 3.5 now = 1.75x record
        "q_zero": (0.0, "BENCH_r02.json"),     # degenerate record: skip
    }
    head = {"q_big": 3.5}
    ext = {"a34_rsi": 0.173, "x75_ok": 0.6, "q_zero": 1.0, "q_new": 9.9}
    flagged = bench._flag_vs_record(
        (head, ext), lambda q: records.get(q, (None, None)))
    # the 0.073s absolute delta the vs-prev gate ignores DOES flag here
    assert set(flagged) == {"a34_rsi", "q_big"}
    assert flagged["a34_rsi"] == {
        "record": 0.10, "record_source": "BENCH_r10.json",
        "now": 0.173, "ratio": 1.73, "threshold": 0.15}
    # inside-ratio, no-record, and zero-record rows never flag
    assert "x75_ok" not in flagged and "q_new" not in flagged
    assert "q_zero" not in flagged


def test_record_guard_band_term_tolerates_band_bottom_records():
    """r14 watch item (verdict item 4 for r15): x29_fuzzy_match's
    record (0.191) is the bottom of a ten-round honest 0.19-0.30 band,
    so the pure 1.5x threshold (0.286) false-flagged ~half of honest
    runs. With committed history the threshold widens to
    max(1.5 x record, mean + 2 sigma): an in-band reading never flags,
    a true floor shift still does."""
    # x29's REAL committed history (r4-r13)
    hist = [0.299, 0.26, 0.231, 0.226, 0.273, 0.244, 0.221, 0.215,
            0.191, 0.22]
    records = {"x29": (0.191, "BENCH_r12.json")}

    def rf(q):
        return records.get(q, (None, None))

    def h(q):
        return hist if q == "x29" else []

    # top of the honest band: 1.57x the record, but inside mean+2sigma
    assert bench._flag_vs_record(({"x29": 0.30},), rf, history=h) == {}
    # a true floor shift (2x the band top) still flags, with the
    # widened threshold recorded on the flag
    flagged = bench._flag_vs_record(({"x29": 0.60},), rf, history=h)
    assert set(flagged) == {"x29"}
    assert flagged["x29"]["threshold"] > 1.5 * 0.191
    # fewer than RECORD_BAND_MIN_SAMPLES committed numbers -> the pure
    # ratio threshold stands (no sigma to estimate)
    short = lambda q: hist[:2]  # noqa: E731
    assert set(bench._flag_vs_record(
        ({"x29": 0.30},), rf, history=short)) == {"x29"}
    # CAP: cross-era committed history (x70_kcore's real shape — a
    # pre-optimization ~3s era above a 0.655s record) must not widen
    # the band past RECORD_BAND_MAX_RATIO x record, or the guard is
    # silently neutered for exactly the drift it exists to catch
    era_hist = [3.1, 3.0, 2.9, 0.66, 0.7, 0.655]
    rec2 = {"x70": (0.655, "BENCH_r12.json")}
    flagged = bench._flag_vs_record(
        ({"x70": 1.5},), lambda q: rec2.get(q, (None, None)),
        history=lambda q: era_hist)
    assert set(flagged) == {"x70"}  # 1.5 > 2.0 x 0.655 = 1.31 cap
    assert flagged["x70"]["threshold"] == round(
        bench.RECORD_BAND_MAX_RATIO * 0.655, 3)


def test_shared_pair_build_flag_resolves_to_named_verdict():
    """r13 verdict item 5 done-criterion: a synthetic flag on
    shared_pair_build resolves through the SAME triage as registry
    queries (it now has a plan fingerprint via tools/plan_fps.py's
    canary target and a floor path via tools/floor_probe.py) — never
    the old 'uncomparable' dead end."""
    flag = {"shared_pair_build": {"record": 2.515, "now": 3.43,
                                  "ratio": 1.364}}
    snapshot = {"shared_pair_build": {"fp": "6da9f2cd:a0", "stable": True}}
    live_same = {"shared_pair_build": {"fp": "6da9f2cd:a0", "stable": True}}

    # unchanged fingerprint + floor at the record -> jit_band, demoted
    triage, demote = bench._triage_flaps(
        flag, snapshot,
        live_fp=lambda q: live_same.get(q),
        floor_probe=lambda q: {"floor": 2.6, "times": [2.6, 3.4]},
        record_floor=lambda q: (2.515, "BENCH_r12.json"),
    )
    assert triage["shared_pair_build"]["verdict"] == "jit_band"
    assert demote == ["shared_pair_build"]

    # changed fingerprint -> the flag stands with a named cause
    live_diff = {"shared_pair_build": {"fp": "ffff0000:a1", "stable": True}}
    triage, demote = bench._triage_flaps(
        flag, snapshot,
        live_fp=lambda q: live_diff.get(q),
        floor_probe=lambda q: {"floor": 2.6, "times": [2.6]},
        record_floor=lambda q: (2.515, "BENCH_r12.json"),
    )
    assert triage["shared_pair_build"]["verdict"] == "fingerprint_changed"
    assert demote == []


def test_x35_record_override_applies_and_self_retires():
    """The record guard judges against COMPARABLE records: x35's
    all-time 0.887 (BENCH_r05) predates the r5->r6 skew-split plan
    change (root-caused then), so while the history scan still
    resolves to exactly that artifact's number the guard swaps in
    1.082 — x35's best committed number under the current plan
    (BENCH_r12). The pin retires itself with the artifact it
    corrects, same rule as the x2 baseline override."""
    import json
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    stale, artifact, pinned = bench.RECORD_OVERRIDES_SPEC["x35_lm_score"]
    assert (stale, artifact, pinned) == (0.887, "BENCH_r05.json", 1.662)
    # x2's twin pin corrects the same r01 cache-leak artifact as the
    # vs-baseline override; the comparable tightened 1.174 -> 1.004 at
    # the r17 close (in-suite min-of-5 on a throttled-stamped run — an
    # upper bound on the true floor, the a17 tightening precedent —
    # after the r17 Arrow-kernel digest-memo win).
    x2 = bench.RECORD_OVERRIDES_SPEC["x2_minhash_lsh"]
    assert x2 == (0.926, "BENCH_r01.json", 1.004)
    assert bench._record_floor(here, 0.1, "x2_minhash_lsh") == (
        0.926, "BENCH_r01.json")
    b2, s2 = bench._record_floor_comparable(here, 0.1, "x2_minhash_lsh")
    assert b2 == 1.004 and "BENCH_r01.json" in s2
    # the stale record is still what the artifact says AND the scan's min
    with open(os.path.join(here, artifact)) as fh:
        parsed = json.load(fh)["parsed"]
    sec = parsed.get("queries_ext") or parsed.get("queries")
    assert sec["x35_lm_score"] == stale
    assert bench._record_floor(here, 0.1, "x35_lm_score") == (stale, artifact)
    # ... so the comparable record is the pinned era-adjusted number
    best, src = bench._record_floor_comparable(here, 0.1, "x35_lm_score")
    assert best == pinned and artifact in src
    # every r15 era-shift pin resolves through the same path: the
    # committed scan still finds the stale record, the guard judges
    # against the investigation-day measurement (SCALE.md Round-15)
    for q in ("x29_fuzzy_match", "a27_sma_crossover", "x40_bm25",
              "a17_rolling_distinct", "x30_inverted_index_capped"):
        st, art, pin = bench.RECORD_OVERRIDES_SPEC[q]
        assert bench._record_floor(here, 0.1, q) == (st, art), q
        b, s = bench._record_floor_comparable(here, 0.1, q)
        assert b == pin and art in s, q
        assert pin > st, q  # era pins only ever RAISE the denominator
    # self-retirement: a scan resolving anywhere else bypasses the pin
    orig = bench._record_floor
    bench._record_floor = lambda h, sf, q: (1.0, "BENCH_r99.json")
    try:
        assert bench._record_floor_comparable(here, 0.1, "x35_lm_score") == (
            1.0, "BENCH_r99.json")
    finally:
        bench._record_floor = orig
    # queries without an override pass through untouched
    assert bench._record_floor_comparable(
        here, 0.1, "q1_pricing_summary") == bench._record_floor(
        here, 0.1, "q1_pricing_summary")


def test_calibration_floor_scan_and_throttle_threshold(tmp_path):
    """r14: loadavg measures queue, not budget — a quiet-gate-passing
    bench read 34% slower than an identical run 30 minutes earlier
    (host throttling under sustained load) and fired 12 spurious
    ~1.6x record flags. The detector: a fixed CPU-bound Spark job
    stamped per run, compared against the best committed stamp."""
    import json

    def art(name, sf, calib):
        (tmp_path / name).write_text(json.dumps({
            "parsed": {"sf": sf,
                       "load_context": {"spark_calib_sec": calib}}}))

    # no stamped artifacts -> no reference -> detection disabled
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {}
    art("BENCH_r14.json", 0.1, 0.41)
    art("BENCH_r15.json", 0.1, 0.36)
    art("BENCH_r16.json", 0.01, 0.10)   # other sf: excluded
    (tmp_path / "BENCH_r17.json").write_text(json.dumps({"parsed": None}))
    # cpu floor found; no other positions stamped in these artifacts
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.36}
    # every position resolves independently — start and end stamps
    # are NOT cross-comparable (end JVMs are warmer; see CALIB_KEYS)
    (tmp_path / "BENCH_r18.json").write_text(json.dumps({
        "parsed": {"sf": 0.1, "load_context": {
            "spark_calib_sec": 0.50, "spark_calib_shuffle_sec": 0.80,
            "spark_calib_end_sec": 0.20}}}))
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.36, "shuffle_sec": 0.80, "cpu_end_sec": 0.20}
    # the threshold arithmetic the marker uses
    assert 0.50 > bench.CALIB_THROTTLE_RATIO * 0.36   # throttled
    assert not 0.45 > bench.CALIB_THROTTLE_RATIO * 0.36  # inside band


def test_triage_probe_budget_spends_worst_first():
    """A degraded box can fire a dozen flags in one run; each floor
    probe is ~2.5 min of dedicated JVM. The budget caps the probes,
    worst flags (by now/base ratio) first; overflow keeps the hard
    flag with the named probe_budget_exceeded reason."""
    flags = {
        f"q{i}": {"base": 1.0, "now": 1.3 + i / 10.0} for i in range(4)
    }
    snapshot = {q: {"fp": "aaaa:a0", "stable": True} for q in flags}
    probed = []

    def probe(q):
        probed.append(q)
        return {"floor": 1.0, "times": [1.0]}

    triage, demote = bench._triage_flaps(
        flags, snapshot,
        live_fp=lambda q: {"fp": "aaaa:a0", "stable": True},
        floor_probe=probe,
        record_floor=lambda q: (1.0, "BENCH_r01.json"),
        max_probes=2,
    )
    # worst two ratios (q3: 1.6, q2: 1.5) got the probes...
    assert probed == ["q3", "q2"]
    assert triage["q3"]["verdict"] == "jit_band"
    assert triage["q2"]["verdict"] == "jit_band"
    # ...the rest keep hard flags with the named reason
    assert triage["q1"]["verdict"] == "probe_budget_exceeded"
    assert triage["q0"]["verdict"] == "probe_budget_exceeded"
    assert set(demote) == {"q2", "q3"}


def test_calib_floor_file_arms_detection_and_window_retires_stamps(
        tmp_path):
    """r15 (r14 verdict item 2): the ONLY stamped artifact (BENCH_r14)
    came back null-parsed, so throttle detection never armed. The
    floor now also lives in committed CALIB_FLOOR.json — independent
    of driver artifacts — and artifact stamps older than
    CALIB_RECENT_ROUNDS behind the newest stamped round auto-retire
    (r14 advice: an all-time minimum had no escape hatch)."""
    import json

    def art(name, sf, lc):
        (tmp_path / name).write_text(json.dumps(
            {"parsed": {"sf": sf, "load_context": lc}}))

    # floor file alone arms detection (no parseable artifact needed)
    (tmp_path / "CALIB_FLOOR.json").write_text(json.dumps(
        {"0.1": {"cpu_sec": 0.293, "shuffle_sec": 0.274}}))
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.293, "shuffle_sec": 0.274}
    # ...and the done-criterion arithmetic: a 1.4x reading trips it
    assert 1.4 * 0.293 > bench.CALIB_THROTTLE_RATIO * 0.293
    # each position keeps its own floor: an end stamp lowers ONLY the
    # end floor (start 0.29 vs end 0.197 on one healthy box is a 1.47x
    # warmth gap — cross-comparing would false-positive the detector)
    art("BENCH_r15.json", 0.1, {"spark_calib_sec": 0.40,
                                "spark_calib_end_sec": 0.25})
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.293, "shuffle_sec": 0.274, "cpu_end_sec": 0.25}
    # an anomalously fast ancient stamp retires once the newest
    # stamped round is more than CALIB_RECENT_ROUNDS past it
    art("BENCH_r02.json", 0.1, {"spark_calib_sec": 0.01})
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.293, "shuffle_sec": 0.274, "cpu_end_sec": 0.25}
    # a malformed floor file reads as absent, never crashes — the
    # artifact stamps (r15's start 0.40 / end 0.25; r02 retired by the
    # recent-round window) still arm detection
    (tmp_path / "CALIB_FLOOR.json").write_text("{not json")
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.40, "cpu_end_sec": 0.25}


def test_committed_calib_floor_file_matches_scanner_shape():
    """The repo's committed CALIB_FLOOR.json must actually arm the
    detector at the bench sf — shape drift here silently disarms
    throttle detection for every future round."""
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    floors, pinned = bench._calib_file_floor(here, 0.1)
    # all four positions seeded (r15 first-hour run), positive, and
    # the end floors are the warmer (lower) ones as measured
    for _, fkey in bench.CALIB_KEYS:
        assert isinstance(floors.get(fkey), (int, float)), fkey
        assert floors[fkey] > 0
    assert floors["cpu_end_sec"] < floors["cpu_sec"]
    assert not pinned  # the seed is a measurement, not a hand-raise


def test_calib_floor_file_pinned_overrides_and_malformed_never_crashes(
        tmp_path):
    """The hand-raise escape hatch must actually work: with
    "pinned": true the file's floors OVERRIDE artifact stamps (a
    permanently slower host can never out-wait fast-era stamps,
    because throttled runs are inert and the stamp window's newest
    round stops advancing), the auto-lowerer leaves the entry alone,
    and any hand-edit shape — prose instead of a dict, a list root —
    reads as absent rather than crashing the run."""
    import json

    # fast-era stamp on disk...
    (tmp_path / "BENCH_r15.json").write_text(json.dumps({
        "parsed": {"sf": 0.1,
                   "load_context": {"spark_calib_sec": 0.29}}}))
    # ...un-pinned file mins with it (old behavior preserved)
    (tmp_path / "CALIB_FLOOR.json").write_text(json.dumps(
        {"0.1": {"cpu_sec": 0.50}}))
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.29}
    # ...pinned file WINS on the positions it lists...
    (tmp_path / "CALIB_FLOOR.json").write_text(json.dumps(
        {"0.1": {"cpu_sec": 0.50, "pinned": True,
                 "note": "host slowed permanently after r15"}}))
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.50}
    # ...but positions the hand edit does NOT list still fall back to
    # the artifact stamps — a partial raise (or a typo'd key) must not
    # silently disarm detection elsewhere
    (tmp_path / "BENCH_r16.json").write_text(json.dumps({
        "parsed": {"sf": 0.1, "load_context": {
            "spark_calib_sec": 0.28, "spark_calib_shuffle_sec": 0.30}}}))
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
        "cpu_sec": 0.50, "shuffle_sec": 0.30}
    # ...and write-if-better refuses to un-raise it
    faster = {"load_context": {"spark_calib_sec": 0.30}}
    assert not bench._maybe_update_calib_floor(str(tmp_path), 0.1, faster)
    with open(tmp_path / "CALIB_FLOOR.json") as fh:
        assert json.load(fh)["0.1"]["cpu_sec"] == 0.50
    # malformed hand edits: never crash, read as absent
    for bad in ('{"0.1": "raised - see note"}', '["not", "a", "dict"]'):
        (tmp_path / "CALIB_FLOOR.json").write_text(bad)
        assert bench._calib_file_floor(str(tmp_path), 0.1) == ({}, False)
        assert bench._committed_calib_floor(str(tmp_path), 0.1) == {
            "cpu_sec": 0.28, "shuffle_sec": 0.30
        }  # the artifact stamps still arm detection
        assert bench._maybe_update_calib_floor(
            str(tmp_path), 0.1, faster)  # recovers by rewriting
        (tmp_path / "CALIB_FLOOR.json").unlink()


def test_dirty_runs_never_seed_calibration_floors(tmp_path):
    """host_throttled joins contaminated/drift in the write gate: a
    throttled run's inflated stamps must not become the FIRST floor
    for a position that is not armed yet (the 'inflated stamps cannot
    lower an armed floor' argument has no force where no floor
    exists)."""
    throttled = {"host_throttled": True,
                 "load_context": {"spark_calib_sec": 0.9,
                                  "spark_calib_end_sec": 0.8}}
    assert not bench._maybe_update_calib_floor(
        str(tmp_path), 0.1, throttled)
    import os

    assert not os.path.exists(tmp_path / "CALIB_FLOOR.json")


def test_maybe_update_calib_floor_write_if_better_only_when_clean(
        tmp_path):
    """Floor persistence: clean runs lower it, never raise it;
    contaminated/drifted runs don't touch it."""
    import json

    here = str(tmp_path)
    payload = {"load_context": {
        "spark_calib_sec": 0.35, "spark_calib_end_sec": 0.31,
        "spark_calib_shuffle_sec": 0.9,
        "spark_calib_shuffle_end_sec": 1.1}}
    assert bench._maybe_update_calib_floor(here, 0.1, payload)
    with open(tmp_path / "CALIB_FLOOR.json") as fh:
        rec = json.load(fh)["0.1"]
    # each position keeps its own floor — never cross-mixed
    assert rec["cpu_sec"] == 0.35 and rec["cpu_end_sec"] == 0.31
    assert rec["shuffle_sec"] == 0.9 and rec["shuffle_end_sec"] == 1.1
    # a slower clean run never raises the floor
    worse = {"load_context": {"spark_calib_sec": 0.5,
                              "spark_calib_shuffle_sec": 1.5}}
    assert not bench._maybe_update_calib_floor(here, 0.1, worse)
    # a faster-but-dirty run is ignored (its stamps are untrusted)
    dirty = {"load_contaminated": True,
             "load_context": {"spark_calib_sec": 0.1}}
    assert not bench._maybe_update_calib_floor(here, 0.1, dirty)
    with open(tmp_path / "CALIB_FLOOR.json") as fh:
        assert json.load(fh)["0.1"]["cpu_sec"] == 0.35
    # a better clean run lowers exactly the improved positions
    better = {"load_context": {"spark_calib_sec": 0.28,
                               "spark_calib_shuffle_sec": 1.2}}
    assert bench._maybe_update_calib_floor(here, 0.1, better)
    with open(tmp_path / "CALIB_FLOOR.json") as fh:
        rec = json.load(fh)["0.1"]
    assert rec["cpu_sec"] == 0.28 and rec["shuffle_sec"] == 0.9
    assert rec["cpu_end_sec"] == 0.31  # untouched position survives


def test_record_tables_skip_null_parsed_artifacts(tmp_path):
    """Synthetic null-parsed fixture (r14 what's-wrong #2/#3): every
    artifact scanner must treat {"parsed": null} as absent, never
    crash — the real BENCH_r14.json is exactly this shape."""
    import json

    (tmp_path / "BENCH_r01.json").write_text(json.dumps({"parsed": {
        "sf": 0.1, "queries": {"q": 1.0}, "queries_ext": {"e": 2.0}}}))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({"parsed": None}))
    (tmp_path / "BENCH_r03.json").write_text("{truncated tail not json")
    records, history = bench._record_tables(str(tmp_path), 0.1)
    assert records == {"q": (1.0, "BENCH_r01.json"),
                       "e": (2.0, "BENCH_r01.json")}
    assert history == {"q": [1.0], "e": [2.0]}
    assert bench._committed_calib_floor(str(tmp_path), 0.1) == {}


def test_triage_budget_counts_fingerprint_probes_too():
    """r14 advice: flags resolving to fingerprint_changed/uncomparable
    consumed no budget, so a run with many changed fingerprints could
    spawn one plan_fps subprocess per flag, unbounded. One budget unit
    now covers both legs of one flag — consumed before the
    fingerprint subprocess."""
    flags = {f"q{i}": {"base": 1.0, "now": 2.0 - i / 10.0}
             for i in range(4)}  # worst-first order: q0, q1, q2, q3
    snapshot = {q: {"fp": "aaaa:a0", "stable": True} for q in flags}
    fps_run = []

    def live(q):
        fps_run.append(q)
        return {"fp": "bbbb:a1", "stable": True}  # all changed

    triage, demote = bench._triage_flaps(
        flags, snapshot, live_fp=live,
        floor_probe=lambda q: (_ for _ in ()).throw(
            AssertionError("no floor probe expected")),
        record_floor=lambda q: (1.0, "BENCH_r01.json"),
        max_probes=2,
    )
    assert fps_run == ["q0", "q1"]  # budget bounds the fingerprint leg
    assert triage["q0"]["verdict"] == "fingerprint_changed"
    assert triage["q1"]["verdict"] == "fingerprint_changed"
    assert triage["q2"]["verdict"] == "probe_budget_exceeded"
    assert triage["q3"]["verdict"] == "probe_budget_exceeded"
    assert demote == []
    # a flag whose snapshot record is MISSING resolves for free —
    # no subprocess, no budget unit (the first cut spent both on a
    # verdict derivable from prev_rec alone)
    fps_run.clear()
    triage, _ = bench._triage_flaps(
        {"q_dark": {"base": 1.0, "now": 9.0},
         "q0": {"base": 1.0, "now": 2.0}},
        {"q0": {"fp": "aaaa:a0", "stable": True}},  # q_dark absent
        live_fp=live,
        floor_probe=lambda q: {"floor": 1.0, "times": [1.0]},
        record_floor=lambda q: (1.0, "BENCH_r01.json"),
        max_probes=1,
    )
    assert triage["q_dark"]["verdict"] == "uncomparable"
    assert fps_run == ["q0"]  # the budget went to the decidable flag


def _worst_case_payload():
    """A payload strictly fatter than any honest run: every suite row,
    full load context, max-size flag dicts and triage, plus errors."""
    qnames = list(bench.HEADLINE)
    enames = ["shared_pair_build", *bench.EXT_HEADLINE]
    flags = {q: {"record": 0.123, "record_source": "BENCH_r12.json",
                 "now": 9.876, "ratio": 80.293, "threshold": 0.3}
             for q in qnames + enames}
    triage = {q: {"flag": flags[q], "verdict": "probe_budget_exceeded"}
              for q in flags}
    return {
        "metric": "headline_suite_seconds",
        "value": -1.0,
        "unit": "sec",
        "queries": {q: 123.456 for q in qnames},
        "queries_ext": {q: 123.456 for q in enames},
        "sf": 0.1,
        "methodology": "x" * 400,
        "load_context": {
            "cpus": 32,
            "spark_calib_sec": 10.123, "spark_calib_shuffle_sec": 10.123,
            "spark_calib_end_sec": 10.123,
            "spark_calib_shuffle_end_sec": 10.123,
            "spark_calib_floors": {
                "cpu_sec": 10.123, "shuffle_sec": 10.123,
                "cpu_end_sec": 10.123, "shuffle_end_sec": 10.123},
            "loadavg_start": [10.12, 10.12, 10.12],
            "loadavg_end": [10.12, 10.12, 10.12],
            "quiet_gate": {"threshold": 2.0, "waited_sec": 600.0},
        },
        "load_contaminated": True,
        "host_throttled": True,
        "load_drift": True,
        "errors": {q: "SomeLongExceptionName: " + "y" * 400
                   for q in qnames},
        "errors_ext": {q: "SomeLongExceptionName: " + "y" * 400
                       for q in enames},
        "suite_incomplete": True,
        "baseline_round": "BENCH_r01.json",
        "baseline_overrides": {"x2_minhash_lsh": 1.5},
        "regressions": flags,
        "prev_round": "BENCH_r13.json",
        "regressions_vs_prev": flags,
        "regressions_vs_record": flags,
        "record_drift_ratio": 1.5,
        "flap_triage": {"plan_fps_snapshot": "PLAN_FPS_r14.json",
                        "floor_band": 1.15, "floor_reps": 10,
                        "demoted": list(flags), "queries": triage},
        "calib_floor_updated": False,
    }


def test_compact_stdout_line_fits_the_driver_capture_budget():
    """r14 what's-wrong #1: the round's graded headline was lost to a
    stdout line past the driver's 2,000-char tail capture. The compact
    payload is pinned under STDOUT_BUDGET for a worst-case run — every
    flag dict maxed out, every error slot filled."""
    import json

    compact = bench._compact_payload(_worst_case_payload())
    line = json.dumps(compact)
    assert len(line) <= bench.STDOUT_BUDGET, (
        f"{len(line)} chars > {bench.STDOUT_BUDGET}: the driver would "
        "truncate this line and the round would lose its headline")
    # and the budget itself stays under the driver's capture window
    assert bench.STDOUT_BUDGET <= 1900


def _honest_flagged_payload():
    """The r14-shaped HONEST run: full timings, a dozen record flags
    with triage, no errors — the exact payload class that blew the
    r14 capture."""
    payload = _worst_case_payload()
    for key in ("errors", "errors_ext", "suite_incomplete",
                "load_contaminated", "load_drift", "host_throttled"):
        payload.pop(key, None)
    payload["value"] = 6.248
    payload["queries"] = {q: 1.234 for q in payload["queries"]}
    payload["queries_ext"] = {q: 1.234 for q in payload["queries_ext"]}
    flags = dict(list(payload["regressions_vs_record"].items())[:12])
    payload["regressions_vs_record"] = flags
    payload["regressions_vs_prev"] = {}
    payload["regressions"] = {}
    payload["flap_triage"] = {
        "plan_fps_snapshot": "PLAN_FPS_r14.json",
        "floor_band": 1.15, "floor_reps": 10, "demoted": [],
        "queries": {q: {"flag": flags[q], "verdict": "floor_shift"}
                    for q in flags}}
    return payload


def test_compact_payload_shape_preserves_scanned_sections():
    """What later scanners read from committed artifacts must survive
    compaction verbatim on an honest run (the r14 flag-heavy shape):
    per-query timings (record table), load context (calibration
    floor). Flag dicts become count+top, triage becomes verdict
    counts, and the whole line fits the capture budget WITHOUT
    degrading past level 0."""
    import json

    payload = _honest_flagged_payload()
    compact = bench._compact_payload(payload)
    assert len(json.dumps(compact)) <= bench.STDOUT_BUDGET
    assert compact["queries"] == payload["queries"]
    assert compact["queries_ext"] == payload["queries_ext"]
    # the calibration-floor scan's keys survive verbatim; config
    # echoes (quiet_gate, refs) live only in the detail file
    lc = compact["load_context"]
    for key in ("spark_calib_sec", "spark_calib_shuffle_sec",
                "spark_calib_end_sec", "spark_calib_shuffle_end_sec",
                "loadavg_start", "loadavg_end", "cpus"):
        assert lc[key] == payload["load_context"][key]
    assert "quiet_gate" not in lc and "spark_calib_floors" not in lc
    assert "methodology" not in compact
    assert compact["detail"] == bench.BENCH_DETAIL_FILE
    # a smoke payload's compact line points readers at the SMOKE
    # detail file — the one the smoke run actually wrote (r15 advice)
    smoke_compact = bench._compact_payload(dict(payload, smoke_mode=True))
    assert smoke_compact["detail"] == bench.BENCH_DETAIL_SMOKE_FILE
    n_flags = len(payload["regressions_vs_record"])
    vs_rec = compact["regressions_vs_record"]
    assert vs_rec["count"] == n_flags
    assert len(vs_rec["top"]) == bench.COMPACT_TOP_FLAGS
    # worst offender first, [name, ratio] pairs
    assert vs_rec["top"][0][1] == round(9.876 / 0.123, 2)
    ft = compact["flap_triage"]
    assert ft["verdicts"] == {"floor_shift": n_flags}
    assert ft["demoted"] == 0
    assert ft["plan_fps_snapshot"] == "PLAN_FPS_r14.json"
    # the original payload object is untouched (it becomes the detail)
    assert "methodology" in payload and "queries" in payload["flap_triage"]


def test_compact_payload_disaster_run_degrades_but_stays_parseable():
    """On a run with many errors AND many flags the compactor strips
    progressively instead of blowing the budget; error names compact
    to count+first-3 and the markers always survive."""
    import json

    payload = _worst_case_payload()
    compact = bench._compact_payload(payload)
    assert len(json.dumps(compact)) <= bench.STDOUT_BUDGET
    assert compact["value"] == -1.0 and compact["sf"] == 0.1
    assert compact["host_throttled"] and compact["load_contaminated"]
    errs = compact["errors"]
    assert errs["count"] == len(payload["errors"])
    assert len(errs.get("names", [])) <= 3
    # level 3 (forced via a tiny budget): the minimal core keeps
    # load_context — the committed-artifact test requires
    # loadavg_start and the calibration stamp on every parseable
    # payload, so dropping them would misdiagnose a disaster run as
    # a missing-stamp violation — and EVERY inertness marker,
    # including smoke_mode (a level-3 smoke payload reading as clean
    # would let truncated timings and 1/100-size stamps into the
    # records and floors)
    smoke_disaster = dict(_worst_case_payload(), smoke_mode=True)
    level3 = bench._compact_payload(smoke_disaster, budget=1300)
    assert len(json.dumps(level3)) <= 1300
    assert "load_context" in level3
    assert level3["load_context"]["loadavg_start"]
    assert isinstance(level3["load_context"]["spark_calib_sec"],
                      (int, float))
    assert level3["host_throttled"]
    assert level3["smoke_mode"] is True
    assert bench._marked_dirty(level3)


def test_bench_main_end_to_end_smoke_prints_one_compact_line(tmp_path):
    """The r14 incident was a main()-level contract failure no unit
    test could see (the assembled stdout line outgrew the driver's
    capture). This drives the REAL bench.py in a subprocess — session,
    truncated suites, both calibrations, guards, compaction, detail
    write, the one stdout line — in smoke mode (~1 min): two queries
    per suite, 1/100-size calibration, and NO writes to the committed
    floor file (smoke payloads are inert by _marked_dirty)."""
    import json
    import os
    import subprocess
    import sys

    here = os.path.dirname(os.path.abspath(bench.__file__))
    floor_path = os.path.join(here, bench.CALIB_FLOOR_FILE)
    detail_path = os.path.join(here, bench.BENCH_DETAIL_FILE)
    smoke_detail_path = os.path.join(here, bench.BENCH_DETAIL_SMOKE_FILE)
    floor_before = open(floor_path).read() if os.path.exists(
        floor_path) else None
    # r15 advice: smoke runs must not touch the REAL detail file at
    # all — pin its bytes rather than backup/restore around the run.
    detail_before = open(detail_path).read() if os.path.exists(
        detail_path) else None
    from conftest import SF_SMALL

    env = dict(os.environ,
               SPARK_GRAFT_BENCH_SMOKE="1",
               SPARK_GRAFT_SF_DIR=SF_SMALL,
               SPARK_GRAFT_LOAD_WAIT="0")
    try:
        res = subprocess.run(
            [sys.executable, os.path.join(here, "bench.py")],
            env=env, capture_output=True, text=True, timeout=600)
        assert res.returncode == 0, res.stderr[-2000:]
        line = res.stdout.strip().splitlines()[-1]
        assert len(line) <= bench.STDOUT_BUDGET
        d = json.loads(line)
        # the driver-contract keys
        for key in ("metric", "value", "unit", "queries", "sf"):
            assert key in d, key
        assert d["smoke_mode"] is True
        # triage never fires from smoke (multi-minute subprocesses),
        # even though this test does NOT set SPARK_GRAFT_TRIAGE=0
        ft = d.get("flap_triage")
        assert ft is None or ft == {"skipped": "smoke_mode"}
        assert set(d["queries"]) == set(bench.HEADLINE[:2])
        lc = d["load_context"]
        assert isinstance(lc["spark_calib_sec"], (int, float))
        assert isinstance(lc["spark_calib_end_sec"], (int, float))
        # the detail payload landed at the SMOKE path (r15 advice:
        # smoke never overwrites the round's real full payload) and
        # the compact line points readers at that same file
        assert d["detail"] == bench.BENCH_DETAIL_SMOKE_FILE
        with open(smoke_detail_path) as fh:
            detail = json.load(fh)
        assert detail["smoke_mode"] is True
        assert detail["queries"] == d["queries"]
        # neither the committed floor file nor the real detail file
        # was touched
        floor_after = open(floor_path).read() if os.path.exists(
            floor_path) else None
        assert floor_after == floor_before
        detail_after = open(detail_path).read() if os.path.exists(
            detail_path) else None
        assert detail_after == detail_before
    finally:
        if os.path.exists(smoke_detail_path):
            os.unlink(smoke_detail_path)


def test_bench_canary_is_the_consumers_shared_build(spark, sf_small):
    """The canary spec lives ONCE in streaming_data_spark/bench_canary
    (r14: it was hand-copied across bench.py / floor_probe.py /
    plan_fps.py with nothing keeping them in lockstep). This pins the
    other half: the canary build creates the SAME pair view the
    shared-pair consumers reuse, so the bench line times the build
    the registry tier actually pays."""
    import __spark_entry__ as entry
    from conftest import pair_views
    from streaming_data_spark import bench_canary
    from streaming_data_spark.operators import dedup

    dedup.drop_pair_views(spark)
    bench_canary.build_memoized(spark, sf_small)
    views = pair_views(spark)
    assert len(views) == 1
    # a shared-pair consumer resolves to that view — same input file,
    # same params — not a second build
    entry.queries()["x70_kcore"](spark, sf_small)
    assert pair_views(spark) == views
