"""Per-query plan fingerprints (r9 verdict item 2).

The driver-window rotation fronts queries whose PHYSICAL BEHAVIOUR
changed after their last driver row. Until r10 that judgment was made
by hand each round ("which operators did this round's commits touch,
and who consumes them?") — the one remaining human input to the
otherwise-generated rotation. This tool makes it mechanical:

  python tools/plan_fps.py --repo <code tree> --round N \
      --out PLAN_FPS_rNN.json

builds every registry query at sf0.001 and records, per query,

  - ``plan_sha``: sha256 of the ANALYZED logical plan string with
    expression ids normalized (``#123`` -> ``#``) — exprId allocation
    order is session-dependent, everything else in the analyzed plan
    is deterministic for this engine (all rand()/shuffle sites are
    seeded; the one uuid() helper is not used by any registry query);
  - ``actions``: the number of DRIVER-SIDE ACTIONS the query
    CONSTRUCTION runs (count/collect/take/localCheckpoint/... —
    counted by instrumenting the DataFrame action methods for the
    duration of the build). Most queries are fully lazy (0); the
    iterative/collect-driven ones (connected components, k-means
    centroids, hot-key detection, memoized pair builds) do driver-side
    work whose shape an analyzed-plan hash alone cannot see — r9's
    star-contraction count-carry changed ONLY this (one fewer count
    per CC round; the returned plan is identical), which is exactly
    the class of change that must still front a query.

    Why actions and not raw Spark jobs: r10 first shipped a
    job-group-counted metric and measured it flapping +-1 ACROSS
    sessions with identical code, data, and config (AQE materializes
    a variable number of stage-jobs per action — scheduler-dependent,
    confirmed by sectioned probes on the star-CC build after every
    take-scan had already been made deterministic). Actions are a
    property of the query code path alone, so they are reproducible
    by construction; a phantom AQE stage-job can never flip a
    fingerprint again, while every real behavioural change (an added
    catalog-cardinality count, a removed per-round convergence count)
    is still one full unit.

``fp = "<plan_sha[:16]>:a<actions>"``. Each query is built ``--reps``
times (default 3) in-session and the MAJORITY observation wins; no
majority -> ``stable: false`` and `freshness.py --front auto` excludes
the query from diffing (an unstable fingerprint can only produce false
fronts); all distinct observations are recorded under ``observed``.
The shared prefix-pair memo is cleared before every build so
``actions`` is order-independent (same reasoning as bench.py's
shared_pair_build line).

Historical backfill: the tool takes ``--repo`` so it can run against a
git worktree of a past round-close commit (the code state that round's
driver actually checked) — `PLAN_FPS_r04..r09.json` were produced that
way in r10. The session config is PINNED HERE, identical for every
round, so fingerprint diffs can only come from query code, never from
session.py drift between rounds.

PROTOCOL: run ONE instance at a time on a quiet box — not strictly
required since the actions metric (unlike the job-group count it
replaced) is load-immune, but it keeps wall time predictable and the
box honest for any bench run that follows.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
from collections import Counter

_EXPR_ID = re.compile(r"#\d+")
# Higher-order-function lambda variables carry a globally-incrementing
# allocation counter ("lambda x_12#L" one build, "lambda x_19#L" the
# next) — same session-dependence as exprIds, same normalization.
_LAMBDA_ID = re.compile(r"\blambda ([A-Za-z]+)_\d+#")
# The shared pair view's name digests its input files' lengths and
# modification times (operators/dedup.py), which differ between
# copies of the same testdata.
_PAIR_VIEW = re.compile(r"\bsds_pairs_[0-9a-f]+")


def normalize_plan(plan: str) -> str:
    """Strip session-dependent expression ids and pair-view digests
    from an analyzed-plan string. Everything else is deterministic for
    this repo's queries (seeded rand, fixed paths, seeded samples)."""
    plan = _PAIR_VIEW.sub("sds_pairs_#", plan)
    return _EXPR_ID.sub("#", _LAMBDA_ID.sub(r"lambda \1_#", plan))


def fingerprint(plan_sha: str, actions: int) -> str:
    return f"{plan_sha[:16]}:a{actions}"


def _pinned_session(cpus: int):
    """One fixed config for every fingerprint run, past or present —
    NOT the repo's get_session (session.py may drift between rounds;
    fingerprints must only see query-code changes)."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("plan-fps")
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "16g")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


# DataFrame methods that launch driver-side work during query
# CONSTRUCTION in this repo (collect-driven literals, eager
# checkpoints, convergence probes). Wrapped for counting while a
# build runs; head/first/isEmpty may delegate to take internally —
# the double-count is deterministic, which is all that matters.
_ACTION_METHODS = (
    "count", "collect", "take", "first", "head", "tail", "isEmpty",
    "toPandas", "localCheckpoint", "checkpoint", "foreach",
    "foreachPartition",
)


class _ActionCounter:
    """Counts DataFrame action-method invocations while installed.

    Patches the CONCRETE runtime class (``type(spark.range(1))`` —
    ``pyspark.sql.classic.dataframe.DataFrame`` in Spark 4), not the
    ``pyspark.sql.DataFrame`` facade: the classic subclass overrides
    every action method, so patching the base silently counts nothing.
    """

    def __init__(self, df_cls) -> None:
        self.n = 0
        self._cls = df_cls

    def install(self):
        originals = {}
        for name in _ACTION_METHODS:
            orig = getattr(self._cls, name)
            originals[name] = orig

            def _wrap(orig_fn):
                def wrapper(df_self, *a, **k):
                    self.n += 1
                    return orig_fn(df_self, *a, **k)
                return wrapper

            setattr(self._cls, name, _wrap(orig))
        return originals

    def restore(self, originals) -> None:
        for name, orig in originals.items():
            setattr(self._cls, name, orig)


def _shared_pair_build(spark, sf_dir):
    """The bench canary's pair-build plan (bench.py times exactly this
    spec as the ``shared_pair_build`` line — ONE definition in
    streaming_data_spark/bench_canary.py). Fingerprinted alongside the
    registry (r13 verdict item 5) so the one non-registry bench row is
    covered by the same plan-change record: the LAZY builder is hashed
    (the shared build returns a view over a checkpointed LogicalRDD,
    pinned by its own reuse tests), and any driver-side action the
    build runs shows up in the action count as usual."""
    from streaming_data_spark import bench_canary

    return bench_canary.build_lazy(spark, sf_dir)


def _clear_memos(spark) -> None:
    """Drop the shared pair views so every build pays its own jobs —
    order-independence, same as bench.py. ``--repo`` may point at a
    historical tree: one that still keeps the pairs in a module-level
    dict has it cleared, and pre-r8 code has neither."""
    mod = sys.modules.get("streaming_data_spark.operators.dedup")
    if hasattr(mod, "drop_pair_views"):
        mod.drop_pair_views(spark)
    cache = getattr(mod, "_PREFIX_PAIR_CACHE", None)
    if isinstance(cache, dict):
        cache.clear()


def compute(repo: str, sf_dir: str, reps: int, cpus: int,
            only: set[str] | None = None,
            dump_dir: str | None = None) -> tuple[dict, dict]:
    """Returns ``(per-query records, engine env)``. ``reps`` must be
    >= 2: majority-vote stability is vacuous at one observation (a
    single rep can never demonstrate reproducibility — r10 advice)."""
    if reps < 2:
        raise SystemExit(
            f"--reps must be >= 2 (got {reps}): stability is a "
            "majority over repeated observations; one observation "
            "marks everything 'stable' vacuously")
    sys.path.insert(0, repo)
    import pyspark
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    # getOrCreate REUSES a live session (e.g. the pytest fixture's);
    # stopping one we did not create would kill the caller's
    # SparkContext for the rest of its process (this truncated a full
    # r14 suite run to 179 cascade failures). Only stop what we made.
    # The reuse test must match getOrCreate's OWN test: it consults
    # the process-global default session, not the thread-local active
    # one (which can be unset on a different thread while the global
    # session is alive).
    reused = (
        SparkSession.getActiveSession() is not None
        or getattr(SparkSession, "_instantiatedSession", None) is not None
        or (SparkSession.getDefaultSession() is not None
            if hasattr(SparkSession, "getDefaultSession") else False)
    )
    spark = _pinned_session(cpus)
    env = {"pyspark": pyspark.__version__, "spark": spark.version}
    spark.sparkContext.setLogLevel("ERROR")
    df_cls = type(spark.range(1))  # the concrete classic DataFrame class
    registry = entry_mod.queries()
    targets = dict(registry)
    # The bench's non-registry timing site, fingerprinted with the
    # same protocol (r13 verdict item 5). setdefault: a future round
    # promoting it to a registry query must win.
    targets.setdefault("shared_pair_build", _shared_pair_build)

    out: dict[str, dict] = {}
    for name, fn in targets.items():
        if only is not None and name not in only:
            continue
        seen: list[tuple[str, int]] = []
        err = None
        # rep -1 is a discarded warm-up: kept so rep>=0 builds run
        # against warm file listings (actions are load- and
        # cache-immune, but the warm-up also primes lazy imports and
        # keeps per-query wall time comparable).
        for rep in range(-1, reps):
            _clear_memos(spark)
            counter = _ActionCounter(df_cls)
            originals = counter.install()
            try:
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().analyzed().toString()
                normalized = normalize_plan(plan)
                sha = hashlib.sha256(normalized.encode()).hexdigest()
                if rep >= 0:
                    seen.append((sha, counter.n))
                    if dump_dir and rep == 0:
                        os.makedirs(dump_dir, exist_ok=True)
                        with open(os.path.join(
                                dump_dir, f"{name}.plan.txt"), "w") as fh:
                            fh.write(normalized)
            except Exception as exc:  # noqa: BLE001 — record, continue
                err = f"{type(exc).__name__}: {exc}"[:300]
                break
            finally:
                counter.restore(originals)
        if err is not None:
            out[name] = {"err": err}
        else:
            counts = Counter(seen)
            (sha, actions), votes = counts.most_common(1)[0]
            rec = {
                "fp": fingerprint(sha, actions),
                "plan_sha": sha,
                "actions": actions,
                # majority-of-reps: one flaky rep can't veto
                # comparability, a genuine flip-flop still does.
                # votes >= 2 belt-and-braces (r10 advice): even if a
                # build error truncated `seen` to one rep, a single
                # observation is never evidence of stability.
                "stable": votes >= 2 and votes > len(seen) // 2,
            }
            if len(counts) > 1:
                rec["observed"] = sorted(
                    f"{s[:8]}:a{a}" for s, a in counts
                )
            out[name] = rec
    if not reused:
        spark.stop()
    return out, env


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))),
        help="code tree to import __spark_entry__ from (a git worktree "
             "of a round-close commit for historical backfill)")
    ap.add_argument("--round", type=int, required=True,
                    help="round number this code state closed")
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--only", default="",
                    help="comma-separated query names (debug)")
    ap.add_argument("--dump-plans", default="",
                    help="also write each query's NORMALIZED analyzed "
                         "plan text to this directory — diff two dumps "
                         "(e.g. from two worktrees) to root-cause a "
                         "fingerprint change instead of re-deriving it "
                         "from the sha alone")
    args = ap.parse_args()

    only = {q for q in args.only.split(",") if q} or None
    queries, env = compute(args.repo, args.sf_dir, args.reps, args.cpus,
                           only, dump_dir=args.dump_plans or None)
    payload = {
        "_meta": {
            "round": args.round,
            "repo": args.repo,
            "sf_dir": args.sf_dir,
            "reps": args.reps,
            "cpus": args.cpus,
            # Engine identity (r10 advice): an engine upgrade between
            # rounds changes analyzed-plan strings and internal action
            # delegation — a cross-version fingerprint diff would
            # front swaths of the registry with a misleading "query
            # code changed" attribution. freshness.py --front auto
            # warns when snapshots disagree here.
            "engine": env,
            "n_queries": len(queries),
            "n_unstable": sum(
                1 for v in queries.values() if v.get("stable") is False
            ),
            "n_err": sum(1 for v in queries.values() if "err" in v),
        },
        "queries": queries,
    }
    with open(args.out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload["_meta"]))


if __name__ == "__main__":
    main()
