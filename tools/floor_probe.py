"""Dedicated-session min-of-N floor probe (r12 verdict item 3).

The vs-prev bench guard flags any query >1.3x its previous-round
number, but a single-JVM local bench has a real JIT/GC band: the same
plan, same data, same config can swing ~±20% run-to-run INSIDE one
session (x30_capped r9, x35/x63 r12 — all pre-root-caused by hand with
exactly this probe). The discriminator that separated every one of
those flaps from x35's one real incident (r7, floor 0.887 -> 1.322)
is the FLOOR: min-of-N in a fresh, dedicated JVM. JIT noise inflates
individual reps but cannot move the floor; a genuine plan/shuffle
regression moves the floor itself.

bench.py shells out to this tool when a flagged query's plan
fingerprint is UNCHANGED vs the prior PLAN_FPS snapshot, and demotes
the flag to a `jit_band` note when the floor stays within
bench.FLAP_FLOOR_BAND of the best committed per-query record.

Runs in its own process on purpose: a dedicated JVM means the floor
is not contaminated by the bench session's accumulated JIT state,
block-manager cache, or GC pressure — the same one-process-per-probe
protocol the r12 x41 section probe hardened after same-session sweeps
produced impossible numbers.

Prints ONE JSON line: {"query": ..., "floor": ..., "times": [...]}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--query", required=True)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--reps", type=int, default=10)
    args = ap.parse_args()

    from streaming_data_spark.session import get_session

    import __spark_entry__ as entry_mod

    spark = get_session(app_name="floor-probe")
    spark.sparkContext.setLogLevel("ERROR")
    times: list[float] = []
    if args.query == "shared_pair_build":
        # The bench's one non-registry timing site (r13 verdict
        # item 5): replicate its canary protocol exactly — the ONE
        # shared spec (streaming_data_spark/bench_canary.py), pair
        # view dropped per rep, the timed unit being the shared build
        # call itself (it materializes eagerly; no sink needed).
        from streaming_data_spark import bench_canary
        from streaming_data_spark.operators import dedup

        for _ in range(3):  # warm: codegen/JIT (3 reps, same
            # rationale as the registry branch below)
            dedup.drop_pair_views(spark)
            bench_canary.build_memoized(spark, args.sf_dir)
        for _ in range(args.reps):
            # view dropped OUTSIDE the timed region — bench.py times
            # exactly the build call after its own pre-clear (r14
            # advice: the two 'identical protocol' sites had drifted
            # on their timed unit)
            dedup.drop_pair_views(spark)
            start = time.perf_counter()
            bench_canary.build_memoized(spark, args.sf_dir)
            times.append(round(time.perf_counter() - start, 3))
    else:
        fn = entry_mod.queries()[args.query]
        # THREE warm runs, not one: codegen-heavy rows (x29's
        # levenshtein) were still JIT-descending at rep 10 with a
        # single warm-up, over-reading the floor by ~2x (r14).
        for _ in range(3):
            fn(spark, args.sf_dir).write.format(
                "noop").mode("overwrite").save()
        for _ in range(args.reps):
            start = time.perf_counter()
            fn(spark, args.sf_dir).write.format(
                "noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - start, 3))
    print(json.dumps({
        "query": args.query,
        "floor": min(times),
        "times": times,
        "sf_dir": args.sf_dir,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
