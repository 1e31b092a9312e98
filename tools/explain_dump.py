"""Dump `.explain("formatted")` for named registry queries (r16
optimization round deliverable: plans/r16/<query>_{before,after}.txt).

  python tools/explain_dump.py --out plans/r16 --suffix before \
      [--sf-dir /root/testdata/sf0.1] [query ...]

With no query names, dumps every bench-timed row (HEADLINE +
EXT_HEADLINE + the shared_pair_build canary). ``shared_pair_build``
is dumped as the canary's unshared plan, ``bench_canary.build_lazy``
(the shared form returns a view over a checkpoint scan, which hides
the build plan this file exists to show). The session's shared pair views are dropped before
every build so each consumer pays its own build; note that the
shared-pair consumers (x41/x70/...) checkpoint the pair set during
construction, so their dumped plan starts at the checkpoint scan —
the build plan lives in shared_pair_build_{suffix}.txt.

A one-line summary per query (Exchange count, join nodes, Python
eval nodes) goes to stdout for the optimization log.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _summary(text: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", text))
    joins = sorted(set(re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b", text)))
    py = sorted(set(re.findall(
        r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|"
        r"FlatMapGroupsInPandas|MapInArrow)\b", text)))
    return (f"Exchange={n_ex} joins={','.join(joins) or '-'} "
            f"python={','.join(py) or '-'}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import bench as bench_mod
    import __spark_entry__ as entry_mod
    from streaming_data_spark import bench_canary
    from streaming_data_spark.operators import dedup as dedup_mod
    from streaming_data_spark.session import get_session

    names = args.queries or (
        list(bench_mod.HEADLINE) + [bench_mod.SHARED_PAIR_BUILD]
        + list(bench_mod.EXT_HEADLINE)
    )
    spark = get_session(app_name="explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_mod.queries()
    os.makedirs(args.out, exist_ok=True)
    for name in names:
        dedup_mod.drop_pair_views(spark)
        try:
            if name == bench_mod.SHARED_PAIR_BUILD:
                df = bench_canary.build_lazy(spark, args.sf_dir)
            else:
                df = registry[name](spark, args.sf_dir)
            text = _formatted(df)
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            continue
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"{name}: {_summary(text)}")
    spark.stop()


if __name__ == "__main__":
    main()
