"""Round-13 optimization audit: time EVERY declared query (construction +
noop-sink execution) at a given SF, one cold lap then N warm laps, and print
the slowest ones. This is the whole-surface companion to
``perfbench/run.py --workload analytics_headline --trace 1``, which splits
only the headline queries into build and exec time: the bench times the
headline queries, but the optimization mandate is every operator path — this
sweep is how non-headline regressions/outliers get FOUND.

Usage: python tools/audit_queries.py [sf_dir] [--laps 2] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from snapshot_sender_spark.queries import all_queries  # noqa: E402
from snapshot_sender_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--laps", type=int, default=2)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="audit_queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    out: dict[str, dict] = {}
    for name in sorted(registry):
        qd = registry[name]
        spark.sparkContext.setJobDescription(f"audit:{name}")
        rec: dict = {"category": qd.category}
        try:
            t0 = time.perf_counter()
            qd.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            rec["cold"] = round(time.perf_counter() - t0, 3)
            warm = []
            for _ in range(args.laps):
                t0 = time.perf_counter()
                qd.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                warm.append(time.perf_counter() - t0)
            rec["warm"] = round(min(warm), 3)
        except Exception as exc:  # keep sweeping; the oracle gate owns correctness
            rec["error"] = f"{type(exc).__name__}: {exc}"[:200]
        out[name] = rec
    spark.sparkContext.setJobDescription(None)

    ok = {n: r for n, r in out.items() if "warm" in r}
    errs = {n: r for n, r in out.items() if "error" in r}
    print(f"\n=== {len(ok)} timed, {len(errs)} errored, "
          f"total warm {sum(r['warm'] for r in ok.values()):.1f}s ===")
    print(f"{'query':44s} {'category':18s} {'cold':>7s} {'warm':>7s}")
    for n, r in sorted(ok.items(), key=lambda kv: -kv[1]["warm"])[:40]:
        print(f"{n:44s} {r['category']:18s} {r['cold']:7.3f} {r['warm']:7.3f}")
    for n, r in errs.items():
        print(f"ERROR {n}: {r['error']}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
