"""Rank declared queries by py4j round trips spent in CONSTRUCTION (r14,
VERDICT item 6): each py4j command is a synchronous socket round trip
(~0.1-0.2 ms each on this box), and r13 found 827 of them inside one
q1 build. The count is the benchmark's own (``perfbench.spans.Tracer``:
``install([])``, then the ``py4j_calls`` each ``operation`` yields) taken
during ``fn(spark, sf_dir)`` (construction only — no action is run
afterwards; note some lifecycle queries execute jobs *inside* their builder,
those trips are intrinsically part of construction). Like perfbench's
counts, it leaves out the object-release commands py4j sends from a
background thread at times that vary run to run. Counting is
load-insensitive: valid even on a noisy box.

Usage: python tools/count_py4j.py [sf_dir] [--queries a,b] [--top 40] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spans import Tracer  # noqa: E402
from snapshot_sender_spark.queries import all_queries  # noqa: E402
from snapshot_sender_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--top", type=int, default=40)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="count_py4j")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = args.queries.split(",") if args.queries else sorted(registry)

    tracer = Tracer(spark)
    tracer.install([])
    out: dict[str, dict] = {}
    try:
        for name in names:
            qd = registry[name]
            # warm lap only: the first build pays one-time imports/registrations
            try:
                qd.fn(spark, args.sf_dir)
            except Exception as exc:
                out[name] = {"error": f"{type(exc).__name__}: {exc}"[:160]}
                continue
            with tracer.operation(name, name) as counts:
                t0 = time.perf_counter()
                qd.fn(spark, args.sf_dir)
                dt = time.perf_counter() - t0
            out[name] = {"trips": counts["py4j_calls"], "build_s": round(dt, 4),
                         "category": qd.category}
    finally:
        tracer.uninstall()

    ranked = sorted(
        ((n, r) for n, r in out.items() if "trips" in r),
        key=lambda kv: -kv[1]["trips"],
    )
    print(f"{'query':44s} {'category':18s} {'trips':>7s} {'build_s':>8s}")
    for n, r in ranked[: args.top]:
        print(f"{n:44s} {r['category']:18s} {r['trips']:7d} {r['build_s']:8.3f}")
    total = sum(r["trips"] for _, r in ranked)
    print(f"TOTAL trips across {len(ranked)} builders: {total}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
