#!/usr/bin/env python
"""Per-key optimization profiler (rounds 11-12).

For each named registry key: capture ``explain("formatted")`` to
``plans/r11/<key>_<tag>.txt`` and record an idle min-of-3 noop-sink
timing (guide §1.4) after a GC settle, labelled in the UI (§1.5).

Usage:
    python tools/profile_keys.py --tag before key1 key2 ...
    python tools/profile_keys.py --tag after --sf-dir /root/testdata/sf0.1 key1

Prints one JSON line {key: {"sec": min_of_3, "plan": path}}.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--round-dir", default="r12")
    args = ap.parse_args()

    from fitness_data_ingest_spark.registry import all_queries
    from fitness_data_ingest_spark.session import get_spark

    spark = get_spark(
        app_name="fdis-profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    registry = all_queries()
    plans_dir = os.path.join(HERE, "plans", args.round_dir)
    os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for key in args.keys:
        q = registry[key]
        # warmup at the smallest SF (codegen/JIT)
        try:
            q.spark(spark, "/root/testdata/sf0.001").write.mode(
                "overwrite"
            ).format("noop").save()
        except Exception:
            pass
        row: dict = {}
        if not args.no_plan:
            buf = io.StringIO()
            spark.catalog.clearCache()
            with contextlib.redirect_stdout(buf):
                q.spark(spark, args.sf_dir).explain("formatted")
            path = os.path.join(plans_dir, f"{key}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            row["plan"] = os.path.relpath(path, HERE)
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        best = float("inf")
        for _ in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"profile:{key}")
            t0 = time.perf_counter()
            q.spark(spark, args.sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            best = min(best, time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        row["sec"] = round(best, 3)
        out[key] = row
        print(f"[{key}] {row['sec']}s", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
