"""Dump `explain("formatted")` for every registered query to a
directory (default plans/r13/) as <name>_<suffix>.txt.

Usage: python tools/dump_plans.py [--suffix before|after]
       [--only name1,name2] [--out plans/r13]
       [env: SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1]

Plan capture only — nothing is executed, no data is read beyond
parquet footers during analysis.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    suffix = "before"
    out_dir = "plans/r13"
    only: set[str] = set()
    argv = sys.argv
    if "--suffix" in argv:
        suffix = argv[argv.index("--suffix") + 1]
    if "--out" in argv:
        out_dir = argv[argv.index("--out") + 1]
    if "--only" in argv:
        only = set(argv[argv.index("--only") + 1].split(","))

    from kafka_streams_reorder_timestamp_spark import plans
    from kafka_streams_reorder_timestamp_spark.operators import registry
    from kafka_streams_reorder_timestamp_spark.session import get_spark

    spark = get_spark(app_name="plandump")
    os.makedirs(out_dir, exist_ok=True)
    n_ok = 0
    n_failed = 0
    for name, builder in registry.all_queries().items():
        if only and name not in only:
            continue
        spark.catalog.clearCache()
        try:
            df = builder(spark, sf_dir)
            text = plans.physical_plan(df, "formatted")
            n_ok += 1
        except Exception as e:  # keep dumping the rest
            text = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
            print(f"dump_plans: {name} FAILED: {e}", file=sys.stderr)
            n_failed += 1
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
    print(
        f"dumped {n_ok} ok, {n_failed} failed to {out_dir} (suffix={suffix})"
    )
    return 0 if n_failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
