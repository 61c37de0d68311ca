#!/usr/bin/env python
"""Write .explain('formatted') for queries to a directory.

Usage: python tools/capture_plans.py <outdir> [suffix] [query ...]
With no query names it writes every gate row; a name may also be a
non-gate row (``plans.rotated_queries()``), and an unknown name fails.
Used for before/after plan pairs and for load-independent plan audits
(Exchange counts, join strategies, PushedFilters, BatchEvalPython nodes).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    only = sys.argv[3:]

    import __spark_entry__ as entrymod
    from etl_instagram_spark.plans import rotated_queries
    from etl_instagram_spark.session import get_spark

    queries = dict(entrymod.queries())
    if only:
        queries.update((n, fn) for n, (fn, _) in rotated_queries().items())
        unknown = sorted(set(only) - set(queries))
        if unknown:
            raise SystemExit(f"no such query: {', '.join(unknown)}")
        queries = {name: queries[name] for name in only}
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plans")
    for name, fn in queries.items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {exc}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(name, "ok")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
