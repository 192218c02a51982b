"""Masked digests of driver queries' optimized plans, for plan-identity checks.

For each named query prints ``name sha1 len``: a sha1 over the string of
``queryExecution().optimizedPlan()``, with expression ids (``#12``,
``#12L``) and ``[plan_id=N]`` masked, and the length of that masked
string. Two trees build the same optimized plan for a query iff its
line matches. It is the plan-side twin of ``tools/job_digest.py``: a
refactor of an operator that should be plan-neutral is checked by
running this tool on both trees and diffing the output.

Building a plan runs no extraction, but a query may launch a small Spark
job while it is built (``recall_floors`` counts a table to size its
probe), so run it at a small sf.

Usage: python tools/plan_digest.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, ".")

_MASK = re.compile(r"#\d+L?|\[plan_id=\d+\]")


def masked_plan(df) -> str:
    return _MASK.sub("#", df._jdf.queryExecution().optimizedPlan().toString())


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        sys.exit(__doc__)

    import __spark_entry__ as entrymod
    from zerox_spark.session import get_spark

    spark = get_spark("local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for name in args:
        plan = masked_plan(queries[name](spark, sf_dir))
        print(name, hashlib.sha1(plan.encode()).hexdigest(), len(plan))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
