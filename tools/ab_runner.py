#!/usr/bin/env python
"""Time a handful of registered queries with bench.py's exact methodology
(one session, `.collect()` timed, release_persisted between queries) for an
isolated same-box A/B. Prints one JSON line: {name: [run1..runN], ...}.

Usage: python tools/ab_runner.py --sf-dir DIR --runs N name [name ...]
Run it from the tree under test (old worktree vs new tree, interleaved at
the process level so box drift contaminates both sides equally).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from impalatogo_spark.queries import all_queries
from impalatogo_spark.session import get_spark, release_persisted


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    registry = all_queries()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("ab-runner")
    # warm every named query once outside measurement (bench parity): a
    # query's first run pays its own one-off costs (schema inference,
    # codegen, python worker start-up), not only the first name's
    for n in args.names:
        registry[n].spark_fn(spark, args.sf_dir).collect()
        release_persisted()
    out: dict[str, list[float]] = {n: [] for n in args.names}
    for _ in range(args.runs):
        for n in args.names:
            t0 = time.perf_counter()
            registry[n].spark_fn(spark, args.sf_dir).collect()
            out[n].append(round(time.perf_counter() - t0, 4))
            release_persisted()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
