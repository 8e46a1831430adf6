#!/usr/bin/env python
"""Capture .explain('formatted') for headline queries into
<out_dir>/<query>_<tag>.txt.

Usage:  python scripts/capture_plans.py <out_dir> <tag> [name ...]
        (no names = every bench.HEADLINE query; SPARK_GRAFT_SF_DIR
        picks the data, default sf0.1)
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bigdataentrytask_spark.operators import (
    LAST_MATERIALIZED,
    REGISTRY,
    capture,
    load_all,
)
from bigdataentrytask_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir", help="directory the plan files go to")
    ap.add_argument("tag", help="file-name suffix, e.g. before / after")
    ap.add_argument("names", nargs="*", help="queries (default: headline)")
    return ap.parse_args(argv)


def main(argv: list[str]) -> None:
    args = parse_args(argv)
    load_all()
    import bench

    names = args.names or bench.HEADLINE
    spark = get_spark("plan-capture")
    os.makedirs(args.out_dir, exist_ok=True)
    for name in names:
        # Run under capture() so a materialize() stub (LocalRelation)
        # can be swapped for the real inner plan it evaluated.
        with capture():
            df = REGISTRY[name](spark, SF_DIR)
        for lazy, local in LAST_MATERIALIZED:
            if df is local:
                df = lazy
                break
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(args.out_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan.splitlines())} lines, {n_ex} Exchange")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
