"""8x-duplication stress harness (reusable form of the round-2b/3
measurements recorded in SCALE.md).

Builds a corpus with 8 exact copies of every sf0.1 document/vector
under shifted ids — duplication-heavy in exactly the direction that
breaks pair enumeration (cluster sizes x8 => pair volume x64) — and
times named registry operators against it with a warm session.

Usage: python scripts/stress8x.py [op ...]   (default: a corpus set)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataentrytask_spark.operators import REGISTRY, load_all
from bigdataentrytask_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = "/tmp/stress8x_corpus"
COPIES = 8
ID_STRIDE = 10_000_000

DEFAULT_OPS = [
    "token_feature_hashing",
    "source_vocab_divergence",
    "weighted_sample_ares",
    "doc_fingerprint",
]

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def build(spark) -> None:
    os.makedirs(DST, exist_ok=True)
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        dst = os.path.join(DST, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(SRC, f"{t}.parquet"), dst)
    from pyspark.sql import functions as F

    for t, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        dst = os.path.join(DST, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        base = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        out = None
        for i in range(COPIES):
            c = base.withColumn(key, F.col(key) + F.lit(i * ID_STRIDE))
            out = c if out is None else out.unionByName(c)
        out.write.mode("overwrite").parquet(dst + "_dir")
        # single-file layout to match the fixture shape
        part = [
            f
            for f in os.listdir(dst + "_dir")
            if f.endswith(".parquet")
        ]
        if len(part) == 1:
            shutil.move(os.path.join(dst + "_dir", part[0]), dst)
            shutil.rmtree(dst + "_dir")
        else:
            spark.read.parquet(dst + "_dir").coalesce(1).write.mode(
                "overwrite"
            ).parquet(dst + "_one")
            part = [
                f
                for f in os.listdir(dst + "_one")
                if f.endswith(".parquet")
            ]
            shutil.move(os.path.join(dst + "_one", part[0]), dst)
            shutil.rmtree(dst + "_dir")
            shutil.rmtree(dst + "_one")


def main(argv: list[str]) -> None:
    load_all()
    names = argv or DEFAULT_OPS
    spark = get_spark("stress8x")
    build(spark)
    # warmup
    REGISTRY["doc_fingerprint"](spark, DST).count()
    for name in names:
        t0 = time.time()
        n = REGISTRY[name](spark, DST).count()
        print(f"STRESS8X {name}: {n} rows in {time.time() - t0:.2f}s")


if __name__ == "__main__":
    main(sys.argv[1:])
