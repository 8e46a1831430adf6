"""Warehouse package, segment 3 of 4 (former warehouse.py lines
3788-5078, split mechanically at section boundaries — zero behavior
change): the physical-layout advisor surface (dictionary/RLE
encoding advisors, ranged sort advisor, bucketed join planning,
partition-size advisor, compaction planner, bucket-sort joint
advisor, compacted zone pruning, sort-key benefit ranking,
compaction floor sweep)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.operators import local_frame, operator
from bigdataentrytask_spark.session import ensure_session_confs

from bigdataentrytask_spark.operators.warehouse.core import (  # noqa: E402
    _t,
)


# --------------------------------------------------------------------------
# Dictionary-encoding advisor — the storage-layout planning table
# complementing sort_order_advisor (ordering) and zone_map_skipping
# (pruning). For each candidate VARCHAR column it compares the
# plain-encoding byte cost (sum of value lengths) against the dictionary
# cost (sum of DISTINCT value lengths + n indexes of ceil(log2(ndv)) bits)
# and recommends. This is the decision parquet/ORC writers make per row
# group; surfacing it corpus-wide tells a 100 TB deployment which columns
# pay for dictionary pages before any rewrite happens.
#
# Determinism: pure integer arithmetic end-to-end. ceil(log2(ndv)) is
# a generated CASE chain over power-of-two literals interpolated into
# BOTH engines (CONTRIBUTING.md §5 generated-expression parity — no
# cross-engine log() call). Scale: one (col, value) agg per column —
# map-side partial, output bounded by the column list; high-NDV
# columns (c_name, text, props) are exactly the interesting negative
# recommendations.
# --------------------------------------------------------------------------
_DICT_COLS = [
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_name"),
    ("customer", "c_mktsegment"),
    ("events", "event_type"),
    ("documents", "lang"),
    ("documents", "source"),
    ("documents", "text"),
]


def _ceil_log2_case(var: str) -> str:
    """ceil(log2(v)) for 1 <= v < 2^40 as a CASE chain — identical
    parse tree in DuckDB and Spark SQL (no engine log())."""
    clauses = "\n".join(
        f"WHEN {var} <= {1 << k} THEN {k}" for k in range(1, 41)
    )
    return f"(CASE WHEN {var} <= 1 THEN 1 {clauses} END)"


def _dict_advisor_oracle() -> str:
    branches = "\n      UNION ALL\n".join(
        f"SELECT '{t}.{c}' AS col_name, CAST({c} AS VARCHAR) AS v FROM {t}"
        for t, c in _DICT_COLS
    )
    k = _ceil_log2_case("ndv")
    return f"""
    WITH src AS (
      {branches}
    ),
    per_val AS (
      SELECT col_name, v, COUNT(*) AS c FROM src GROUP BY 1, 2
    ),
    agg AS (
      SELECT col_name,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS ndv,
             CAST(SUM(length(v) * c) AS BIGINT) AS plain_bytes,
             CAST(SUM(length(v)) AS BIGINT) AS dict_page_bytes
      FROM per_val GROUP BY 1
    )
    SELECT col_name, n_rows, ndv, plain_bytes,
           CAST(dict_page_bytes
                + CAST(CEIL(n_rows * {k} / 8.0) AS BIGINT) AS BIGINT)
             AS dict_bytes,
           (dict_page_bytes
            + CAST(CEIL(n_rows * {k} / 8.0) AS BIGINT)) < plain_bytes
             AS recommend_dict
    FROM agg
    ORDER BY col_name
    """


@operator("dict_encoding_advisor", oracle=_dict_advisor_oracle())
def dict_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-vs-dictionary byte costs per candidate column (see
    block comment). The Spark side evaluates the SAME generated
    ceil-log2 CASE chain via selectExpr."""
    frames = []
    for t, c in _DICT_COLS:
        frames.append(
            _t(spark, sf_dir, t).select(
                F.lit(f"{t}.{c}").alias("col_name"),
                F.col(c).cast("string").alias("v"),
            )
        )
    src = frames[0]
    for fdf in frames[1:]:
        src = src.unionByName(fdf)
    per_val = src.groupBy("col_name", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = per_val.groupBy("col_name").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
        F.sum(F.length("v") * F.col("c")).cast("bigint").alias("plain_bytes"),
        F.sum(F.length("v")).cast("bigint").alias("dict_page_bytes"),
    )
    k = _ceil_log2_case("ndv")
    return (
        agg.selectExpr(
            "col_name",
            "n_rows",
            "ndv",
            "plain_bytes",
            f"CAST(dict_page_bytes + CAST(CEIL(n_rows * {k} / 8.0) AS BIGINT)"
            " AS BIGINT) AS dict_bytes",
            f"(dict_page_bytes + CAST(CEIL(n_rows * {k} / 8.0) AS BIGINT))"
            " < plain_bytes AS recommend_dict",
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# RLE vs bit-packing advisor — composes sort_order_advisor's run counts
# with dict_encoding_advisor's generated ceil-log2 index width. Under the
# CANDIDATE sort (shipdate-first total order, where runs are longest) each
# column's dictionary indexes can be stored run-length encoded
# (run value + 16-bit run length per run) or flat bit-packed; this is
# the per-column encoding pick a columnar writer makes AFTER the sort
# order is chosen. Pure integer arithmetic; the log2 CASE chain is
# interpolated into both engines (CONTRIBUTING §5).
# --------------------------------------------------------------------------
def _rle_advisor_oracle() -> str:
    k = _ceil_log2_case("ndv")
    return f"""
    WITH s AS (
      SELECT l_orderkey, l_linenumber, l_shipdate, l_suppkey,
             l_returnflag, 'l_shipdate' AS col_name,
             CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS val
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, l_shipdate, l_suppkey,
             l_returnflag, 'l_suppkey', CAST(l_suppkey AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, l_shipdate, l_suppkey,
             l_returnflag, 'l_returnflag', l_returnflag FROM lineitem
    ),
    runs AS (
      SELECT col_name,
             CASE WHEN LAG(val) OVER w IS NULL
                       OR val <> LAG(val) OVER w THEN 1 ELSE 0 END AS chg,
             val
      FROM s
      WINDOW w AS (PARTITION BY col_name
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_suppkey, l_returnflag)
    ),
    agg AS (
      SELECT col_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(chg) AS BIGINT) AS n_runs,
             CAST(COUNT(DISTINCT val) AS BIGINT) AS ndv
      FROM runs GROUP BY 1
    )
    SELECT col_name, n_rows, n_runs, ndv,
           CAST(CEIL(n_rows * {k} / 8.0) AS BIGINT) AS packed_bytes,
           CAST(CEIL(n_runs * ({k} + 16) / 8.0) AS BIGINT) AS rle_bytes,
           CEIL(n_runs * ({k} + 16) / 8.0)
             < CEIL(n_rows * {k} / 8.0) AS recommend_rle
    FROM agg
    ORDER BY col_name
    """


@operator("rle_bitpack_advisor", oracle=_rle_advisor_oracle())
def rle_bitpack_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLE vs flat bit-packing byte costs per column under the
    shipdate sort (see block comment)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate",
        "l_suppkey", "l_returnflag",
    )
    stacked = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "l_suppkey",
        "l_returnflag",
        F.expr(
            "stack(3, "
            "'l_shipdate', CAST(CAST(l_shipdate AS DATE) AS STRING), "
            "'l_suppkey', CAST(l_suppkey AS STRING), "
            "'l_returnflag', l_returnflag) AS (col_name, val)"
        ),
    )
    w = Window.partitionBy("col_name").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber",
        "l_suppkey", "l_returnflag",
    )
    chg = F.when(
        F.lag("val").over(w).isNull()
        | (F.col("val") != F.lag("val").over(w)),
        1,
    ).otherwise(0)
    agg = (
        stacked.withColumn("chg", chg)
        .groupBy("col_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("chg").cast("bigint").alias("n_runs"),
            F.countDistinct("val").cast("bigint").alias("ndv"),
        )
    )
    k = _ceil_log2_case("ndv")
    return agg.selectExpr(
        "col_name",
        "n_rows",
        "n_runs",
        "ndv",
        f"CAST(CEIL(n_rows * {k} / 8.0) AS BIGINT) AS packed_bytes",
        f"CAST(CEIL(n_runs * ({k} + 16) / 8.0) AS BIGINT) AS rle_bytes",
        f"CEIL(n_runs * ({k} + 16) / 8.0)"
        f" < CEIL(n_rows * {k} / 8.0) AS recommend_rle",
    ).orderBy("col_name")


# --------------------------------------------------------------------------
# Sort-order advisor — RANGED production variant (VERDICT r9 item 6;
# the variant sort_order_advisor's scale contract names): run stats
# computed per RANGE PARTITION of the candidate sort prefix instead of
# under one global window. Semantics: partition lineitem by
# month(l_shipdate) (a DEFINED range function — Spark's sampled
# repartitionByRange boundaries are nondeterministic and thus not
# oracle-able), order within each range by the full candidate key, and
# count runs per (col_name, range). Runs only break at range
# boundaries, so sum-over-ranges <= exact-global + n_ranges - 1 — the
# documented error bound — while the window state per task is bounded
# by one month of one column: THE 100 TB plan (shuffle on
# (col_name, month), local sort, no global sort anywhere).
# --------------------------------------------------------------------------
_SORT_ADVISOR_RANGED_ORACLE = """
    WITH s AS (
      SELECT date_trunc('month', l_shipdate) AS rng,
             l_orderkey, l_linenumber, l_shipdate,
             l_suppkey, l_returnflag, 'l_shipdate' AS col_name,
             CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS val
      FROM lineitem
      UNION ALL
      SELECT date_trunc('month', l_shipdate), l_orderkey, l_linenumber,
             l_shipdate, l_suppkey, l_returnflag, 'l_suppkey',
             CAST(l_suppkey AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT date_trunc('month', l_shipdate), l_orderkey, l_linenumber,
             l_shipdate, l_suppkey, l_returnflag, 'l_returnflag',
             l_returnflag
      FROM lineitem
    ),
    chg AS (
      SELECT col_name, rng,
             CASE WHEN LAG(val) OVER w IS NULL
                       OR val <> LAG(val) OVER w THEN 1 ELSE 0 END AS c
      FROM s
      WINDOW w AS (PARTITION BY col_name, rng
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_suppkey, l_returnflag)
    )
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT rng) AS BIGINT) AS n_ranges,
           CAST(SUM(c) AS BIGINT) AS n_runs_ranged,
           CAST(ROUND(COUNT(*) * 1000000.0 / SUM(c)) AS BIGINT)
             AS avg_run_len_ppm
    FROM chg GROUP BY col_name
    ORDER BY col_name
    """


@operator("sort_order_advisor_ranged", oracle=_SORT_ADVISOR_RANGED_ORACLE)
def sort_order_advisor_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-range-partition run statistics under the shipdate candidate
    sort (see block comment: the production variant of
    sort_order_advisor — bounded window state, no global sort)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate",
        "l_suppkey", "l_returnflag",
    )
    stacked = li.select(
        F.date_trunc("month", "l_shipdate").alias("rng"),
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "l_suppkey",
        "l_returnflag",
        F.expr(
            "stack(3, "
            "'l_shipdate', CAST(CAST(l_shipdate AS DATE) AS STRING), "
            "'l_suppkey', CAST(l_suppkey AS STRING), "
            "'l_returnflag', l_returnflag) AS (col_name, val)"
        ),
    )
    w = Window.partitionBy("col_name", "rng").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber",
        "l_suppkey", "l_returnflag",
    )
    chg = F.when(
        F.lag("val").over(w).isNull()
        | (F.col("val") != F.lag("val").over(w)),
        1,
    ).otherwise(0)
    return (
        stacked.withColumn("c", chg)
        .groupBy("col_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("rng").cast("bigint").alias("n_ranges"),
            F.sum("c").cast("bigint").alias("n_runs_ranged"),
        )
        .select(
            "col_name",
            "n_rows",
            "n_ranges",
            "n_runs_ranged",
            F.round(F.col("n_rows") * 1000000.0 / F.col("n_runs_ranged"))
            .cast("bigint")
            .alias("avg_run_len_ppm"),
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# Bucketed-join planning table (ROADMAP round-11 "Warehouse"): for the
# lineitem JOIN orders equi-join on orderkey, per candidate bucket
# count B — manifest arithmetic from per-bucket row stats, no join
# execution. Bucket function is DEFINED as orderkey % B (Spark's
# Murmur3 bucket hash has no DuckDB twin; modulo over a synthetic
# monotonically-assigned key gives the same planning signal). Per B:
# rows on each side, the largest single bucket on each side (the
# slowest co-located join task), and skew ppm (max/avg). Reading:
# pre-bucketing both tables at B removes BOTH per-join shuffles
# (n_lineitem + n_orders rows every join); a too-small B gives fat
# tasks (max_*_bucket), a too-large B gives small files — the sweep
# shows the trade in one table.
# Scale: two fact-scale aggregations per candidate (groupBy bucket),
# done in ONE pass via a stacked candidate column; outputs are
# domain-sized (|candidates| rows).
# --------------------------------------------------------------------------
_BUCKET_CANDIDATES = [8, 32, 128]

_BUCKET_PLANNING_ORACLE = f"""
    WITH cands AS (SELECT UNNEST([{", ".join(map(str, _BUCKET_CANDIDATES))}]) AS b),
    lb AS (
      SELECT c.b, l.l_orderkey % c.b AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem l CROSS JOIN cands c GROUP BY 1, 2
    ),
    ob AS (
      SELECT c.b, o.o_orderkey % c.b AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders o CROSS JOIN cands c GROUP BY 1, 2
    ),
    ls AS (
      SELECT b, CAST(SUM(n) AS BIGINT) AS li_rows,
             CAST(MAX(n) AS BIGINT) AS max_li_bucket,
             CAST(COUNT(*) AS BIGINT) AS li_buckets_used
      FROM lb GROUP BY b
    ),
    os AS (
      SELECT b, CAST(SUM(n) AS BIGINT) AS ord_rows,
             CAST(MAX(n) AS BIGINT) AS max_ord_bucket
      FROM ob GROUP BY b
    )
    SELECT CAST(ls.b AS BIGINT) AS bucket_count,
           ls.li_rows, os.ord_rows,
           ls.li_buckets_used,
           ls.max_li_bucket, os.max_ord_bucket,
           CAST(ROUND(ls.max_li_bucket * 1000000.0
                      / (ls.li_rows / CAST(ls.b AS DOUBLE))) AS BIGINT)
             AS li_skew_ppm,
           ls.li_rows + os.ord_rows AS shuffle_rows_avoided
    FROM ls JOIN os ON os.b = ls.b
    ORDER BY bucket_count
    """


@operator("bucketed_join_planning", oracle=_BUCKET_PLANNING_ORACLE)
def bucketed_join_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-bucket-count stats for the lineitem JOIN orders
    key (see block comment). One pass per side: the candidate list is
    exploded against each fact row, then a single groupBy computes
    every candidate's bucket histogram."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    od = _t(spark, sf_dir, "orders").select("o_orderkey")
    cand = F.array(*[F.lit(b) for b in _BUCKET_CANDIDATES])

    def bucket_stats(df: DataFrame, key: str, prefix: str) -> DataFrame:
        exploded = df.select(
            F.col(key), F.explode(cand).alias("b")
        ).select("b", (F.col(key) % F.col("b")).alias("bucket"))
        per_bucket = exploded.groupBy("b", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        return per_bucket.groupBy("b").agg(
            F.sum("n").cast("bigint").alias(f"{prefix}_rows"),
            F.max("n").cast("bigint").alias(f"max_{prefix}_bucket"),
            F.count(F.lit(1)).cast("bigint").alias(f"{prefix}_buckets_used"),
        )

    ls = bucket_stats(li, "l_orderkey", "li")
    os_ = bucket_stats(od, "o_orderkey", "ord").drop("ord_buckets_used")
    return (
        ls.join(os_, "b")
        .select(
            F.col("b").cast("bigint").alias("bucket_count"),
            "li_rows",
            "ord_rows",
            "li_buckets_used",
            "max_li_bucket",
            "max_ord_bucket",
            F.round(
                F.col("max_li_bucket")
                * 1000000.0
                / (F.col("li_rows") / F.col("b").cast("double"))
            )
            .cast("bigint")
            .alias("li_skew_ppm"),
            (F.col("li_rows") + F.col("ord_rows"))
            .cast("bigint")
            .alias("shuffle_rows_avoided"),
        )
        .orderBy("bucket_count")
    )


# --------------------------------------------------------------------------
# Partition-size advisor (ROADMAP round-11 "Warehouse"): the
# write-side sibling of sort_order_advisor — for each candidate
# partition column of orders (month(o_orderdate), o_orderpriority,
# o_orderstatus), the partition-count / size-distribution / skew table
# that decides a partitionBy choice. small-partition flag = any
# partition under _PART_MIN_ROWS (the small-file problem: at 100 TB a
# partition under ~1 GB wastes open/seek overhead and metadata);
# skew = max/avg ppm (a partition 10x the mean is the straggler task
# and the compaction hotspot).
# Scale: one stacked pass over orders -> (candidate, value) counts —
# a single fact-scale shuffle on a domain-bounded key.
# --------------------------------------------------------------------------
_PART_MIN_ROWS = 200  # sf-fixture stand-in for the ~1 GB floor

_PART_ADVISOR_ORACLE = f"""
    WITH s AS (
      SELECT 'month(o_orderdate)' AS candidate,
             CAST(date_trunc('month', o_orderdate) AS VARCHAR) AS val
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
    ),
    per AS (
      SELECT candidate, val, CAST(COUNT(*) AS BIGINT) AS n
      FROM s GROUP BY 1, 2
    )
    SELECT candidate,
           CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(MIN(n) AS BIGINT) AS min_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(count_if(n < {_PART_MIN_ROWS}) AS BIGINT)
             AS n_small_partitions,
           CAST(ROUND(MAX(n) * 1000000.0 / (SUM(n) / COUNT(*))) AS BIGINT)
             AS skew_ppm,
           count_if(n < {_PART_MIN_ROWS}) = 0
             AND MAX(n) * 1.0 / (SUM(n) / COUNT(*)) < 3.0 AS recommend
    FROM per GROUP BY candidate
    ORDER BY candidate
    """


@operator("partition_size_advisor", oracle=_PART_ADVISOR_ORACLE)
def partition_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-count / size / skew table per candidate partition
    column of orders (see block comment)."""
    od = _t(spark, sf_dir, "orders").select(
        "o_orderdate", "o_orderpriority", "o_orderstatus"
    )
    stacked = od.select(
        F.expr(
            "stack(3, "
            "'month(o_orderdate)', "
            "CAST(date_trunc('month', o_orderdate) AS STRING), "
            "'o_orderpriority', o_orderpriority, "
            "'o_orderstatus', o_orderstatus) AS (candidate, val)"
        )
    )
    per = stacked.groupBy("candidate", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    avg_rows = F.col("total_rows") / F.col("n_partitions")
    return (
        per.groupBy("candidate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
            F.min("n").cast("bigint").alias("min_rows"),
            F.max("n").cast("bigint").alias("max_rows"),
            F.sum("n").cast("bigint").alias("total_rows"),
            F.sum((F.col("n") < _PART_MIN_ROWS).cast("long"))
            .cast("bigint")
            .alias("n_small_partitions"),
        )
        .select(
            "candidate",
            "n_partitions",
            "min_rows",
            "max_rows",
            "total_rows",
            "n_small_partitions",
            F.round(F.col("max_rows") * 1000000.0 / avg_rows)
            .cast("bigint")
            .alias("skew_ppm"),
            (
                (F.col("n_small_partitions") == 0)
                & (F.col("max_rows") / avg_rows < 3.0)
            ).alias("recommend"),
        )
        .orderBy("candidate")
    )


# --------------------------------------------------------------------------
# Compaction planner (ROADMAP round-12, pulled forward):
# partition_size_advisor says WHICH partitioning has a small-file
# problem; this emits the actual merge schedule for the
# month(o_orderdate) layout — which adjacent months coalesce into
# which output file so every file meets the size floor. The
# assignment rule is DEFINED (not a heuristic solver): walk months in
# calendar order and assign each to group FLOOR(rows_before / TARGET)
# — the prefix-sum bin-packing every compaction job can reproduce
# deterministically and incrementally (a new month only ever appends
# to the last group). Adjacency preserved -> month-range pruning
# still works on the compacted files.
# Scale: one month-domain aggregation + one window over ~|months|
# rows. TARGET is the fixture stand-in for the ~1 GB file target.
# --------------------------------------------------------------------------
_COMPACT_TARGET_ROWS = 400

_COMPACTION_ORACLE = f"""
    WITH per AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT m, n,
             COALESCE(SUM(n) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM per
    ),
    grouped AS (
      SELECT CAST(FLOOR(before / {_COMPACT_TARGET_ROWS}) AS BIGINT)
               AS group_id,
             m, n, before
      FROM cum
    )
    SELECT group_id,
           CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(strftime(MIN(m), '%Y-%m') AS VARCHAR) AS first_month,
           CAST(strftime(MAX(m), '%Y-%m') AS VARCHAR) AS last_month,
           SUM(n) < {_COMPACT_TARGET_ROWS} AS under_target,
           MIN(before) > group_id * {_COMPACT_TARGET_ROWS}
             AS spans_from_prev
    FROM grouped
    GROUP BY group_id
    ORDER BY group_id
    """


@operator("compaction_planner", oracle=_COMPACTION_ORACLE)
def compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge schedule for the month(o_orderdate) partitioning (see
    block comment: deterministic prefix-sum bin-packing)."""
    od = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("m")
    )
    per = od.groupBy("m").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = (
        Window.orderBy("m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per.select(
        "m", "n", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("before")
    )
    grouped = cum.select(
        F.floor(F.col("before") / _COMPACT_TARGET_ROWS)
        .cast("bigint")
        .alias("group_id"),
        "m",
        "n",
        "before",
    )
    # under_target marks groups below the file floor; spans_from_prev
    # explains WHY (an oversized month overshot this bucket's range —
    # the floor rule's only under-fill mode, pinned by test): the
    # compaction job merges those two flags' groups with a neighbor.
    return (
        grouped.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.date_format(F.min("m"), "yyyy-MM").alias("first_month"),
            F.date_format(F.max("m"), "yyyy-MM").alias("last_month"),
            F.min("before").alias("start_before"),
        )
        .select(
            "group_id",
            "n_partitions",
            "n_rows",
            "first_month",
            "last_month",
            (F.col("n_rows") < _COMPACT_TARGET_ROWS).alias("under_target"),
            (
                F.col("start_before")
                > F.col("group_id") * _COMPACT_TARGET_ROWS
            ).alias("spans_from_prev"),
        )
        .orderBy("group_id")
    )


# --------------------------------------------------------------------------
# Bucket x sort joint advisor (ROADMAP round-12, pulled forward):
# bucketed_join_planning prices the shuffle a bucket layout SAVES;
# this table prices what it COSTS the sort side: bucketing lineitem
# by l_orderkey % B and sorting WITHIN buckets by l_shipdate (the
# bucketBy + sortBy DDL) splinters the global date clustering across
# B files — every bucket contains almost every ship date, so total
# shipdate runs grow ~Bx and RLE/zone-map effectiveness falls
# accordingly. Per candidate B (1 = unbucketed baseline, tying the
# row to sort_order_advisor's global number): total runs summed over
# buckets, average run length, and the largest bucket (the slowest
# writer/join task). The pair (shuffle saved, runs lost) is the real
# bucket-count decision.
# Scale: one stacked pass; the run count is a window PARTITIONED BY
# (candidate, bucket) — bounded state per task, no global sort for
# any B >= 2 (the B = 1 baseline row is the only global window, the
# sort_order_advisor audit contract).
# --------------------------------------------------------------------------
_BS_JOINT_BUCKETS = [1, 8, 32]

_BS_JOINT_ORACLE = f"""
    WITH cand(b) AS (VALUES {", ".join(f"({b})" for b in _BS_JOINT_BUCKETS)}),
    rows_ AS (
      SELECT cand.b, l.l_orderkey % cand.b AS bucket,
             CAST(CAST(l.l_shipdate AS DATE) AS VARCHAR) AS val,
             l.l_shipdate, l.l_orderkey, l.l_linenumber
      FROM lineitem l CROSS JOIN cand
    ),
    chg AS (
      SELECT b, bucket,
             CASE WHEN LAG(val) OVER w IS NULL
                       OR val <> LAG(val) OVER w THEN 1 ELSE 0 END AS c
      FROM rows_
      WINDOW w AS (PARTITION BY b, bucket
                   ORDER BY l_shipdate, l_orderkey, l_linenumber)
    ),
    per_bucket AS (
      SELECT b, bucket, CAST(SUM(c) AS BIGINT) AS runs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM chg GROUP BY 1, 2
    )
    SELECT CAST(b AS BIGINT) AS bucket_count,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(runs) AS BIGINT) AS n_runs_shipdate,
           CAST(ROUND(SUM(n) * 1000000.0 / SUM(runs)) AS BIGINT)
             AS avg_run_len_ppm,
           CAST(MAX(n) AS BIGINT) AS max_bucket_rows
    FROM per_bucket GROUP BY b
    ORDER BY bucket_count
    """


@operator("bucket_sort_joint_advisor", oracle=_BS_JOINT_ORACLE)
def bucket_sort_joint_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shipdate run-length cost of a bucketBy(B) + sortBy(shipdate)
    layout, per candidate B (see block comment)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    cand = F.array(*[F.lit(b) for b in _BS_JOINT_BUCKETS])
    rows_ = li.select(
        F.explode(cand).alias("b"),
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
    ).select(
        "b",
        (F.col("l_orderkey") % F.col("b")).alias("bucket"),
        F.col("l_shipdate").cast("date").cast("string").alias("val"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("b", "bucket").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    chg = F.when(
        F.lag("val").over(w).isNull()
        | (F.col("val") != F.lag("val").over(w)),
        1,
    ).otherwise(0)
    per_bucket = (
        rows_.withColumn("c", chg)
        .groupBy("b", "bucket")
        .agg(
            F.sum("c").cast("bigint").alias("runs"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    return (
        per_bucket.groupBy("b")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.sum("runs").cast("bigint").alias("n_runs_shipdate"),
            F.round(F.sum("n") * 1000000.0 / F.sum("runs"))
            .cast("bigint")
            .alias("avg_run_len_ppm"),
            F.max("n").cast("bigint").alias("max_bucket_rows"),
        )
        .select(
            F.col("b").cast("bigint").alias("bucket_count"),
            "n_rows",
            "n_runs_shipdate",
            "avg_run_len_ppm",
            "max_bucket_rows",
        )
        .orderBy("bucket_count")
    )


# --------------------------------------------------------------------------
# Compacted-layout zone pruning (ROADMAP round-12 "Warehouse"):
# compaction_planner emits the month->merge-group schedule; this
# prices what the merge COSTS the scan side. After compaction the
# pruning unit is the GROUP (its zone map spans min..max month of its
# members), so a day-granularity predicate that used to touch one
# month now scans every month in that group. Per reference predicate:
# rows matched, what the per-month layout scans (parts + rows), what
# the compacted layout scans (groups + rows), and both read
# amplifications — the small-files-vs-read-amp trade quantified on
# the SAME schedule the planner emits (group assignment reuses the
# planner's exact prefix-sum rule, _COMPACT_TARGET_ROWS).
# Predicates are fixed day-granularity literals inside the fixture's
# 1995-2001 span: one-month, one-quarter, half-year straddling a year
# boundary, and a single day (the pathological read-amp case).
# Scale: the month census is one domain-sized aggregation; predicate
# evaluation is one stacked pass (|orders| x 4 conditional agg) and
# two domain-sized overlap joins. Exact timestamp comparisons only.
# --------------------------------------------------------------------------
_CZP_PREDS = [
    ("p1_month", "1996-03-10", "1996-04-10"),
    ("p2_quarter", "1997-01-01", "1997-04-01"),
    ("p3_halfyear", "1998-06-15", "1998-12-15"),
    ("p4_day", "1999-07-04", "1999-07-05"),
]

_CZP_ORACLE = f"""
    WITH per AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT m, n,
             COALESCE(SUM(n) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM per
    ),
    grp AS (
      SELECT CAST(FLOOR(before / {_COMPACT_TARGET_ROWS}) AS BIGINT)
               AS group_id,
             MIN(m) AS g_lo,
             MAX(m) + INTERVAL 1 MONTH AS g_hi,
             CAST(SUM(n) AS BIGINT) AS n_rows
      FROM cum GROUP BY 1
    ),
    preds(pred_id, lo, hi) AS (VALUES
      {", ".join(f"('{p}', TIMESTAMP '{lo}', TIMESTAMP '{hi}')"
                 for p, lo, hi in _CZP_PREDS)}
    ),
    matched AS (
      SELECT p.pred_id, CAST(COUNT(*) AS BIGINT) AS rows_matched
      FROM orders o CROSS JOIN preds p
      WHERE o.o_orderdate >= p.lo AND o.o_orderdate < p.hi
      GROUP BY 1
    ),
    mscan AS (
      SELECT p.pred_id,
             CAST(COUNT(*) AS BIGINT) AS n_parts_month,
             CAST(SUM(c.n) AS BIGINT) AS rows_scanned_month
      FROM per c CROSS JOIN preds p
      WHERE p.lo < c.m + INTERVAL 1 MONTH AND p.hi > c.m
      GROUP BY 1
    ),
    gscan AS (
      SELECT p.pred_id,
             CAST(COUNT(*) AS BIGINT) AS n_groups_scanned,
             CAST(SUM(g.n_rows) AS BIGINT) AS rows_scanned_compacted
      FROM grp g CROSS JOIN preds p
      WHERE p.lo < g.g_hi AND p.hi > g.g_lo
      GROUP BY 1
    )
    SELECT m.pred_id, m.rows_matched,
           s.n_parts_month, s.rows_scanned_month,
           g.n_groups_scanned, g.rows_scanned_compacted,
           CAST(ROUND(s.rows_scanned_month * 1000000.0 / m.rows_matched)
                AS BIGINT) AS read_amp_month_ppm,
           CAST(ROUND(g.rows_scanned_compacted * 1000000.0
                      / m.rows_matched) AS BIGINT)
             AS read_amp_compacted_ppm
    FROM matched m JOIN mscan s USING (pred_id)
    JOIN gscan g USING (pred_id)
    ORDER BY pred_id
    """


@operator("compacted_zone_pruning", oracle=_CZP_ORACLE)
def compacted_zone_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-amplification of the compacted month layout vs the
    per-month layout for a fixed day-granularity predicate set (see
    block comment; group rule = compaction_planner's prefix sum)."""
    o = _t(spark, sf_dir, "orders").select("o_orderdate")
    per = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "m", "n", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("before")
    )
    grp = (
        cum.groupBy(
            F.floor(F.col("before") / _COMPACT_TARGET_ROWS)
            .cast("bigint")
            .alias("group_id")
        )
        .agg(
            F.min("m").alias("g_lo"),
            (F.max("m") + F.expr("INTERVAL 1 MONTH")).alias("g_hi"),
            F.sum("n").cast("bigint").alias("n_rows"),
        )
    )
    preds = local_frame(
        spark, [(p, lo, hi) for p, lo, hi in _CZP_PREDS],
        "pred_id string, lo_s string, hi_s string",
    ).select(
        "pred_id",
        F.to_timestamp("lo_s").alias("lo"),
        F.to_timestamp("hi_s").alias("hi"),
    )
    matched = (
        o.crossJoin(F.broadcast(preds))
        .filter(
            (F.col("o_orderdate") >= F.col("lo"))
            & (F.col("o_orderdate") < F.col("hi"))
        )
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matched"))
    )
    mscan = (
        per.crossJoin(F.broadcast(preds))
        .filter(
            (F.col("lo") < F.col("m") + F.expr("INTERVAL 1 MONTH"))
            & (F.col("hi") > F.col("m"))
        )
        .groupBy("pred_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts_month"),
            F.sum("n").cast("bigint").alias("rows_scanned_month"),
        )
    )
    gscan = (
        grp.crossJoin(F.broadcast(preds))
        .filter((F.col("lo") < F.col("g_hi")) & (F.col("hi") > F.col("g_lo")))
        .groupBy("pred_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups_scanned"),
            F.sum("n_rows").cast("bigint").alias("rows_scanned_compacted"),
        )
    )
    return (
        matched.join(mscan, "pred_id")
        .join(gscan, "pred_id")
        .select(
            "pred_id",
            "rows_matched",
            "n_parts_month",
            "rows_scanned_month",
            "n_groups_scanned",
            "rows_scanned_compacted",
            F.round(
                F.col("rows_scanned_month") * 1000000.0
                / F.col("rows_matched")
            )
            .cast("bigint")
            .alias("read_amp_month_ppm"),
            F.round(
                F.col("rows_scanned_compacted") * 1000000.0
                / F.col("rows_matched")
            )
            .cast("bigint")
            .alias("read_amp_compacted_ppm"),
        )
        .orderBy("pred_id")
    )


# --------------------------------------------------------------------------
# Sort-key benefit ranking (ROADMAP round-12 "Warehouse"): pick the
# table's ONE sort key from the scan workload, not folklore. For each
# candidate sort column the orders fact is laid out in that order,
# split into fixed 500-row "row groups" (the zone_map_skipping_stats
# unit), and every group's min/max footer stats are tested against a
# fixed 4-predicate reference workload (date range / custkey range /
# totalprice band / priority equality). Output: one row per candidate
# layout with the zone-map prune fraction per predicate, the workload
# mean, and the resulting rank — sorting by a column prunes its own
# predicate near-perfectly and (absent correlation) nothing else, so
# the mean column is the actual decision number.
# Determinism: min/max and comparisons only (no float arithmetic);
# ties in each layout order are broken by o_orderkey.
# Scale: |cands| stacked row_number passes (global window = the
# audit-scale contract; the per-range production variant is
# sort_order_advisor_ranged's pattern) + one domain-sized rollup.
# --------------------------------------------------------------------------
_SKB_RG_ROWS = 500
_SKB_CANDS = ["o_orderdate", "o_custkey", "o_totalprice", "o_orderpriority"]
# (pred_id, column, lo, hi) — hi exclusive for ranges; equality preds
# have lo == hi and test min <= v <= max overlap.
_SKB_PRED_SQL = {
    "pr_date": ("o_orderdate",
                "TIMESTAMP '1997-01-01'", "TIMESTAMP '1997-07-01'"),
    "pr_cust": ("o_custkey", "100", "200"),
    "pr_price": ("o_totalprice", "100000.0", "150000.0"),
    "pr_prio": ("o_orderpriority", "'1-URGENT'", None),  # equality
}


def _skb_overlap_sql(col: str, lo: str, hi: str | None) -> str:
    """Row-group [min,max] overlap test for a range (hi-exclusive) or
    equality (hi None) predicate on `col`."""
    if hi is None:
        return f"(mn_{col} <= {lo} AND mx_{col} >= {lo})"
    return f"(mn_{col} < {hi} AND mx_{col} >= {lo})"


_SKB_ORACLE = f"""
    WITH stacked AS (
      {" UNION ALL ".join(
        f'''SELECT '{c}' AS sort_col,
               ROW_NUMBER() OVER (ORDER BY {c}, o_orderkey) AS rn,
               o_orderdate, o_custkey, o_totalprice, o_orderpriority
        FROM orders''' for c in _SKB_CANDS)}
    ),
    rg AS (
      SELECT sort_col, (rn - 1) // {_SKB_RG_ROWS} AS rg_id,
             {", ".join(
               f"MIN({c}) AS mn_{c}, MAX({c}) AS mx_{c}"
               for c in ["o_orderdate", "o_custkey", "o_totalprice",
                         "o_orderpriority"])}
      FROM stacked GROUP BY 1, 2
    ),
    per AS (
      SELECT sort_col,
             CAST(COUNT(*) AS BIGINT) AS n_row_groups,
             {", ".join(
               f'''CAST(ROUND((1.0 - count_if(
                     {_skb_overlap_sql(*_SKB_PRED_SQL[p])})
                     / CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT)
                   AS {p}_prune_ppm''' for p in _SKB_PRED_SQL)}
      FROM rg GROUP BY 1
    ),
    scored AS (
      SELECT *,
             CAST(ROUND(({" + ".join(f"{p}_prune_ppm"
                                     for p in _SKB_PRED_SQL)})
                        / {len(_SKB_PRED_SQL)}.0) AS BIGINT)
               AS mean_prune_ppm
      FROM per
    )
    SELECT sort_col, n_row_groups,
           {", ".join(f"{p}_prune_ppm" for p in _SKB_PRED_SQL)},
           mean_prune_ppm,
           CAST(ROW_NUMBER() OVER (ORDER BY mean_prune_ppm DESC, sort_col)
                AS BIGINT) AS rank
    FROM scored
    ORDER BY rank
    """


@operator("sort_key_benefit_ranking", oracle=_SKB_ORACLE)
def sort_key_benefit_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map prune fraction per candidate sort key against a fixed
    reference predicate workload, ranked (see block comment)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey", "o_totalprice",
        "o_orderpriority",
    )
    pcols = ["o_orderdate", "o_custkey", "o_totalprice", "o_orderpriority"]
    stacked = None
    for c in _SKB_CANDS:
        lay = o.select(
            F.lit(c).alias("sort_col"),
            F.row_number()
            .over(Window.orderBy(F.col(c), F.col("o_orderkey")))
            .alias("rn"),
            *pcols,
        )
        stacked = lay if stacked is None else stacked.unionByName(lay)
    rg = stacked.groupBy(
        "sort_col",
        F.floor((F.col("rn") - 1) / _SKB_RG_ROWS).alias("rg_id"),
    ).agg(
        *[
            a
            for c in pcols
            for a in (
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            )
        ]
    )
    per = rg.groupBy("sort_col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_row_groups"),
        *[
            F.round(
                (
                    1.0
                    - F.sum(
                        F.expr(_skb_overlap_sql(*_SKB_PRED_SQL[p])).cast(
                            "long"
                        )
                    )
                    / F.count(F.lit(1)).cast("double")
                )
                * 1000000
            )
            .cast("bigint")
            .alias(f"{p}_prune_ppm")
            for p in _SKB_PRED_SQL
        ],
    )
    scored = per.withColumn(
        "mean_prune_ppm",
        F.round(
            sum(F.col(f"{p}_prune_ppm") for p in _SKB_PRED_SQL)
            / float(len(_SKB_PRED_SQL))
        ).cast("bigint"),
    )
    return scored.select(
        "sort_col",
        "n_row_groups",
        *[f"{p}_prune_ppm" for p in _SKB_PRED_SQL],
        "mean_prune_ppm",
        F.row_number()
        .over(Window.orderBy(F.col("mean_prune_ppm").desc(), "sort_col"))
        .cast("bigint")
        .alias("rank"),
    ).orderBy("rank")


# --------------------------------------------------------------------------
# Compaction floor sweep (ROADMAP round-13, pulled forward): the
# knob itself. compacted_zone_pruning prices ONE floor
# (_COMPACT_TARGET_ROWS); this sweeps three candidate floors through
# the same prefix-sum schedule and the same predicate workload, so a
# platform reads the small-files-vs-read-amp frontier off one table:
# per (floor, predicate) the group count, under-floor group count
# (the small-file residue), rows scanned and read amplification.
# The month census and the per-predicate match counts are computed
# ONCE; only the domain-sized group assignment is per-floor.
# Scale: one month-domain aggregation + |floors| window passes over
# ~|months| rows + domain-sized overlap joins.
# --------------------------------------------------------------------------
_CFS_FLOORS = [200, 400, 800]

_CFS_ORACLE = f"""
    WITH per AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT m, n,
             COALESCE(SUM(n) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM per
    ),
    fl(floor_rows) AS (VALUES
      {", ".join(f"({x})" for x in _CFS_FLOORS)}),
    grp AS (
      SELECT fl.floor_rows,
             CAST(FLOOR(c.before / fl.floor_rows) AS BIGINT) AS group_id,
             MIN(c.m) AS g_lo,
             MAX(c.m) + INTERVAL 1 MONTH AS g_hi,
             CAST(SUM(c.n) AS BIGINT) AS n_rows
      FROM cum c CROSS JOIN fl
      GROUP BY 1, 2
    ),
    gstat AS (
      SELECT floor_rows,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(count_if(n_rows < floor_rows) AS BIGINT)
               AS n_under_floor
      FROM grp GROUP BY 1
    ),
    preds(pred_id, lo, hi) AS (VALUES
      {", ".join(f"('{p}', TIMESTAMP '{lo}', TIMESTAMP '{hi}')"
                 for p, lo, hi in _CZP_PREDS)}
    ),
    matched AS (
      SELECT p.pred_id, CAST(COUNT(*) AS BIGINT) AS rows_matched
      FROM orders o CROSS JOIN preds p
      WHERE o.o_orderdate >= p.lo AND o.o_orderdate < p.hi
      GROUP BY 1
    ),
    gscan AS (
      SELECT g.floor_rows, p.pred_id,
             CAST(COUNT(*) AS BIGINT) AS n_groups_scanned,
             CAST(SUM(g.n_rows) AS BIGINT) AS rows_scanned
      FROM grp g CROSS JOIN preds p
      WHERE p.lo < g.g_hi AND p.hi > g.g_lo
      GROUP BY 1, 2
    )
    SELECT CAST(s.floor_rows AS BIGINT) AS floor_rows,
           s.pred_id,
           g.n_groups, g.n_under_floor,
           s.n_groups_scanned, s.rows_scanned, m.rows_matched,
           CAST(ROUND(s.rows_scanned * 1000000.0 / m.rows_matched)
                AS BIGINT) AS read_amp_ppm
    FROM gscan s
    JOIN gstat g ON g.floor_rows = s.floor_rows
    JOIN matched m ON m.pred_id = s.pred_id
    ORDER BY s.floor_rows, s.pred_id
    """


@operator("compaction_floor_sweep", oracle=_CFS_ORACLE)
def compaction_floor_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files-vs-read-amp frontier across candidate compaction
    floors (see block comment; schedule rule = compaction_planner's
    prefix sum, predicates = compacted_zone_pruning's workload)."""
    o = _t(spark, sf_dir, "orders").select("o_orderdate")
    per = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.select(
        "m", "n", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("before")
    )
    fl = local_frame(
        spark, [(x,) for x in _CFS_FLOORS], "floor_rows long"
    )
    grp = (
        cum.crossJoin(F.broadcast(fl))
        .groupBy(
            "floor_rows",
            F.floor(F.col("before") / F.col("floor_rows"))
            .cast("bigint")
            .alias("group_id"),
        )
        .agg(
            F.min("m").alias("g_lo"),
            (F.max("m") + F.expr("INTERVAL 1 MONTH")).alias("g_hi"),
            F.sum("n").cast("bigint").alias("n_rows"),
        )
    )
    gstat = grp.groupBy("floor_rows").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum((F.col("n_rows") < F.col("floor_rows")).cast("long"))
        .cast("bigint")
        .alias("n_under_floor"),
    )
    preds = local_frame(
        spark, [(p, lo, hi) for p, lo, hi in _CZP_PREDS],
        "pred_id string, lo_s string, hi_s string",
    ).select(
        "pred_id",
        F.to_timestamp("lo_s").alias("lo"),
        F.to_timestamp("hi_s").alias("hi"),
    )
    matched = (
        o.crossJoin(F.broadcast(preds))
        .filter(
            (F.col("o_orderdate") >= F.col("lo"))
            & (F.col("o_orderdate") < F.col("hi"))
        )
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matched"))
    )
    gscan = (
        grp.crossJoin(F.broadcast(preds))
        .filter((F.col("lo") < F.col("g_hi")) & (F.col("hi") > F.col("g_lo")))
        .groupBy("floor_rows", "pred_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups_scanned"),
            F.sum("n_rows").cast("bigint").alias("rows_scanned"),
        )
    )
    return (
        gscan.join(gstat, "floor_rows")
        .join(matched, "pred_id")
        .select(
            F.col("floor_rows").cast("bigint").alias("floor_rows"),
            "pred_id",
            "n_groups",
            "n_under_floor",
            "n_groups_scanned",
            "rows_scanned",
            "rows_matched",
            F.round(
                F.col("rows_scanned") * 1000000.0 / F.col("rows_matched")
            )
            .cast("bigint")
            .alias("read_amp_ppm"),
        )
        .orderBy("floor_rows", "pred_id")
    )
