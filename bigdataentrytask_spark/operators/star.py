"""Star-schema operators: joins, top-k, set ops, windows, approx aggs.

The reference contains zero joins (single fact table; dimension
modeling listed as missing at /root/reference/doc/temp.md:929).
SURVEY.md §2.4/§2.5 mandates the engine ship them anyway: dimension
enrichment is the canonical next query on a user_behavior-style fact,
and the driver's correctness harness provides a TPC-H-ish star schema
(FIXTURES.md §2).

Join strategy (100 TB posture):
* region/nation (and other tiny dims) are explicitly `broadcast()` —
  zero shuffle on the fact side, every executor holds the dim.
* customer at true scale is NOT broadcastable → plain equi-join, which
  Catalyst plans as a shuffled hash/sort-merge join; AQE converts it
  back to broadcast when runtime stats show it's small.
* fact-fact (lineitem ⋈ orders) is the shuffle we cannot avoid; on a
  real deployment both sides would be bucketed by orderkey at write
  time (`bucketBy`) making it shuffle-free. AQE handles skew splits.
* top-k per group uses `row_number` over a partitioned window — the
  shuffle is on the (low-cardinality) group key but state per group is
  O(1); never `orderBy().limit()` per group driver-side.
* exact COUNT(DISTINCT) at 100 TB is replaced by HLL
  (`approx_count_distinct`) — see approx_distinct_users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.operators import collect_bounded, local_frame, operator
from bigdataentrytask_spark.session import ensure_session_confs


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary: the canonical wide-agg scan. Filter is
# pushed to the parquet scan (row-group skipping); single shuffle on the
# 6-value group key; all aggregates map-side partial first.
# --------------------------------------------------------------------------
SHIP_CUTOFF = "2000-12-01 00:00:00"


@operator(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                    AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                               AS avg_price,
           ROUND(AVG(l_discount), 6)                                    AS avg_disc,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp_ntz")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Dimension-enrichment join chain: orders → customer → nation → region.
# nation/region broadcast (tiny forever); customer joins by key.
# --------------------------------------------------------------------------
@operator(
    "regional_revenue",
    oracle="""
    SELECT r.r_name                       AS region,
           n.n_name                       AS nation,
           COUNT(*)                       AS order_cnt,
           ROUND(SUM(o.o_totalprice), 2)  AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    ORDER BY region, nation
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("region", "nation")
    )


# --------------------------------------------------------------------------
# Fact-fact join: lineitem ⋈ orders on orderkey. The big shuffle; at
# deployment scale both sides bucketed by orderkey → shuffle-free.
# --------------------------------------------------------------------------
@operator(
    "priority_revenue",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           COUNT(*)          AS line_cnt,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY priority
    """,
)
def priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Semi / anti joins — existence predicates without row multiplication.
# --------------------------------------------------------------------------
@operator(
    "customers_with_orders",
    oracle="""
    SELECT c_mktsegment AS segment, COUNT(*) AS cust_cnt
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1 ORDER BY segment
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("cust_cnt"))
        .orderBy("segment")
    )


@operator(
    "customers_without_urgent_orders",
    oracle="""
    SELECT c_mktsegment AS segment, COUNT(*) AS cust_cnt
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1 ORDER BY segment
    """,
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("cust_cnt"))
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Top-k per group: row_number over (segment, price desc). Deterministic
# tiebreak on o_orderkey so Spark and the oracle agree on rank edges.
# --------------------------------------------------------------------------
@operator(
    "topk_orders_per_segment",
    oracle="""
    SELECT segment, rnk, o_orderkey, o_totalprice
    FROM (
      SELECT c.c_mktsegment AS segment,
             o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rnk <= 3
    ORDER BY segment, rnk
    """,
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("segment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"), "o_orderkey", "o_totalprice"
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("segment", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("segment", "rnk")
    )


# --------------------------------------------------------------------------
# Set operations: UNION / INTERSECT / EXCEPT over customer-key sets.
# --------------------------------------------------------------------------
@operator(
    "setops_urgent_low",
    oracle="""
    WITH urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         low    AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
    SELECT 'union' AS op, COUNT(*) AS cnt FROM (SELECT * FROM urgent UNION SELECT * FROM low)
    UNION ALL
    SELECT 'intersect', COUNT(*) FROM (SELECT * FROM urgent INTERSECT SELECT * FROM low)
    UNION ALL
    SELECT 'except', COUNT(*) FROM (SELECT * FROM urgent EXCEPT SELECT * FROM low)
    ORDER BY op
    """,
)
def setops_urgent_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey").distinct()
    rows = [
        urgent.union(low).distinct().agg(
            F.lit("union").alias("op"), F.count(F.lit(1)).alias("cnt")
        ),
        urgent.intersect(low).agg(
            F.lit("intersect").alias("op"), F.count(F.lit(1)).alias("cnt")
        ),
        urgent.subtract(low).agg(
            F.lit("except").alias("op"), F.count(F.lit(1)).alias("cnt")
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("op")


# --------------------------------------------------------------------------
# Windowed running total — the Q1 cumulative idea generalized to the star
# schema: running revenue per customer across their order history.
# --------------------------------------------------------------------------
@operator(
    "running_revenue_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_revenue
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# HLL approximate distinct — the 100 TB-safe form of Q1's COUNT(DISTINCT).
# Sketches merge associatively (map-side partial → tiny final merge), vs
# exact distinct's full shuffle of every key. DuckDB's HLL differs
# bit-for-bit, so the sketch VALUE can't be compared — instead the
# result carries the exact count plus a boolean asserting the sketch
# landed within 5x its configured 1% rsd; the oracle computes the same
# exact count and TRUE, making HLL accuracy a hashable driver gate.
# --------------------------------------------------------------------------
@operator(
    "approx_distinct_users",
    oracle="""
    SELECT event_type AS channel,
           COUNT(DISTINCT user_id) AS exact_uv,
           COUNT(*) AS cnt,
           TRUE AS approx_ok
    FROM events GROUP BY 1 ORDER BY channel
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    exact = F.count_distinct(F.col("user_id"))
    approx = F.approx_count_distinct("user_id", 0.01)
    return (
        ev.groupBy(F.col("event_type").alias("channel"))
        .agg(
            exact.alias("exact_uv"),
            F.count(F.lit(1)).alias("cnt"),
            (
                F.abs(approx.cast("double") / exact.cast("double") - 1.0) <= 0.05
            ).alias("approx_ok"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Grouped dim stats: MIN/MAX/AVG breadth over the join (completes the agg
# function surface beyond the reference's SUM/COUNT/MAX — SURVEY §2.3).
# --------------------------------------------------------------------------
@operator(
    "nation_customer_stats",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS cust_cnt,
           ROUND(MIN(c.c_acctbal), 2) AS min_bal,
           ROUND(MAX(c.c_acctbal), 2) AS max_bal,
           ROUND(AVG(c.c_acctbal), 6) AS avg_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY nation
    """,
)
def nation_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("cust_cnt"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# Mergeable-sketch UV: per-day HLL sketches unioned into the period
# estimate — the INCREMENTAL distinct-count architecture. At 100 TB
# you never recompute month UV from raw events: each day persists its
# fixed-size sketch (store it as BINARY next to the daily rollup) and
# the period estimate is a union over |days| sketches. Same
# exact+accuracy-gate contract as `approx_distinct_users`: the driver
# hashes the exact value and the boolean "union estimate within 5%".
# --------------------------------------------------------------------------
@operator(
    "uv_sketch_union_daily",
    oracle="""
    SELECT COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
           COUNT(DISTINCT user_id) AS period_exact_uv,
           TRUE AS union_ok
    FROM events
    """,
)
def uv_sketch_union_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"), "user_id"
    )
    daily = ev.groupBy("d").agg(F.hll_sketch_agg("user_id").alias("sk"))
    unioned = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_uv"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("period_exact_uv"))
    return (
        unioned.crossJoin(F.broadcast(exact))
        .select(
            "n_days",
            "period_exact_uv",
            (
                F.abs(
                    F.col("approx_uv").cast("double")
                    / F.col("period_exact_uv").cast("double")
                    - 1.0
                )
                <= 0.05
            ).alias("union_ok"),
        )
    )


# --------------------------------------------------------------------------
# Count-Min sketch: per-key frequency estimates from one fixed-size
# distributed aggregate (F.count_min_sketch -> 112 KB binary for
# eps=1e-3), probed over the BOUNDED user domain. CMS guarantees
# est >= exact, and est <= exact + eps*N with high probability; the
# fixed seed makes the sketch — and therefore the gate booleans —
# fully deterministic for a given corpus. At 100 TB the sketch is the
# thing you persist/merge per partition (same mergeable-sketch
# architecture as `uv_sketch_union_daily`); the probe loop is O(keys)
# over a dimension-sized domain, never the fact table.
# --------------------------------------------------------------------------
_CMS_EPS, _CMS_CONF, _CMS_SEED = 0.001, 0.99, 42


@operator(
    "cms_user_event_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS exact_cnt, TRUE AS cms_ok
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sk_bytes = collect_bounded(
        ev.agg(
            F.count_min_sketch(
                "user_id", F.lit(_CMS_EPS), F.lit(_CMS_CONF), F.lit(_CMS_SEED)
            ).alias("sk")
        )
    )[0].sk
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sk_bytes)
    )
    # user_id is a bounded domain (dimension cardinality, not fact
    # rows). The domain GROWS with the scale factor (~1.5k users per
    # sf0.1 fixture → 15k at sf1), so the default 100k guard ceiling
    # would trip on larger fixtures even though the collect is still
    # domain-sized by construction (ADVICE r9): the call-site bound
    # below tracks this operator's own audit contract instead — the
    # driver-side estimateCount probe loop is O(domain), so past ~2M
    # keys the loop, not the collect, is what must move off the driver
    # (per-partition probe via a broadcast sketch, noted above).
    exact = collect_bounded(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt")),
        n_max=2_000_000,
    )
    total = sum(r.exact_cnt for r in exact)
    slack = max(1, int(2 * _CMS_EPS * total))
    rows = []
    for r in sorted(exact, key=lambda r: r.user_id):
        est = cms.estimateCount(jvm.java.lang.Long(int(r.user_id)))
        ok = r.exact_cnt <= est <= r.exact_cnt + slack
        rows.append((int(r.user_id), int(r.exact_cnt), bool(ok)))
    return local_frame(
        spark, rows, "user_id long, exact_cnt long, cms_ok boolean"
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Bloom-filter membership: build over the orders FK side (distributed
# scan -> fixed-size filter), probe the full customer dimension. The
# contract under test: NO false negatives ever (every customer with
# orders must be contained — a Bloom guarantee, not a probability),
# and the false-positive rate on customers without orders stays near
# the configured fpp. This is the runtime-filter / semi-join-pruning
# primitive: ship the filter to the fact scan and drop non-matching
# rows before the shuffle.
# --------------------------------------------------------------------------
_BLOOM_FPP = 0.01


@operator(
    "bloom_membership_probe",
    oracle="""
    SELECT (SELECT COUNT(*) FROM customer) AS n_customers,
           (SELECT COUNT(*) FROM customer c
             WHERE EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey))
                                            AS n_with_orders,
           TRUE AS no_false_negatives,
           TRUE AS fp_ok
    """,
)
def bloom_membership_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    # size the filter from the actual key cardinality (the production
    # pattern: estimate first, then build) — a fixed expectedNumItems
    # saturates at larger scale factors and blows the fp rate
    n_keys = orders.select("o_custkey").distinct().count()
    bf = orders._jdf.stat().bloomFilter(
        "o_custkey", max(64, n_keys), _BLOOM_FPP
    )
    # customer is a dimension (150k rows per sf1) but it scales with
    # the fixture, so the default 100k ceiling would trip at sf>=1
    # (ADVICE r9). The call-site bound tracks the operator's audit
    # contract: the mightContain probe loop below is driver-side
    # O(|customer|), so ~2M keys is where the loop itself must become
    # a per-partition probe (broadcast the filter, probe executor-side
    # — the production runtime-filter path described above), and the
    # guard should fail loudly THERE, not at the fixture boundary.
    _DIM_MAX = 2_000_000
    with_orders = {
        r.c_custkey
        for r in collect_bounded(
            customer.join(
                orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
                "c_custkey",
                "left_semi",
            ),
            n_max=_DIM_MAX,
        )
    }
    all_keys = [
        r.c_custkey
        for r in collect_bounded(customer.select("c_custkey"), n_max=_DIM_MAX)
    ]
    fn = sum(
        1 for k in with_orders if not bf.mightContain(int(k))
    )
    without = [k for k in all_keys if k not in with_orders]
    fp = sum(1 for k in without if bf.mightContain(int(k)))
    fp_rate = fp / max(1, len(without))
    return local_frame(
        spark,
        [(
            len(all_keys),
            len(with_orders),
            fn == 0,
            bool(fp_rate <= 5 * _BLOOM_FPP),
        )],
        "n_customers long, n_with_orders long, "
        "no_false_negatives boolean, fp_ok boolean",
    )


# --------------------------------------------------------------------------
# Quantile SKETCH gate (natural sibling of the column_profile_drift_approx
# HLL gate). Spark's percentile_approx (Greenwald-Khanna/KLL-class
# mergeable sketch — the only way quantiles exist at 100 TB) is checked
# against its own DOCUMENTED contract: for relative error err =
# 1/accuracy, some valid rank of the returned value must lie in
# [floor((p-err)*N), ceil((p+err)*N)] — verified with exact rank counts
# COUNT(x < v) / COUNT(x <= v) (the value's rank interval is
# (n_lt, n_le]). The differential row also carries the
# EXACT discrete percentile (rank-ceil(q*n/100) element — a value
# pick, no interpolation arithmetic to drift across engines) so the
# oracle checks real content, not just TRUE gates.
#
# Scale: the sketch side is one mergeable aggregate over the column
# (bounded memory, partial-merge — the production path); the exact
# side is the audit-scale global sort both engines share. Gate
# booleans follow the cms/bloom oracle pattern (oracle asserts TRUE;
# Spark computes the actual check).
# --------------------------------------------------------------------------
_QSKETCH_QS = [25, 50, 75, 95]
_QSKETCH_ACC = 100  # rank error <= n/accuracy = 1% of n

_QSKETCH_COLS_SQL = """
      SELECT 'events.value' AS col_name, value AS x FROM events
      UNION ALL
      SELECT 'orders.o_totalprice', o_totalprice FROM orders
"""

_QSKETCH_ORACLE = f"""
    WITH src AS ({_QSKETCH_COLS_SQL}),
    ranked AS (
      SELECT col_name, x,
             ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY x) AS rn,
             COUNT(*) OVER (PARTITION BY col_name) AS n
      FROM src
    ),
    qs AS (SELECT UNNEST([{", ".join(map(str, _QSKETCH_QS))}]) AS q_pct)
    SELECT r.col_name, CAST(q.q_pct AS BIGINT) AS q_pct,
           CAST(ANY_VALUE(r.n) AS BIGINT) AS n_rows,
           ROUND(MIN(r.x), 6) AS exact_disc,
           TRUE AS sketch_ok
    FROM qs q
    JOIN ranked r
      ON r.rn = CAST(CEIL(q.q_pct * r.n / 100.0) AS BIGINT)
    GROUP BY r.col_name, q.q_pct
    ORDER BY col_name, q_pct
    """


@operator("column_quantile_sketch_gate", oracle=_QSKETCH_ORACLE)
def column_quantile_sketch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx contract gate + exact discrete percentiles
    (see block comment). Driver-side composition over bounded
    scalars, the cms/bloom sketch-probe pattern."""
    from pyspark.sql import Window

    from bigdataentrytask_spark.operators import collect_bounded

    ev = _t(spark, sf_dir, "events").select(
        F.lit("events.value").alias("col_name"),
        F.col("value").cast("double").alias("x"),
    )
    od = _t(spark, sf_dir, "orders").select(
        F.lit("orders.o_totalprice").alias("col_name"),
        F.col("o_totalprice").cast("double").alias("x"),
    )
    src = ev.unionByName(od)
    fracs = [q / 100.0 for q in _QSKETCH_QS]
    approx = {
        r.col_name: r.ap
        for r in collect_bounded(
            src.groupBy("col_name").agg(
                F.percentile_approx(
                    "x", F.array(*[F.lit(f) for f in fracs]), _QSKETCH_ACC
                ).alias("ap")
            )
        )
    }
    w = Window.partitionBy("col_name").orderBy("x")
    ranked = src.select(
        "col_name",
        "x",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("col_name")).alias("n"),
    )
    qs = local_frame(
        spark, [(q,) for q in _QSKETCH_QS], "q_pct long"
    )
    exact = (
        ranked.join(
            F.broadcast(qs),
            F.col("rn")
            == F.ceil(F.col("q_pct") * F.col("n") / 100.0).cast("bigint"),
        )
        .groupBy("col_name", "q_pct")
        .agg(
            F.first("n").cast("bigint").alias("n_rows"),
            F.round(F.min("x"), 6).alias("exact_disc"),
        )
    )
    # rank-contract check per (col, q): exact counts around the sketch
    # value — one pass of conditional sums per column
    checks = []
    for col_name, ap in approx.items():
        for i, q in enumerate(_QSKETCH_QS):
            v = float(ap[i])
            checks.append((col_name, q, v))
    cdf = local_frame(
        spark, checks, "col_name string, q_pct long, v double"
    )
    counted = (
        src.join(F.broadcast(cdf), "col_name")
        .groupBy("col_name", "q_pct", "v")
        .agg(
            F.sum(F.when(F.col("x") < F.col("v"), 1).otherwise(0)).alias(
                "n_lt"
            ),
            F.sum(F.when(F.col("x") <= F.col("v"), 1).otherwise(0)).alias(
                "n_le"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # the DOCUMENTED contract (percentile_approx): some valid rank r of
    # the returned value — r in (n_lt, n_le] — must satisfy
    # floor((p - err) * N) <= r <= ceil((p + err) * N), err = 1/accuracy
    p_frac = F.col("q_pct") / 100.0
    err = 1.0 / _QSKETCH_ACC
    lo = F.floor((p_frac - err) * F.col("n"))
    hi = F.ceil((p_frac + err) * F.col("n"))
    ok = (F.col("n_le") >= lo) & (F.col("n_lt") + 1 <= hi)
    gates = counted.select("col_name", "q_pct", ok.alias("sketch_ok"))
    return (
        exact.join(gates, ["col_name", "q_pct"])
        .select("col_name", "q_pct", "n_rows", "exact_disc", "sketch_ok")
        .orderBy("col_name", "q_pct")
    )
