"""Round-15 staged probe-schedule / cell-geometry diagnostics.

Closes the two questions the round-14 slate pinned (VERDICT r13
item 6 + ROADMAP §"Round 15+" retrieval queue):

* ``adc_recall_tail`` pinned min_hits == 0 for BOTH refined scorers
  at every swept nprobe — the worst query's true neighbors live
  outside its top-probed cells. ``tail_probe_schedule`` prices the
  per-QUERY probe budget (adaptive nprobe) at which the tail query
  first scores vs the median query; ``probe_budget_allocator``
  prices the fixed-vs-adaptive total probe bill at equal coverage;
  ``cell_overlap_assignment`` prices the index-side fix (assign each
  base vector to its top-2 cells) at the same probe budgets.
* ``residual_code_utilization`` cleared the codebook as the
  no-recall-gain suspect; ``cell_anisotropy_probe`` measures the
  remaining one — corpus isotropy — as the per-subspace ANOVA
  decomposition (between-cell / total sum of squares) for toy vs
  one-Lloyd-step cells.

All four run on the module's shared chassis: the `_IVF_CTES` toy
assignment (seeds = first-K vectors, grid-integer L2) plus ONE Lloyd
refinement pass (`cent`/`dist2`, byte-compatible with
codebook.adc_recall_tail's chain), with knn_bruteforce as the cosine
ground truth. Reference parity note: the reference pipeline
(/root/reference/doc/temp.md) has no vector surface at all; these are
north-star LLM-pipeline diagnostics (BASELINE.json).

Scale posture (100 TB): audit-scale contracts like their codebook
siblings — N_QUERIES is bounded (10), every frame after the one
corpus-wide assignment pass is query-domain- or cell-domain-sized,
and the exact brute-force truth is the declared audit edge (the
production retrieval paths are knn_ivf_kmeans / knn_lsh_multiprobe).
Nothing quadratic in the corpus: the Lloyd pass is two keyed
aggregations over (vec, cell), coverage joins are truth-pair-sized
(N_QUERIES x TOP_K), and the candidate counter joins the bounded
query cell-rank table to cell-sized rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdataentrytask_spark.operators import (
    local_frame,
    materialize,
    with_persisted,
)
from bigdataentrytask_spark.operators.similarity.core import (
    _IVF_CTES,
    _PQ_DIM,
    _PQ_K,
    _PQ_SUB,
    KMEANS_K,
    N_QUERIES,
    TOP_K,
    _emb,
)
from bigdataentrytask_spark.operators.similarity.quantization import (
    _IVF_ADC_PROBES,
)

# importing core above registers knn_bruteforce, so the truth oracle
# is available at composition time even under a standalone import
# (CONTRIBUTING §10 — the import-order lesson from the r13 boundary)
from bigdataentrytask_spark.operators import ORACLES as _REG_ORACLES
from bigdataentrytask_spark.operators import REGISTRY as _REG


# One Lloyd refinement pass over the toy assignment — byte-compatible
# with codebook.py's `cent`/`dist2` chain (adc_recall_tail,
# ivf_cell_lloyd_probe) so the diagnostics here read on the same
# cells those ops scored.
_LLOYD1_CTES = """cent AS (
      SELECT a.k, d.pos,
             CAST(ROUND(SUM(d.xi) * 1.0 / COUNT(*)) AS BIGINT) AS si
      FROM assigned a JOIN dims d ON d.vec_id = a.vec_id
      GROUP BY a.k, d.pos
    ),
    dist2 AS (
      SELECT d.vec_id, c.k,
             CAST(SUM((d.xi - c.si) * (d.xi - c.si)) AS BIGINT) AS dd
      FROM dims d JOIN cent c ON c.pos = d.pos
      GROUP BY d.vec_id, c.k
    ),
    assigned2 AS (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, k) AS rn
        FROM dist2
      ) WHERE rn = 1
    ),
    qcells AS (
      SELECT vec_id AS query_id, k,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dd, k) AS cell_rank
      FROM dist2 WHERE vec_id < {NQ}
    )""".replace("{NQ}", str(N_QUERIES))


def _lloyd1_frames(spark: SparkSession, dims: DataFrame):
    """Spark twin of _IVF_CTES + _LLOYD1_CTES on a persisted dims
    frame: returns (dist2, assigned2, qcells)."""
    seeds = dims.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("k"), "pos", F.col("xi").alias("si")
    )
    dist = (
        dims.join(seeds, "pos")
        .groupBy("vec_id", "k")
        .agg(
            F.sum((F.col("xi") - F.col("si")) * (F.col("xi") - F.col("si")))
            .cast("bigint")
            .alias("dd")
        )
    )
    wv = Window.partitionBy("vec_id").orderBy("dd", "k")
    assigned = (
        dist.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "k")
    )
    cent = (
        assigned.join(dims, "vec_id")
        .groupBy("k", "pos")
        .agg(
            F.round(F.sum("xi") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("si")
        )
    )
    dist2 = (
        dims.join(cent, "pos")
        .groupBy("vec_id", "k")
        .agg(
            F.sum((F.col("xi") - F.col("si")) * (F.col("xi") - F.col("si")))
            .cast("bigint")
            .alias("dd")
        )
    )
    assigned2 = (
        dist2.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "k")
    )
    qcells = (
        dist2.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("cell_rank", F.row_number().over(wv))
        .select(
            F.col("vec_id").alias("query_id"), "k", "cell_rank"
        )
    )
    return dist2, assigned2, qcells


def _dims_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    return e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))


def _truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _REG["knn_bruteforce"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )


# --------------------------------------------------------------------------
# Tail probe schedule (ROADMAP round-15 "Retrieval", item 1):
# adc_recall_tail reports the hit DISTRIBUTION at fixed nprobe; this
# table reads the same geometry per QUERY — for every true (query,
# neighbor) pair, need_probe = the rank of the neighbor's Lloyd cell
# in the query's cell ranking, then per query first_hit =
# MIN(need_probe) (the budget at which the query first scores) and
# full_cover = MAX (the budget at which all TOP_K truth is
# reachable). Reported per nprobe 1..KMEANS_K: how many queries have
# first scored, how many are fully covered, and the pair-level
# coverage ceiling — so the tail query's repair budget is the first
# row where n_first_hit reaches N_QUERIES, read against the median
# query's row.
# Pinned regime on this corpus (asserted in the staged test, and the
# HONEST surprise of this table): n_first_hit == N_QUERIES already
# at nprobe=1 — every query can REACH at least one true neighbor in
# its first Lloyd cell — so adc_recall_tail's min_hits=0 is
# scorer-side (the ADC top-K drops reachable truth), not a probing
# gap. Full cover is the expensive target: the tail query needs the
# whole cell sweep (n_full_cover reaches N_QUERIES only at
# KMEANS_K-ish budgets). Every column is monotone non-decreasing in
# nprobe.
# Exact math: integer grid distances; ranks are integer; the one ppm
# rounding is the only double.
# Scale: one Lloyd pass (two corpus-keyed aggs) + truth-pair-sized
# joins; output is KMEANS_K rows.
# --------------------------------------------------------------------------
_TPS_ORACLE = f"""
    WITH {{IVF_CTES}},
    {_LLOYD1_CTES},
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    ),
    need AS (
      SELECT t.query_id, t.neighbor_id, qc.cell_rank AS need_probe
      FROM truth t
      JOIN assigned2 a ON a.vec_id = t.neighbor_id
      JOIN qcells qc ON qc.query_id = t.query_id AND qc.k = a.k
    ),
    perq AS (
      SELECT query_id,
             MIN(need_probe) AS first_hit,
             MAX(need_probe) AS full_cover
      FROM need GROUP BY 1
    ),
    pr(nprobe) AS (VALUES
      {", ".join(f"({p})" for p in range(1, KMEANS_K + 1))})
    SELECT CAST(pr.nprobe AS BIGINT) AS nprobe,
           (SELECT CAST(count_if(p.first_hit <= pr.nprobe) AS BIGINT)
              FROM perq p) AS n_first_hit,
           (SELECT CAST(count_if(p.full_cover <= pr.nprobe) AS BIGINT)
              FROM perq p) AS n_full_cover,
           (SELECT CAST(ROUND(count_if(n.need_probe <= pr.nprobe)
                              * 1000000.0 / ({N_QUERIES} * {TOP_K}))
                        AS BIGINT)
              FROM need n) AS pairs_covered_ppm
    FROM pr
    ORDER BY nprobe
    """


def tail_probe_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nprobe first-hit / full-cover query counts and pair
    coverage on the one-Lloyd-step cells — the tail query's adaptive
    probe budget vs the median query (see block comment)."""
    dims = _dims_frame(spark, sf_dir)
    with with_persisted(dims) as dims_p:
        _, assigned2, qcells = _lloyd1_frames(spark, dims_p)
        need = (
            _truth(spark, sf_dir)
            .join(
                assigned2.select(
                    F.col("vec_id").alias("neighbor_id"), "k"
                ),
                "neighbor_id",
            )
            .join(qcells, ["query_id", "k"])
            .select(
                "query_id",
                "neighbor_id",
                F.col("cell_rank").alias("need_probe"),
            )
        )
        with with_persisted(need) as need_p:
            perq = need_p.groupBy("query_id").agg(
                F.min("need_probe").alias("first_hit"),
                F.max("need_probe").alias("full_cover"),
            )
            pr = local_frame(
                spark, [(p,) for p in range(1, KMEANS_K + 1)], "nprobe long"
            )
            fh = (
                perq.crossJoin(F.broadcast(pr))
                .groupBy("nprobe")
                .agg(
                    F.sum(
                        (F.col("first_hit") <= F.col("nprobe")).cast("long")
                    )
                    .cast("bigint")
                    .alias("n_first_hit"),
                    F.sum(
                        (F.col("full_cover") <= F.col("nprobe")).cast("long")
                    )
                    .cast("bigint")
                    .alias("n_full_cover"),
                )
            )
            pc = (
                need_p.crossJoin(F.broadcast(pr))
                .groupBy("nprobe")
                .agg(
                    F.round(
                        F.sum(
                            (
                                F.col("need_probe") <= F.col("nprobe")
                            ).cast("long")
                        )
                        * 1000000.0
                        / (N_QUERIES * TOP_K)
                    )
                    .cast("bigint")
                    .alias("pairs_covered_ppm")
                )
            )
            out = (
                fh.join(pc, "nprobe")
                .select(
                    F.col("nprobe").cast("bigint").alias("nprobe"),
                    "n_first_hit",
                    "n_full_cover",
                    "pairs_covered_ppm",
                )
                .orderBy("nprobe")
            )
            return materialize(out)


# --------------------------------------------------------------------------
# Probe budget allocator (tail_probe_schedule's companion): the fixed
# nprobe that hits a coverage target for EVERY query pays
# max-over-queries x N_QUERIES probes; an adaptive scheduler (grow
# each query's probe set until the target) pays only the per-query
# sum. Two targets on the same need table: a_first_hit (every query
# scores at least one true neighbor) and b_full_cover (every query
# can reach all TOP_K). Reported per target: the uniform budget
# (fixed_nprobe = the tail query's need), both total bills, and the
# adaptive saving in ppm of the fixed bill.
# Pinned regime (staged test): a_first_hit saves NOTHING (first_hit
# is 1 for every query — tail_probe_schedule's reachability
# finding, so fixed == adaptive == 1 probe/query), while
# b_full_cover saves 60% (600000 ppm at both fixture SFs): the tail
# query's full-cover need (the whole sweep) is an outlier the
# uniform budget charges to every query.
# Exact math: integer ranks and sums; the one ppm rounding.
# Scale: identical chassis to tail_probe_schedule; output is 2 rows.
# --------------------------------------------------------------------------
_PBA_ORACLE = f"""
    WITH {{IVF_CTES}},
    {_LLOYD1_CTES},
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    ),
    need AS (
      SELECT t.query_id, qc.cell_rank AS need_probe
      FROM truth t
      JOIN assigned2 a ON a.vec_id = t.neighbor_id
      JOIN qcells qc ON qc.query_id = t.query_id AND qc.k = a.k
    ),
    perq AS (
      SELECT query_id,
             MIN(need_probe) AS first_hit,
             MAX(need_probe) AS full_cover
      FROM need GROUP BY 1
    ),
    tgt AS (
      SELECT 'a_first_hit' AS target, first_hit AS nd FROM perq
      UNION ALL
      SELECT 'b_full_cover', full_cover FROM perq
    )
    SELECT target,
           CAST(MAX(nd) AS BIGINT) AS fixed_nprobe,
           CAST(MAX(nd) * {N_QUERIES} AS BIGINT) AS fixed_total_probes,
           CAST(SUM(nd) AS BIGINT) AS adaptive_total_probes,
           CAST(ROUND((MAX(nd) * {N_QUERIES} - SUM(nd)) * 1000000.0
                      / (MAX(nd) * {N_QUERIES})) AS BIGINT)
             AS savings_ppm
    FROM tgt
    GROUP BY target
    ORDER BY target
    """


def probe_budget_allocator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed vs adaptive total probe bill at the first-hit and
    full-cover coverage targets (see block comment)."""
    dims = _dims_frame(spark, sf_dir)
    with with_persisted(dims) as dims_p:
        _, assigned2, qcells = _lloyd1_frames(spark, dims_p)
        need = (
            _truth(spark, sf_dir)
            .join(
                assigned2.select(
                    F.col("vec_id").alias("neighbor_id"), "k"
                ),
                "neighbor_id",
            )
            .join(qcells, ["query_id", "k"])
            .select("query_id", F.col("cell_rank").alias("need_probe"))
        )
        perq = need.groupBy("query_id").agg(
            F.min("need_probe").alias("first_hit"),
            F.max("need_probe").alias("full_cover"),
        )
        tgt = perq.select(
            F.lit("a_first_hit").alias("target"),
            F.col("first_hit").alias("nd"),
        ).unionByName(
            perq.select(
                F.lit("b_full_cover").alias("target"),
                F.col("full_cover").alias("nd"),
            )
        )
        fixed_total = F.max("nd") * N_QUERIES
        out = (
            tgt.groupBy("target")
            .agg(
                F.max("nd").cast("bigint").alias("fixed_nprobe"),
                fixed_total.cast("bigint").alias("fixed_total_probes"),
                F.sum("nd").cast("bigint").alias("adaptive_total_probes"),
                F.round(
                    (fixed_total - F.sum("nd")) * 1000000.0 / fixed_total
                )
                .cast("bigint")
                .alias("savings_ppm"),
            )
            .orderBy("target")
        )
        return materialize(out)


# --------------------------------------------------------------------------
# Cell anisotropy probe (ROADMAP round-15 "Retrieval", item 2):
# residual_code_utilization cleared the residual codebook as the
# no-recall-gain suspect; the remaining one is corpus geometry — if
# the coarse cells capture almost none of the corpus variance, the
# residual step has nothing to re-encode. This is the ANOVA
# decomposition per PQ subspace: total_ss = grid-integer sum of
# squares to the (integer-rounded) global centroid; within_ss = the
# same to the assignment's own cell centroid; captured_ppm = the
# signed between-cell share (total - within) / total. Two variants
# on one scan: a_toy (seed cells — centroids are the seed vectors
# themselves, so within can EXCEED total and captured_ppm go
# negative) and b_lloyd1 (one Lloyd step — within <= total by the
# projection property, up to centroid-rounding slack).
# Pinned regime (staged test): b_lloyd1 captures strictly more than
# a_toy in EVERY subspace (a_toy is NEGATIVE — seed cells are worse
# than no cells), and the b_lloyd1 capture is tiny (<10% in every
# subspace on this corpus) — the direct measurement of the "nothing
# to gain" hypothesis behind the pinned no-recall-gain: the corpus
# is near-isotropic, so cell residuals carry almost the full
# per-subspace variance no matter how good the codebook is.
# Exact math: all integer sums (centroids integer-rounded exactly as
# the module's cent convention); the one ppm rounding per row.
# Scale: two corpus-keyed aggregation passes (assign + SS rollup);
# output is 2 x _PQ_SUB rows.
# --------------------------------------------------------------------------
_CAP_ORACLE = f"""
    WITH {{IVF_CTES}},
    {_LLOYD1_CTES},
    gcent AS (
      SELECT pos, CAST(ROUND(SUM(xi) * 1.0 / COUNT(*)) AS BIGINT) AS gi
      FROM dims GROUP BY pos
    ),
    tot AS (
      SELECT ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             CAST(SUM((d.xi - g.gi) * (d.xi - g.gi)) AS BIGINT)
               AS total_ss
      FROM dims d JOIN gcent g ON g.pos = d.pos
      GROUP BY 1
    ),
    wss AS (
      SELECT 'a_toy' AS variant,
             ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             CAST(SUM((d.xi - s.si) * (d.xi - s.si)) AS BIGINT)
               AS within_ss
      FROM dims d
      JOIN assigned a ON a.vec_id = d.vec_id
      JOIN seeds s ON s.k = a.k AND s.pos = d.pos
      GROUP BY 2
      UNION ALL
      SELECT 'b_lloyd1',
             ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             CAST(SUM((d.xi - c.si) * (d.xi - c.si)) AS BIGINT)
      FROM dims d
      JOIN assigned2 a ON a.vec_id = d.vec_id
      JOIN cent c ON c.k = a.k AND c.pos = d.pos
      GROUP BY 2
    )
    SELECT w.variant, CAST(w.sub AS BIGINT) AS sub,
           w.within_ss, t.total_ss,
           CAST(ROUND((t.total_ss - w.within_ss) * 1000000.0
                      / t.total_ss) AS BIGINT) AS captured_ppm
    FROM wss w JOIN tot t ON t.sub = w.sub
    ORDER BY variant, sub
    """


def cell_anisotropy_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-subspace between-cell variance share (signed ppm) for the
    toy vs one-Lloyd-step coarse cells (see block comment)."""
    dims = _dims_frame(spark, sf_dir)
    sub = (((F.col("pos") - 1) * _PQ_SUB) / _PQ_DIM).cast("bigint")
    with with_persisted(dims) as dims_p:
        seeds = dims_p.filter(F.col("vec_id") < KMEANS_K).select(
            F.col("vec_id").alias("k"), "pos", F.col("xi").alias("si")
        )
        dist = (
            dims_p.join(seeds, "pos")
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("si"))
                    * (F.col("xi") - F.col("si"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        wv = Window.partitionBy("vec_id").orderBy("dd", "k")
        assigned = (
            dist.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "k")
        )
        cent = (
            assigned.join(dims_p, "vec_id")
            .groupBy("k", "pos")
            .agg(
                F.round(F.sum("xi") * 1.0 / F.count(F.lit(1)))
                .cast("bigint")
                .alias("si")
            )
        )
        dist2 = (
            dims_p.join(cent, "pos")
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("si"))
                    * (F.col("xi") - F.col("si"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        assigned2 = (
            dist2.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "k")
        )
        gcent = dims_p.groupBy("pos").agg(
            F.round(F.sum("xi") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("gi")
        )
        ss = lambda a, b: F.sum((a - b) * (a - b)).cast("bigint")  # noqa: E731
        tot = (
            dims_p.join(gcent, "pos")
            .groupBy(sub.alias("sub"))
            .agg(ss(F.col("xi"), F.col("gi")).alias("total_ss"))
        )
        wtoy = (
            dims_p.join(assigned, "vec_id")
            .join(
                seeds.select("k", "pos", "si"),
                ["k", "pos"],
            )
            .groupBy(sub.alias("sub"))
            .agg(ss(F.col("xi"), F.col("si")).alias("within_ss"))
            .select(F.lit("a_toy").alias("variant"), "sub", "within_ss")
        )
        wlld = (
            dims_p.join(assigned2, "vec_id")
            .join(cent, ["k", "pos"])
            .groupBy(sub.alias("sub"))
            .agg(ss(F.col("xi"), F.col("si")).alias("within_ss"))
            .select(
                F.lit("b_lloyd1").alias("variant"), "sub", "within_ss"
            )
        )
        out = (
            wtoy.unionByName(wlld)
            .join(tot, "sub")
            .select(
                "variant",
                F.col("sub").cast("bigint").alias("sub"),
                "within_ss",
                "total_ss",
                F.round(
                    (F.col("total_ss") - F.col("within_ss"))
                    * 1000000.0
                    / F.col("total_ss")
                )
                .cast("bigint")
                .alias("captured_ppm"),
            )
            .orderBy("variant", "sub")
        )
        return materialize(out)


# --------------------------------------------------------------------------
# Cell-overlap assignment (VERDICT r13 item 6, the index-side fix):
# the tail query misses because its true neighbors' single assigned
# cell is far down its probe ranking; assigning every BASE vector to
# its top-2 Lloyd cells doubles each vector's reachability without
# touching the query-side budget. Two assignments on one dist2
# table — a_single (rank-1 cell) and b_overlap2 (ranks 1-2) — each
# priced per nprobe in {1, 2, 4}: pair coverage, the per-query
# minimum covered-truth count (the tail floor adc_recall_tail pinned
# at 0), and the mean distinct candidate volume per query (the cost
# of the overlap: ~2x list size).
# Pinned regime (staged test): at every nprobe, b_overlap2's
# coverage and tail floor are >= a_single's, and its candidate
# volume is strictly larger — the overlap trades list bytes for
# tail recall at FIXED query budget.
# Exact math: integer ranks, integer distinct counts; one
# mean-candidate rounding and one ppm rounding per row.
# Scale: the overlap doubles the assignment table (still one row per
# (vec, copy)); the candidate counter joins the bounded query
# cell-rank table to the assignment before a distinct — candidate
# rows are sum-of-probed-cell-sizes per query, the same volume the
# IVF scan itself would touch.
# --------------------------------------------------------------------------
_COA_PROBES = [1, 2, 4]

_COA_ORACLE = f"""
    WITH {{IVF_CTES}},
    {_LLOYD1_CTES},
    asg AS (
      SELECT 'a_single' AS variant, vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, k) AS rn
        FROM dist2
      ) WHERE rn = 1
      UNION ALL
      SELECT 'b_overlap2', vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, k) AS rn
        FROM dist2
      ) WHERE rn <= 2
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    ),
    cover AS (
      SELECT a.variant, t.query_id, t.neighbor_id,
             MIN(qc.cell_rank) AS need
      FROM truth t
      JOIN asg a ON a.vec_id = t.neighbor_id
      JOIN qcells qc ON qc.query_id = t.query_id AND qc.k = a.k
      GROUP BY 1, 2, 3
    ),
    pr(nprobe) AS (VALUES
      {", ".join(f"({p})" for p in _COA_PROBES)}),
    perq AS (
      SELECT c.variant, pr.nprobe, c.query_id,
             CAST(count_if(c.need <= pr.nprobe) AS BIGINT) AS n_hits
      FROM cover c CROSS JOIN pr
      GROUP BY 1, 2, 3
    ),
    cand AS (
      SELECT variant, nprobe,
             CAST(COUNT(*) AS BIGINT) AS n_cand
      FROM (
        SELECT DISTINCT a.variant, pr.nprobe, qc.query_id, a.vec_id
        FROM qcells qc
        CROSS JOIN pr
        JOIN asg a ON a.k = qc.k
        WHERE qc.cell_rank <= pr.nprobe
      )
      GROUP BY 1, 2
    )
    SELECT p.variant, CAST(p.nprobe AS BIGINT) AS nprobe,
           CAST(ROUND(SUM(p.n_hits) * 1000000.0
                      / ({N_QUERIES} * {TOP_K})) AS BIGINT)
             AS pairs_covered_ppm,
           CAST(MIN(p.n_hits) AS BIGINT) AS min_query_hits,
           (SELECT CAST(ROUND((c.n_cand - {N_QUERIES}) * 1.0
                              / {N_QUERIES}) AS BIGINT)
              FROM cand c
             WHERE c.variant = p.variant AND c.nprobe = p.nprobe)
             AS mean_candidates
    FROM perq p
    GROUP BY p.variant, p.nprobe
    ORDER BY variant, nprobe
    """


def cell_overlap_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single vs top-2-cell base-vector assignment, priced per nprobe
    as pair coverage, the per-query tail floor, and candidate volume
    (see block comment)."""
    dims = _dims_frame(spark, sf_dir)
    with with_persisted(dims) as dims_p:
        dist2, _, qcells = _lloyd1_frames(spark, dims_p)
        with with_persisted(dist2, qcells) as (dist2_p, qcells_p):
            wv = Window.partitionBy("vec_id").orderBy("dd", "k")
            rk = dist2_p.withColumn("rn", F.row_number().over(wv))
            asg = (
                rk.filter(F.col("rn") == 1)
                .select(
                    F.lit("a_single").alias("variant"), "vec_id", "k"
                )
                .unionByName(
                    rk.filter(F.col("rn") <= 2).select(
                        F.lit("b_overlap2").alias("variant"),
                        "vec_id",
                        "k",
                    )
                )
            )
            with with_persisted(asg) as asg_p:
                cover = (
                    _truth(spark, sf_dir)
                    .join(
                        asg_p.select(
                            "variant",
                            F.col("vec_id").alias("neighbor_id"),
                            "k",
                        ),
                        "neighbor_id",
                    )
                    .join(qcells_p, ["query_id", "k"])
                    .groupBy("variant", "query_id", "neighbor_id")
                    .agg(F.min("cell_rank").alias("need"))
                )
                pr = local_frame(
                    spark, [(p,) for p in _COA_PROBES], "nprobe long"
                )
                perq = (
                    cover.crossJoin(F.broadcast(pr))
                    .groupBy("variant", "nprobe", "query_id")
                    .agg(
                        F.sum(
                            (F.col("need") <= F.col("nprobe")).cast("long")
                        )
                        .cast("bigint")
                        .alias("n_hits")
                    )
                )
                cand = (
                    qcells_p.crossJoin(F.broadcast(pr))
                    .filter(F.col("cell_rank") <= F.col("nprobe"))
                    .join(asg_p, "k")
                    .select("variant", "nprobe", "query_id", "vec_id")
                    .distinct()
                    .groupBy("variant", "nprobe")
                    .agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
                )
                out = (
                    perq.groupBy("variant", "nprobe")
                    .agg(
                        F.round(
                            F.sum("n_hits")
                            * 1000000.0
                            / (N_QUERIES * TOP_K)
                        )
                        .cast("bigint")
                        .alias("pairs_covered_ppm"),
                        F.min("n_hits")
                        .cast("bigint")
                        .alias("min_query_hits"),
                    )
                    .join(cand, ["variant", "nprobe"])
                    .select(
                        "variant",
                        F.col("nprobe").cast("bigint").alias("nprobe"),
                        "pairs_covered_ppm",
                        "min_query_hits",
                        F.round(
                            (F.col("n_cand") - N_QUERIES)
                            * 1.0
                            / N_QUERIES
                        )
                        .cast("bigint")
                        .alias("mean_candidates"),
                    )
                    .orderBy("variant", "nprobe")
                )
                return materialize(out)


ROUND15_STAGED: dict[str, tuple] = {
    "tail_probe_schedule": (
        tail_probe_schedule,
        _TPS_ORACLE.replace("{IVF_CTES}", _IVF_CTES)
        .replace("{KNN_TRUTH}", _REG_ORACLES["knn_bruteforce"]),
    ),
    "probe_budget_allocator": (
        probe_budget_allocator,
        _PBA_ORACLE.replace("{IVF_CTES}", _IVF_CTES)
        .replace("{KNN_TRUTH}", _REG_ORACLES["knn_bruteforce"]),
    ),
    "cell_anisotropy_probe": (
        cell_anisotropy_probe,
        _CAP_ORACLE.replace("{IVF_CTES}", _IVF_CTES),
    ),
    "cell_overlap_assignment": (
        cell_overlap_assignment,
        _COA_ORACLE.replace("{IVF_CTES}", _IVF_CTES)
        .replace("{KNN_TRUTH}", _REG_ORACLES["knn_bruteforce"]),
    ),
}


# --------------------------------------------------------------------------
# ADC rerank-depth recall (ROADMAP round-16 "Retrieval", pulled
# forward — the scorer-side tail repair tail_probe_schedule calls
# for): reachability is NOT the tail's binding constraint (every
# query reaches truth at nprobe=1), so the fix must be scorer-side —
# keep the cheap ADC score for candidate GENERATION but re-rank the
# top-B ADC candidates with exact f32 (grid-integer) distance before
# taking the final TOP_K. One scorer (the 2x2's b_joint: refined
# cells + refined raw codebook), fixed nprobe = max(_IVF_ADC_PROBES)
# = the realistic probe budget, swept over the rerank budget B.
# Reported per B: the per-query hit distribution (min / lower-median
# / max), recall, and the mean number of candidates actually
# reranked (the exact-scoring bill per query).
# Pinned regime (staged test): the B = TOP_K row is EXACTLY
# adc_recall_tail's b_joint @ nprobe=4 hit distribution (reranking
# the top-5 by exact distance permutes, never changes, the returned
# set); recall and min_hits are non-decreasing in B; and at the
# largest swept B (>= every candidate list) recall equals the
# nprobe=4 reachability ceiling — the tail query recovers exactly
# when B first covers its ADC-misranked true neighbors.
# Exact math: grid-integer ADC and exact distances end to end; the
# two final roundings (recall ppm, mean reranked) are the only
# doubles.
# Scale: adc_recall_tail's chassis minus the residual branch plus
# one row_number stage; the rerank join touches candidate pairs
# only (need_probe-bounded), never all pairs — the all-pairs exact
# frame exists solely as the audit-scale truth, identical to every
# sibling's declared contract.
# --------------------------------------------------------------------------
_ARD_BUDGETS = [5, 10, 25, 100, 1000]
_ARD_NPROBE = max(_IVF_ADC_PROBES)

_ARD_ORACLE = f"""
    WITH {{IVF_CTES}},
    cent AS (
      SELECT a.k, d.pos,
             CAST(ROUND(SUM(d.xi) * 1.0 / COUNT(*)) AS BIGINT) AS si
      FROM assigned a JOIN dims d ON d.vec_id = a.vec_id
      GROUP BY a.k, d.pos
    ),
    dist2 AS (
      SELECT d.vec_id, c.k,
             CAST(SUM((d.xi - c.si) * (d.xi - c.si)) AS BIGINT) AS dd
      FROM dims d JOIN cent c ON c.pos = d.pos
      GROUP BY d.vec_id, c.k
    ),
    assigned2 AS (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, k) AS rn
        FROM dist2
      ) WHERE rn = 1
    ),
    qcells AS (
      SELECT vec_id AS query_id, k,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dd, k) AS cell_rnk
      FROM dist2 WHERE vec_id < {N_QUERIES}
    ),
    need AS (
      SELECT qc.query_id, ac.vec_id AS neighbor_id,
             MIN(qc.cell_rnk) AS need_probe
      FROM qcells qc
      JOIN assigned2 ac ON ac.k = qc.k
      WHERE ac.vec_id <> qc.query_id
      GROUP BY 1, 2
    ),
    cb0 AS (
      SELECT vec_id AS code, ((pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             pos, xi AS ci
      FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                   CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
            FROM v WHERE vec_id < {_PQ_K}) t
    ),
    pq_dist0 AS (
      SELECT d.vec_id, ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             cb.code,
             CAST(SUM((d.xi - cb.ci) * (d.xi - cb.ci)) AS BIGINT) AS dd
      FROM dims d
      JOIN cb0 cb ON cb.pos = d.pos
                 AND cb.sub = ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM}
      GROUP BY 1, 2, 3
    ),
    pq_assigned0 AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM pq_dist0
      ) WHERE rn = 1
    ),
    refined AS (
      SELECT a.sub, a.code, d.pos,
             CAST(ROUND(SUM(d.xi) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS ci
      FROM pq_assigned0 a
      JOIN dims d ON d.vec_id = a.vec_id
                 AND ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} = a.sub
      GROUP BY 1, 2, 3
    ),
    codebook AS (
      SELECT c.code, c.sub, c.pos, COALESCE(r.ci, c.ci) AS ci
      FROM cb0 c
      LEFT JOIN refined r ON r.sub = c.sub AND r.code = c.code
                         AND r.pos = c.pos
    ),
    pq_dist AS (
      SELECT d.vec_id, ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             cb.code,
             CAST(SUM((d.xi - cb.ci) * (d.xi - cb.ci)) AS BIGINT) AS dd
      FROM dims d
      JOIN codebook cb ON cb.pos = d.pos
                      AND cb.sub = ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM}
      GROUP BY 1, 2, 3
    ),
    pq_assigned AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM pq_dist
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT n.query_id, n.neighbor_id,
             CAST(SUM((q.xi - cb.ci) * (q.xi - cb.ci)) AS BIGINT) AS dd
      FROM need n
      JOIN pq_assigned a ON a.vec_id = n.neighbor_id
      JOIN codebook cb ON cb.sub = a.sub AND cb.code = a.code
      JOIN dims q ON q.vec_id = n.query_id AND q.pos = cb.pos
      WHERE n.need_probe <= {_ARD_NPROBE}
      GROUP BY 1, 2
    ),
    adcr AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dd, neighbor_id) AS adc_rnk
      FROM adc
    ),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM((q.xi - c.xi) * (q.xi - c.xi)) AS BIGINT) AS dd
      FROM dims q
      JOIN dims c ON c.pos = q.pos AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dd, neighbor_id) AS rnk
        FROM exact
      ) WHERE rnk <= {TOP_K}
    ),
    bb(budget) AS (VALUES
      {", ".join(f"({b})" for b in _ARD_BUDGETS)}),
    sel AS (
      SELECT bb.budget, a.query_id, a.neighbor_id, e.dd
      FROM adcr a
      JOIN bb ON a.adc_rnk <= bb.budget
      JOIN exact e ON e.query_id = a.query_id
                  AND e.neighbor_id = a.neighbor_id
    ),
    fin AS (
      SELECT budget, query_id, neighbor_id FROM (
        SELECT budget, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY budget, query_id
                                  ORDER BY dd, neighbor_id) AS rnk
        FROM sel
      ) WHERE rnk <= {TOP_K}
    ),
    qdom AS (SELECT vec_id AS query_id FROM v
             WHERE vec_id < {N_QUERIES}),
    perq AS (
      SELECT g.budget, g.query_id, COALESCE(h.n_hits, 0) AS n_hits
      FROM (SELECT bb.budget, q.query_id
            FROM bb CROSS JOIN qdom q) g
      LEFT JOIN (
        SELECT f.budget, f.query_id,
               CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT)
                 AS n_hits
        FROM fin f
        LEFT JOIN truth t ON t.query_id = f.query_id
                         AND t.neighbor_id = f.neighbor_id
        GROUP BY 1, 2
      ) h ON h.budget = g.budget AND h.query_id = g.query_id
    ),
    ordd AS (
      SELECT budget, n_hits,
             ROW_NUMBER() OVER (PARTITION BY budget
                                ORDER BY n_hits, query_id) AS rn
      FROM perq
    ),
    rr AS (
      SELECT budget, CAST(COUNT(*) AS BIGINT) AS n_sel
      FROM sel GROUP BY 1
    )
    SELECT CAST(o.budget AS BIGINT) AS budget,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST(MIN(o.n_hits) AS BIGINT) AS min_hits,
           CAST(MIN(CASE WHEN o.rn = {(N_QUERIES + 1) // 2}
                         THEN o.n_hits END) AS BIGINT) AS p50_hits,
           CAST(MAX(o.n_hits) AS BIGINT) AS max_hits,
           CAST(ROUND(SUM(o.n_hits) * 1000000.0
                      / ({N_QUERIES} * {TOP_K})) AS BIGINT)
             AS recall_ppm,
           (SELECT CAST(ROUND(r.n_sel * 1.0 / {N_QUERIES}) AS BIGINT)
              FROM rr r WHERE r.budget = o.budget)
             AS mean_reranked
    FROM ordd o
    GROUP BY o.budget
    ORDER BY budget
    """


def adc_rerank_depth_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-rerank of the top-B ADC candidates (refined cells +
    refined codebook, nprobe fixed) swept over B: the per-query hit
    distribution, recall, and the exact-scoring bill (see block
    comment)."""
    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select(
        "vec_id",
        ((F.col("pos0") * _PQ_SUB) / _PQ_DIM).cast("long").alias("sub"),
        (F.col("pos0") + 1).alias("pos"),
        grid.alias("xi"),
    )
    with with_persisted(dims) as dims_p:
        seeds = dims_p.filter(F.col("vec_id") < KMEANS_K).select(
            F.col("vec_id").alias("k"),
            F.col("pos").alias("s_pos"),
            F.col("xi").alias("si"),
        )
        sqd = (F.col("xi") - F.col("si")) * (F.col("xi") - F.col("si"))
        cdist0 = (
            dims_p.join(F.broadcast(seeds), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(F.sum(sqd).cast("bigint").alias("dd"))
        )
        wc = Window.partitionBy("vec_id").orderBy("dd", "k")
        assigned0 = (
            cdist0.withColumn("rn", F.row_number().over(wc))
            .filter(F.col("rn") == 1)
            .select("vec_id", "k")
        )
        cent = (
            assigned0.join(dims_p, "vec_id")
            .groupBy("k", F.col("pos").alias("s_pos"))
            .agg(
                F.round(F.sum("xi") * 1.0 / F.count(F.lit(1)))
                .cast("bigint")
                .alias("si")
            )
        )
        cdist = (
            dims_p.join(F.broadcast(cent), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(F.sum(sqd).cast("bigint").alias("dd"))
        )
        cell_rank = cdist.withColumn("rn", F.row_number().over(wc))
        assigned2 = materialize(
            cell_rank.filter(F.col("rn") == 1).select("vec_id", "k")
        )
        qcells = materialize(
            cell_rank.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"),
                "k",
                F.col("rn").alias("cell_rnk"),
            )
        )
        # need is (queries x reachable vecs) — corpus-scale under the
        # 8x stress corpus, so it stays LAZY (materialize would trip
        # the bounded-summary guard by design); the funnel filter
        # below is what bounds the scored work.
        need = (
            qcells.join(
                assigned2.select(
                    F.col("vec_id").alias("neighbor_id"), F.col("k")
                ),
                "k",
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.min("cell_rnk").alias("need_probe"))
        )
        cb0 = (
            e.filter(F.col("vec_id") < _PQ_K)
            .select(
                F.col("vec_id").alias("cb_code"),
                F.posexplode(
                    F.transform("embedding", lambda x: x.cast("double"))
                ).alias("pos0", "x"),
            )
            .select(
                "cb_code",
                ((F.col("pos0") * _PQ_SUB) / _PQ_DIM)
                .cast("long")
                .alias("cb_sub"),
                (F.col("pos0") + 1).alias("cb_pos"),
                grid.alias("ci"),
            )
        )

        def pq_assign(cbf):
            dist0 = (
                dims_p.join(
                    F.broadcast(cbf),
                    (F.col("cb_pos") == F.col("pos"))
                    & (F.col("cb_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", F.col("cb_code").alias("code"))
                .agg(
                    F.sum(
                        (F.col("xi") - F.col("ci"))
                        * (F.col("xi") - F.col("ci"))
                    )
                    .cast("bigint")
                    .alias("dd")
                )
            )
            wp = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
            return materialize(
                dist0.withColumn("rn", F.row_number().over(wp))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", "code")
            )

        a0 = pq_assign(cb0)
        refined = (
            a0.select(
                F.col("vec_id").alias("a_vid"),
                F.col("sub").alias("a_sub"),
                "code",
            )
            .join(
                dims_p,
                (F.col("a_vid") == F.col("vec_id"))
                & (F.col("a_sub") == F.col("sub")),
            )
            .groupBy(
                F.col("a_sub").alias("cb_sub"),
                F.col("code").alias("cb_code"),
                F.col("pos").alias("cb_pos"),
            )
            .agg(
                F.round(F.sum("xi") / F.count(F.lit(1)).cast("double"))
                .cast("bigint")
                .alias("r_ci")
            )
        )
        codebook = cb0.join(
            refined, ["cb_sub", "cb_code", "cb_pos"], "left"
        ).select(
            "cb_code", "cb_sub", "cb_pos",
            F.coalesce("r_ci", "ci").alias("ci"),
        )
        pq_assigned = pq_assign(codebook)
        nf = need.filter(F.col("need_probe") <= _ARD_NPROBE)
        adc = (
            nf.join(
                pq_assigned.select(
                    F.col("vec_id").alias("neighbor_id"), "sub", "code"
                ),
                "neighbor_id",
            )
            .join(
                F.broadcast(
                    codebook.select(
                        F.col("cb_sub").alias("sub"),
                        F.col("cb_code").alias("code"),
                        F.col("cb_pos").alias("pos"),
                        "ci",
                    )
                ),
                ["sub", "code"],
            )
            .join(
                dims_p.select(
                    F.col("vec_id").alias("query_id"), "pos", "xi"
                ),
                ["query_id", "pos"],
            )
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("ci"))
                    * (F.col("xi") - F.col("ci"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        adcr = adc.withColumn(
            "adc_rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    "dd", "neighbor_id"
                )
            ),
        ).select("query_id", "neighbor_id", "adc_rnk")
        exact = (
            dims_p.filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("query_id"), "pos", "xi")
            .join(
                dims_p.select(
                    F.col("vec_id").alias("neighbor_id"),
                    "pos",
                    F.col("xi").alias("ci"),
                ),
                "pos",
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("ci"))
                    * (F.col("xi") - F.col("ci"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        with with_persisted(exact) as exact_p:
            wt = Window.partitionBy("query_id").orderBy(
                "dd", "neighbor_id"
            )
            truth = (
                exact_p.withColumn("rnk", F.row_number().over(wt))
                .filter(F.col("rnk") <= TOP_K)
                .select(
                    "query_id", "neighbor_id", F.lit(1).alias("is_true")
                )
            )
            bb = local_frame(
                spark, [(b,) for b in _ARD_BUDGETS], "budget long"
            )
            sel = (
                adcr.crossJoin(F.broadcast(bb))
                .filter(F.col("adc_rnk") <= F.col("budget"))
                .join(exact_p, ["query_id", "neighbor_id"])
            )
            fin = (
                sel.withColumn(
                    "rnk",
                    F.row_number().over(
                        Window.partitionBy("budget", "query_id").orderBy(
                            "dd", "neighbor_id"
                        )
                    ),
                )
                .filter(F.col("rnk") <= TOP_K)
                .select("budget", "query_id", "neighbor_id")
            )
            qdom = e.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id")
            )
            hcounts = (
                fin.join(truth, ["query_id", "neighbor_id"], "left")
                .groupBy("budget", "query_id")
                .agg(
                    F.sum(F.coalesce("is_true", F.lit(0)))
                    .cast("bigint")
                    .alias("n_hits")
                )
            )
            perq = (
                bb.crossJoin(qdom)
                .join(hcounts, ["budget", "query_id"], "left")
                .select(
                    "budget",
                    "query_id",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                )
            )
            rr = sel.groupBy("budget").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sel")
            )
            wo = Window.partitionBy("budget").orderBy(
                "n_hits", "query_id"
            )
            ordd = perq.withColumn("rn", F.row_number().over(wo))
            p50_rn = (N_QUERIES + 1) // 2
            out = (
                ordd.groupBy("budget")
                .agg(
                    F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                    F.min("n_hits").cast("bigint").alias("min_hits"),
                    F.min(
                        F.when(F.col("rn") == p50_rn, F.col("n_hits"))
                    )
                    .cast("bigint")
                    .alias("p50_hits"),
                    F.max("n_hits").cast("bigint").alias("max_hits"),
                    F.round(
                        F.sum("n_hits") * 1000000.0 / (N_QUERIES * TOP_K)
                    )
                    .cast("bigint")
                    .alias("recall_ppm"),
                )
                .join(rr, "budget")
                .select(
                    F.col("budget").cast("bigint").alias("budget"),
                    "n_queries",
                    "min_hits",
                    "p50_hits",
                    "max_hits",
                    "recall_ppm",
                    F.round(F.col("n_sel") * 1.0 / N_QUERIES)
                    .cast("bigint")
                    .alias("mean_reranked"),
                )
                .orderBy("budget")
            )
            return materialize(out)


ROUND15_STAGED["adc_rerank_depth_recall"] = (
    adc_rerank_depth_recall,
    _ARD_ORACLE.replace("{IVF_CTES}", _IVF_CTES),
)
