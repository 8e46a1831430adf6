from __future__ import annotations

import random  # noqa: F401

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.functions import pandas_udf  # noqa: F401
from pyspark.sql.types import ArrayType, LongType  # noqa: F401

from bigdataentrytask_spark.catalog import load_table  # noqa: F401
from bigdataentrytask_spark.functions.vector import (  # noqa: F401
    cosine,
    cosine_seq,
    norm,
    seq_dot,
    stack_f64,
)
from bigdataentrytask_spark.operators import (  # noqa: F401
    local_frame,
    materialize,
    operator,
    with_persisted,
)
from bigdataentrytask_spark.session import ensure_session_confs  # noqa: F401

from bigdataentrytask_spark.operators.similarity.core import (  # noqa: F401,E501
    N_QUERIES,
    TOP_K,
    EMB_DIM,
    LSH_TABLES,
    LSH_BITS,
    _rng,
    HYPERPLANES,
    _emb,
    _SQL_NORMS,
    embedding_norms,
    knn_bruteforce,
    knn_ivf_label,
    _sql_planes,
    _SQL_CODES,
    _bucket_keys,
    _lsh_codes,
    _bucketed,
    knn_lsh,
    embedding_quantize,
    NEARDUP_COS,
    NEARDUP_TILE_GROUPS,
    _NEARDUP_ORACLE,
    embedding_neardup_pairs,
    _neardup_tile,
    _neardup_bucket_kernel,
    embedding_neardup_lsh,
    _HOF_BIG,
    embedding_hof_stats,
    embedding_label_centroids,
    _semdedup_oracle,
    semdedup_resolve,
    knn_lsh_multiprobe,
    KMEANS_K,
    kmeans_step,
    _IVF_CTES,
    knn_ivf_kmeans,
    _RERANK_POOL,
    _QUANT_AMAX_SQL,
    knn_quantized_rerank,
    pca_power_iteration,
    _MAHA_TOP,
    embedding_outlier_mahalanobis,
    _PQ_SUB,
    _PQ_K,
    _PQ_DIM,
    embedding_pq_assign,
)

from bigdataentrytask_spark.operators.similarity.diagnostics import (  # noqa: F401,E501
    _register_pair_compositions,
    _register_knn_recall_eval,
    lsh_bucket_balance,
    _MRL_DIM,
    matryoshka_prefix_recall,
    _DRIFT_CUT,
    embedding_centroid_drift,
    embedding_dim_variance,
    centroid_affinity_matrix,
    _register_rrf_fusion,
    neardup_transitivity_audit,
    mutual_knn_symmetry,
    _ORACLES,
    ivf_nprobe_recall_sweep,
    _register_knn_ndcg_eval,
    silhouette_by_label,
    _register_dbscan_core_census,
    embedding_dim_correlation_top,
    embedding_isotropy_score,
    embedding_hubness,
    _JL_K,
    _jl_oracle,
    jl_projection_distortion,
    _MATRYOSHKA_DIMS,
    _MATRYOSHKA_ORACLE,
    matryoshka_recall_sweep,
)


# --------------------------------------------------------------------------
# Residual (two-level) product quantization. Level 1 = the coarse k-means
# assignment kmeans_step already verifies (seed convention: first KMEANS_K
# vectors); level 2 = PQ over the RESIDUAL x - centroid(cell), with the
# residual codebook drawn from the first _PQ_K vectors' residuals
# (the same deterministic seed convention embedding_pq_assign uses on
# raw vectors). Reports, per subspace, the residual-PQ quantization
# error against the flat-PQ baseline — the distortion win that
# justifies IVF-PQ's extra table lookup in a serving index.
#
# Determinism: residuals are DIFFERENCES OF GRID INTEGERS (xi - si),
# so every distance is an exact integer in any accumulation order;
# per-subspace error sums stay exact via decimal(19,0)->decimal(38,0)
# (bound note at the module's canonical d19 comment) and are cast to
# double ONCE before the only two double expressions (errors / 1e12,
# gain ratio). Scale posture: identical to embedding_pq_assign —
# dimension-level rows, broadcast codebooks, bounded argmin windows.
#
# Expected sign on THIS corpus: gain_ppm is NEGATIVE. The synthetic
# embeddings are near-isotropic (unclustered), so the 8 coarse seeds
# barely reduce variance and residuals have var ~ 2(1-rho)sigma^2 >
# sigma^2 — two-level quantization loses to flat PQ, and the advisor
# table says so. On a clustered production corpus the sign flips;
# detecting WHICH regime a corpus is in before paying for an IVF-PQ
# index build is the point of the audit.
# --------------------------------------------------------------------------
_RESIDUAL_PQ_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             ((generate_subscripts(e, 1) - 1) * {_PQ_SUB}) // {_PQ_DIM}
               AS sub,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    seeds AS (
      SELECT vec_id AS k, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS si
      FROM v WHERE vec_id < {KMEANS_K}
    ),
    cdist AS (
      SELECT d.vec_id, se.k,
             CAST(SUM((d.xi - se.si) * (d.xi - se.si)) AS BIGINT) AS dd
      FROM dims d JOIN seeds se ON se.pos = d.pos
      GROUP BY 1, 2
    ),
    cassign AS (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, k) AS rn
        FROM cdist
      ) WHERE rn = 1
    ),
    resid AS (
      SELECT d.vec_id, d.pos, d.sub, d.xi - se.si AS ri
      FROM dims d
      JOIN cassign a ON a.vec_id = d.vec_id
      JOIN seeds se ON se.k = a.k AND se.pos = d.pos
    ),
    rcode AS (
      SELECT vec_id AS code, sub, pos, ri AS ci
      FROM resid WHERE vec_id < {_PQ_K}
    ),
    rdist AS (
      SELECT r.vec_id, r.sub, c.code,
             CAST(SUM((r.ri - c.ci) * (r.ri - c.ci)) AS BIGINT) AS dd
      FROM resid r JOIN rcode c ON c.pos = r.pos AND c.sub = r.sub
      GROUP BY 1, 2, 3
    ),
    rbest AS (
      SELECT vec_id, sub, dd FROM (
        SELECT vec_id, sub, dd,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM rdist
      ) WHERE rn = 1
    ),
    fcode AS (
      SELECT vec_id AS code, sub, pos, xi AS ci
      FROM dims WHERE vec_id < {_PQ_K}
    ),
    fdist AS (
      SELECT d.vec_id, d.sub, c.code,
             CAST(SUM((d.xi - c.ci) * (d.xi - c.ci)) AS BIGINT) AS dd
      FROM dims d JOIN fcode c ON c.pos = d.pos AND c.sub = d.sub
      GROUP BY 1, 2, 3
    ),
    fbest AS (
      SELECT vec_id, sub, dd FROM (
        SELECT vec_id, sub, dd,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM fdist
      ) WHERE rn = 1
    ),
    agg AS (
      SELECT f.sub,
             COUNT(*) AS n_vecs,
             SUM(f.dd::HUGEINT) AS flat_g,
             SUM(r.dd::HUGEINT) AS res_g
      FROM fbest f
      JOIN rbest r ON r.vec_id = f.vec_id AND r.sub = f.sub
      GROUP BY 1
    )
    SELECT CAST(sub AS BIGINT) AS sub,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           ROUND(CAST(flat_g AS DOUBLE) / 1e12, 4) AS flat_sq_error,
           ROUND(CAST(res_g AS DOUBLE) / 1e12, 4) AS residual_sq_error,
           CAST(ROUND((CAST(flat_g AS DOUBLE) - CAST(res_g AS DOUBLE))
                      * 1000000.0 / CAST(flat_g AS DOUBLE)) AS BIGINT)
             AS gain_ppm
    FROM agg ORDER BY sub
    """


@operator("residual_pq_distortion", oracle=_RESIDUAL_PQ_ORACLE)
def residual_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (IVF-residual) PQ distortion vs the flat-PQ baseline
    (see block comment). dims and resid are multi-consumer
    fact-scale intermediates -> with_persisted + materialize (the
    sanctioned hygiene pattern; output is 4 domain rows)."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    sub_of = ((F.col("pos0") * _PQ_SUB) / _PQ_DIM).cast("long")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        sub_of.alias("sub"),
        grid.alias("xi"),
    )
    seeds = (
        e.filter(F.col("vec_id") < KMEANS_K)
        .select(
            F.col("vec_id").alias("k"),
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos0", "x"),
        )
        .select("k", (F.col("pos0") + 1).alias("s_pos"), grid.alias("si"))
    )
    d19 = "decimal(19,0)"
    with with_persisted(dims) as dims_p:
        cdiff = F.col("xi") - F.col("si")
        cdist = (
            dims_p.join(F.broadcast(seeds), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(F.sum(cdiff * cdiff).cast("bigint").alias("dd"))
        )
        wv = Window.partitionBy("vec_id").orderBy("dd", "k")
        cassign = (
            cdist.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("k").alias("ck"))
        )
        resid = (
            dims_p.join(cassign, "vec_id")
            .join(
                F.broadcast(seeds),
                (F.col("s_pos") == F.col("pos"))
                & (F.col("k") == F.col("ck")),
            )
            .select(
                "vec_id", "pos", "sub",
                (F.col("xi") - F.col("si")).alias("ri"),
            )
        )
        with with_persisted(resid) as resid_p:
            rcode = resid_p.filter(F.col("vec_id") < _PQ_K).select(
                F.col("vec_id").alias("code"),
                F.col("sub").alias("c_sub"),
                F.col("pos").alias("c_pos"),
                F.col("ri").alias("ci"),
            )
            rdiff = F.col("ri") - F.col("ci")
            rdist = (
                resid_p.join(
                    F.broadcast(rcode),
                    (F.col("c_pos") == F.col("pos"))
                    & (F.col("c_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", "code")
                .agg(F.sum(rdiff * rdiff).cast("bigint").alias("dd"))
            )
            ws = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
            rbest = (
                rdist.withColumn("rn", F.row_number().over(ws))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", F.col("dd").alias("rdd"))
            )
            fcode = dims_p.filter(F.col("vec_id") < _PQ_K).select(
                F.col("vec_id").alias("code"),
                F.col("sub").alias("c_sub"),
                F.col("pos").alias("c_pos"),
                F.col("xi").alias("ci"),
            )
            fdiff = F.col("xi") - F.col("ci")
            fdist = (
                dims_p.join(
                    F.broadcast(fcode),
                    (F.col("c_pos") == F.col("pos"))
                    & (F.col("c_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", "code")
                .agg(F.sum(fdiff * fdiff).cast("bigint").alias("dd"))
            )
            fbest = (
                fdist.withColumn("rn", F.row_number().over(ws))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", F.col("dd").alias("fdd"))
            )
            agg = (
                fbest.join(rbest, ["vec_id", "sub"])
                .groupBy("sub")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                    F.sum(F.col("fdd").cast(d19)).cast("double").alias("flat_g"),
                    F.sum(F.col("rdd").cast(d19)).cast("double").alias("res_g"),
                )
            )
            return materialize(
                agg.select(
                    F.col("sub").cast("bigint").alias("sub"),
                    "n_vecs",
                    F.round(F.col("flat_g") / 1e12, 4).alias("flat_sq_error"),
                    F.round(F.col("res_g") / 1e12, 4).alias(
                        "residual_sq_error"
                    ),
                    F.round(
                        (F.col("flat_g") - F.col("res_g"))
                        * 1000000.0
                        / F.col("flat_g")
                    )
                    .cast("bigint")
                    .alias("gain_ppm"),
                )
                .orderBy("sub")
            )


# --------------------------------------------------------------------------
# HNSW-style layered neighborhood audit — BOUNDED census, not a graph
# build. Each vector draws a deterministic geometric level (trailing-zero
# count of an affine hash of vec_id — the arithmetic twin of HNSW's
# floor(-ln(U)*mL) draw, expected occupancy n/2^l), and for every layer l
# >= 1 the audit reports what an HNSW build would see there: occupancy,
# the M-NN edge count, how symmetric the neighborhood is
# (mutual edges — HNSW's bidirectional-link heuristic quality), and
# the mean M-th-neighbor radius (the greedy-search hop scale).
# Layer 0 is the full corpus: its neighborhood statistics are exactly
# the registered knn_* family's contract, so the audit starts at
# l = 1 to stay sub-quadratic relative to the base table (sum of
# occupancy^2 ~ n^2/3 over layers 1.. vs n^2 for layer 0).
#
# Determinism: levels are pure integer arithmetic; distances are exact
# grid-integer squared L2; top-M picks break ties on neighbor_id; the
# radius mean is an exact integer sum cast to double once.
# --------------------------------------------------------------------------
_HNSW_M = 4
_HNSW_MAX_LEVEL = 4
_HNSW_HASH_A = 2654435761  # Knuth multiplicative constant
_HNSW_HASH_P = 2147483647

_HNSW_LEVEL_SQL = f"""
      SELECT vec_id,
             CASE
               WHEN ((vec_id * {_HNSW_HASH_A}) % {_HNSW_HASH_P}) % 16 = 0 THEN 4
               WHEN ((vec_id * {_HNSW_HASH_A}) % {_HNSW_HASH_P}) % 8 = 0 THEN 3
               WHEN ((vec_id * {_HNSW_HASH_A}) % {_HNSW_HASH_P}) % 4 = 0 THEN 2
               WHEN ((vec_id * {_HNSW_HASH_A}) % {_HNSW_HASH_P}) % 2 = 0 THEN 1
               ELSE 0
             END AS lvl
      FROM embeddings
"""

_HNSW_AUDIT_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    lv AS ({_HNSW_LEVEL_SQL}),
    layers AS (SELECT UNNEST([1, 2, 3, 4]) AS layer),
    members AS (
      SELECT ly.layer, lv.vec_id
      FROM lv JOIN layers ly ON lv.lvl >= ly.layer
    ),
    dims AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    pdist AS (
      SELECT m1.layer, m1.vec_id AS src, m2.vec_id AS dst,
             (SELECT CAST(SUM((da.xi - db.xi) * (da.xi - db.xi)) AS BIGINT)
              FROM dims da JOIN dims db ON db.pos = da.pos
              WHERE da.vec_id = m1.vec_id AND db.vec_id = m2.vec_id) AS dd
      FROM members m1
      JOIN members m2 ON m2.layer = m1.layer AND m2.vec_id <> m1.vec_id
    ),
    topm AS (
      SELECT layer, src, dst, dd FROM (
        SELECT layer, src, dst, dd,
               ROW_NUMBER() OVER (PARTITION BY layer, src
                                  ORDER BY dd, dst) AS rn
        FROM pdist
      ) WHERE rn <= {_HNSW_M}
    ),
    radius AS (
      SELECT layer, src, MAX(dd) AS r FROM topm GROUP BY 1, 2
    ),
    mutual AS (
      SELECT a.layer, COUNT(*) AS n_mutual_directed
      FROM topm a JOIN topm b
        ON b.layer = a.layer AND b.src = a.dst AND b.dst = a.src
      GROUP BY 1
    ),
    agg_t AS (
      SELECT layer,
             CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
             CAST(COUNT(*) AS BIGINT) AS n_edges
      FROM topm GROUP BY 1
    ),
    agg_r AS (
      SELECT layer, CAST(SUM(r::HUGEINT) AS DOUBLE) AS r_sum
      FROM radius GROUP BY 1
    )
    SELECT CAST(t.layer AS BIGINT) AS layer,
           t.n_nodes,
           t.n_edges,
           CAST(COALESCE(m.n_mutual_directed, 0) // 2 AS BIGINT)
             AS n_mutual_edges,
           ROUND(r.r_sum / t.n_nodes / {_HNSW_M} / 1e12, 4) AS mean_radius
    FROM agg_t t
    JOIN agg_r r ON r.layer = t.layer
    LEFT JOIN mutual m ON m.layer = t.layer
    ORDER BY layer
    """


@operator("hnsw_layer_audit", oracle=_HNSW_AUDIT_ORACLE)
def hnsw_layer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layered M-NN neighborhood census (see block comment).
    mean_radius = per-node MAX top-M distance, summed exactly
    (decimal path), averaged over nodes, one double division chain —
    identical expression order on both sides."""
    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    lvl = (
        F.when((F.col("vec_id") * _HNSW_HASH_A % _HNSW_HASH_P) % 16 == 0, 4)
        .when((F.col("vec_id") * _HNSW_HASH_A % _HNSW_HASH_P) % 8 == 0, 3)
        .when((F.col("vec_id") * _HNSW_HASH_A % _HNSW_HASH_P) % 4 == 0, 2)
        .when((F.col("vec_id") * _HNSW_HASH_A % _HNSW_HASH_P) % 2 == 0, 1)
        .otherwise(0)
    )
    lv = e.select("vec_id", lvl.alias("lvl"))
    layers = spark.range(1, _HNSW_MAX_LEVEL + 1).select(
        F.col("id").cast("int").alias("layer")
    )
    members = lv.join(
        F.broadcast(layers), F.col("lvl") >= F.col("layer")
    ).select("layer", "vec_id")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    m1 = members.select(F.col("layer"), F.col("vec_id").alias("src"))
    m2 = members.select(
        F.col("layer").alias("layer2"), F.col("vec_id").alias("dst")
    )
    pairs = m1.join(
        m2,
        (F.col("layer") == F.col("layer2")) & (F.col("src") != F.col("dst")),
    ).select("layer", "src", "dst")
    da = dims.select(
        F.col("vec_id").alias("src"), "pos", F.col("xi").alias("xa")
    )
    db = dims.select(
        F.col("vec_id").alias("dst_b"),
        F.col("pos").alias("pos_b"),
        F.col("xi").alias("xb"),
    )
    diff = F.col("xa") - F.col("xb")
    # distance per (src, dst) computed ONCE on the distinct pair set,
    # then joined back to the (layer, src, dst) membership pairs — the
    # same (a, b) pair appears in every layer both endpoints share
    upairs = pairs.select("src", "dst").distinct()
    udist = (
        upairs.join(da, "src")
        .join(
            db,
            (F.col("pos_b") == F.col("pos"))
            & (F.col("dst_b") == F.col("dst")),
        )
        .groupBy("src", "dst")
        .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
    )
    pdist = pairs.join(udist, ["src", "dst"])
    wm = Window.partitionBy("layer", "src").orderBy("dd", "dst")
    topm = pdist.withColumn("rn", F.row_number().over(wm)).filter(
        F.col("rn") <= _HNSW_M
    )
    radius = topm.groupBy("layer", "src").agg(F.max("dd").alias("r"))
    ta = topm.select("layer", "src", "dst")
    tb = topm.select(
        F.col("layer").alias("layer_b"),
        F.col("src").alias("dst"),
        F.col("dst").alias("src"),
    )
    mutual = (
        ta.join(tb, ["src", "dst"])
        .filter(F.col("layer") == F.col("layer_b"))
        .groupBy("layer")
        .agg((F.count(F.lit(1)) / 2).cast("bigint").alias("n_mutual_edges"))
    )
    d19 = "decimal(19,0)"
    stats = (
        topm.groupBy("layer")
        .agg(
            F.countDistinct("src").cast("bigint").alias("n_nodes"),
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        )
        .join(
            radius.groupBy("layer").agg(
                F.sum(F.col("r").cast(d19)).cast("double").alias("r_sum")
            ),
            "layer",
        )
        .join(mutual, "layer", "left")
    )
    return stats.select(
        F.col("layer").cast("bigint").alias("layer"),
        "n_nodes",
        "n_edges",
        F.coalesce("n_mutual_edges", F.lit(0))
        .cast("bigint")
        .alias("n_mutual_edges"),
        F.round(
            F.col("r_sum") / F.col("n_nodes") / _HNSW_M / 1e12, 4
        ).alias("mean_radius"),
    ).orderBy("layer")


# --------------------------------------------------------------------------
# Binary (sign) quantization recall — 1 bit per dimension, ranking by
# ascending Hamming distance between sign vectors, evaluated against the
# full-precision brute-force truth. Completes the quantization family
# (flat PQ, residual PQ, b-bit minhash): sign quantization is the
# cheapest embedding compression a platform can ship (64 dims -> 8
# bytes, XOR+popcount search), and this is the table that says what
# recall@5 it costs on THIS corpus.
#
# Determinism: sign bits from grid integers (xi >= 0), Hamming counts
# are exact integer sums, ranking ties (Hamming is 0..64 — ties are
# the NORM) break on neighbor_id identically in both engines.
# Audit-scale: quadratic truth side, bounded by N_QUERIES.
# --------------------------------------------------------------------------
_BINQ_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    bits AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             CASE WHEN CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) >= 0
                  THEN 1 ELSE 0 END AS b
      FROM v
    ),
    ham AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CASE WHEN q.b <> c.b THEN 1 ELSE 0 END) AS BIGINT)
               AS hamming
      FROM bits q
      JOIN bits c ON c.pos = q.pos AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    top AS (
      SELECT query_id, neighbor_id, hamming FROM (
        SELECT query_id, neighbor_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rnk
        FROM ham
      ) WHERE rnk <= {TOP_K}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    )
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits,
           ROUND(CAST(count_if(t.neighbor_id IS NOT NULL) AS DOUBLE)
                 / ({N_QUERIES} * {TOP_K}), 6) AS recall_at_5,
           ROUND(CAST(SUM(s.hamming) AS DOUBLE)
                 / ({N_QUERIES} * {TOP_K}), 6) AS mean_hamming
    FROM top s
    LEFT JOIN truth t ON t.query_id = s.query_id
                     AND t.neighbor_id = s.neighbor_id
    """


@operator(
    "binary_quantization_recall",
    oracle=_BINQ_ORACLE.replace("{KNN_TRUTH}", _ORACLES["knn_bruteforce"]),
)
def binary_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit Hamming retrieval vs full-precision truth (see
    block comment)."""
    e = _emb(spark, sf_dir)
    bit = (F.round(F.col("x") * 1000000).cast("bigint") >= 0).cast("int")
    bits = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), bit.alias("b"))
    q = bits.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("b").alias("qb")
    )
    c = bits.select(
        F.col("vec_id").alias("neighbor_id"), "pos", F.col("b").alias("cb")
    )
    ham = (
        F.broadcast(q)
        .join(c, "pos")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(
                F.when(F.col("qb") != F.col("cb"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("hamming")
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    top = ham.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    truth = knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("is_true")
    )
    return top.join(truth, ["query_id", "neighbor_id"], "left").agg(
        F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
        F.sum(F.coalesce("is_true", F.lit(0))).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("is_true", F.lit(0))).cast("double")
            / (N_QUERIES * TOP_K),
            6,
        ).alias("recall_at_5"),
        F.round(
            F.sum("hamming").cast("double") / (N_QUERIES * TOP_K), 6
        ).alias("mean_hamming"),
    )


# --------------------------------------------------------------------------
# Graph-expansion recall ceiling. Graph-augmented ANN (HNSW/DiskANN's core
# move) grows the candidate set by walking kNN-graph edges from the
# hash-bucket seeds; this audit measures exactly what ONE hop buys on this
# corpus: stage a = the raw LSH bucket-mates (knn_lsh's candidate set),
# stage b = those plus each candidate's top-M exact neighbors. Per stage:
# mean candidate volume and recall@5 against the brute-force truth — the
# volume/recall trade a platform reads before turning on graph expansion.
#
# Determinism: candidate sets from the shared LSH codes (sign buckets,
# bit-identical across engines per functions/vector.py); the kNN
# graph and all rankings on exact grid-integer dots with neighbor_id
# tie-breaks (matryoshka pattern — one double division per ranked
# pair). Audit-scale: the graph build is the full quadratic, same
# contract as mutual_knn_symmetry.
#
# Plan posture (PLANS.md: 18 exchanges — above the registry norm but
# each runs ONCE on a bounded frame): the declared-quadratic graph
# build, the LSH candidate derivation, the two-stage dot/rank pass,
# and the composed knn_bruteforce truth. The round-11 staged sibling
# two_hop_expansion_ceiling scores the superset pairs once and ranks
# every nested stage in one window (the tighter form); this op keeps
# its original two-stage shape — it is green-on-file and its extra
# cost is one dot pass over the a-stage subset, dominated by the
# declared-quadratic graph build either way.
# --------------------------------------------------------------------------
_GEXP_M = 4

_GRAPH_EXPANSION_ORACLE = f"""
    WITH {{SQL_PLANES}},
    {{SQL_CODES}},
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dims AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM codes q JOIN codes c ON q.t = c.t AND q.code = c.code
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    gd AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             CAST(SUM((a.xi - b.xi) * (a.xi - b.xi)) AS BIGINT) AS dd
      FROM dims a JOIN dims b ON b.pos = a.pos AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    g AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY dd, dst) AS rn
        FROM gd
      ) WHERE rn <= {_GEXP_M}
    ),
    stages AS (
      SELECT 'a_lsh' AS stage, query_id, neighbor_id FROM cand
      UNION
      SELECT 'b_lsh_1hop', query_id, neighbor_id FROM cand
      UNION
      SELECT 'b_lsh_1hop', c.query_id, g.dst
      FROM cand c JOIN g ON g.src = c.neighbor_id
      WHERE g.dst <> c.query_id
    ),
    pn AS (
      SELECT vec_id,
             CAST(SUM(xi * xi) AS DOUBLE) AS cc
      FROM dims GROUP BY 1
    ),
    dotg AS (
      SELECT s.stage, s.query_id, s.neighbor_id,
             CAST(SUM(dq.xi * dn.xi) AS DOUBLE) AS dot
      FROM stages s
      JOIN dims dq ON dq.vec_id = s.query_id
      JOIN dims dn ON dn.vec_id = s.neighbor_id AND dn.pos = dq.pos
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT d.stage, d.query_id, d.neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY d.stage, d.query_id
               ORDER BY CASE WHEN p.cc = 0 THEN CAST(-2.0 AS DOUBLE)
                        ELSE d.dot / sqrt(p.cc) END DESC,
                        d.neighbor_id) AS rnk
      FROM dotg d JOIN pn p ON p.vec_id = d.neighbor_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    ),
    vol AS (
      SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM stages GROUP BY 1
    ),
    hits AS (
      SELECT r.stage,
             CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits
      FROM ranked r
      LEFT JOIN truth t ON t.query_id = r.query_id
                       AND t.neighbor_id = r.neighbor_id
      WHERE r.rnk <= {TOP_K}
      GROUP BY 1
    )
    SELECT h.stage,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           ROUND(CAST(v.n_candidates AS DOUBLE) / {N_QUERIES}, 6)
             AS mean_candidates,
           h.n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE) / ({N_QUERIES} * {TOP_K}), 6)
             AS recall_at_5
    FROM hits h JOIN vol v ON v.stage = h.stage
    ORDER BY h.stage
    """


@operator(
    "graph_expansion_recall",
    oracle=_GRAPH_EXPANSION_ORACLE.replace("{SQL_PLANES}", _sql_planes())
    .replace("{SQL_CODES}", _SQL_CODES)
    .replace("{KNN_TRUTH}", _ORACLES["knn_bruteforce"]),
)
def graph_expansion_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates vs 1-hop kNN-graph expansion (see block
    comment). The dims frame feeds the graph build, the norms, and
    both dot sides -> with_persisted + materialize."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    bucketed = _bucketed(e)
    with with_persisted(dims, bucketed) as (dims_p, bucketed_p):
        qb = bucketed_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "bucket"
        )
        cb = bucketed_p.select(
            F.col("vec_id").alias("neighbor_id"), "bucket"
        )
        cand = (
            qb.join(cb, "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        da = dims_p.select(
            F.col("vec_id").alias("src"), "pos", F.col("xi").alias("xa")
        )
        db = dims_p.select(
            F.col("vec_id").alias("dst"),
            F.col("pos").alias("pos_b"),
            F.col("xi").alias("xb"),
        )
        diff = F.col("xa") - F.col("xb")
        gd = (
            da.join(
                db,
                (F.col("pos_b") == F.col("pos"))
                & (F.col("dst") != F.col("src")),
            )
            .groupBy("src", "dst")
            .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
        )
        wg = Window.partitionBy("src").orderBy("dd", "dst")
        g = (
            gd.withColumn("rn", F.row_number().over(wg))
            .filter(F.col("rn") <= _GEXP_M)
            .select("src", "dst")
        )
        hop = (
            cand.join(g, cand.neighbor_id == g.src)
            .filter(F.col("dst") != F.col("query_id"))
            .select("query_id", F.col("dst").alias("neighbor_id"))
        )
        stages = (
            cand.select(F.lit("a_lsh").alias("stage"), "query_id", "neighbor_id")
            .unionByName(
                cand.select(
                    F.lit("b_lsh_1hop").alias("stage"),
                    "query_id",
                    "neighbor_id",
                )
            )
            .unionByName(
                hop.select(
                    F.lit("b_lsh_1hop").alias("stage"),
                    "query_id",
                    "neighbor_id",
                )
            )
            .distinct()
        )
        pn = dims_p.groupBy("vec_id").agg(
            F.sum(F.col("xi") * F.col("xi")).cast("double").alias("cc")
        )
        dq = dims_p.select(
            F.col("vec_id").alias("query_id"), "pos", F.col("xi").alias("qi")
        )
        dn = dims_p.select(
            F.col("vec_id").alias("nb"),
            F.col("pos").alias("pos_n"),
            F.col("xi").alias("ni"),
        )
        dotg = (
            stages.join(dq, "query_id")
            .join(
                dn,
                (F.col("pos_n") == F.col("pos"))
                & (F.col("nb") == F.col("neighbor_id")),
            )
            .groupBy("stage", "query_id", "neighbor_id")
            .agg(F.sum(F.col("qi") * F.col("ni")).cast("double").alias("dot"))
        )
        # cc = 0 guard (ADVICE r9, matryoshka pattern): Spark's
        # non-ANSI /0 -> NULL vs DuckDB's IEEE inf/nan would diverge
        # the ranking for an (unreachable on this corpus) all-zero
        # grid vector — pin to the -2.0 sentinel on both engines.
        wr = Window.partitionBy("stage", "query_id").orderBy(
            F.when(F.col("cc") == 0, F.lit(-2.0))
            .otherwise(F.col("dot") / F.sqrt("cc"))
            .desc(),
            "neighbor_id",
        )
        ranked = (
            dotg.join(pn.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
            .withColumn("rnk", F.row_number().over(wr))
            .filter(F.col("rnk") <= TOP_K)
        )
        truth = knn_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id", F.lit(1).alias("is_true")
        )
        vol = stages.groupBy("stage").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates")
        )
        hits = (
            ranked.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("stage")
            .agg(
                F.sum(F.coalesce("is_true", F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
        )
        return materialize(
            hits.join(vol, "stage")
            .select(
                "stage",
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                F.round(
                    F.col("n_candidates").cast("double") / N_QUERIES, 6
                ).alias("mean_candidates"),
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / (N_QUERIES * TOP_K), 6
                ).alias("recall_at_5"),
            )
            .orderBy("stage")
        )


# --------------------------------------------------------------------------
# Asymmetric binary retrieval (ROADMAP round-11 "Retrieval"): the
# production asymmetric-hashing trade — the CORPUS is compressed to
# sign bits (1 bit/dim, the binary_quantization_recall layout) but the
# QUERY stays full precision, scoring by sum_i q_i * sign(c_i). Keeps
# the index at 8 bytes/vector while recovering much of the recall the
# symmetric Hamming ranking loses (Jegou et al.'s asymmetric-distance
# observation applied to sign quantization). This table is the
# side-by-side: recall@5 of the asymmetric scorer against the
# full-precision truth, with the symmetric recall joined in so the
# win is one row.
# Determinism: q_i as grid integers, sign(c_i) in {-1, +1} (grid
# int >= 0 -> +1, the binq convention), so scores are EXACT integer
# sums; ties break on neighbor_id. Audit-scale: quadratic truth,
# bounded by N_QUERIES (same contract as binary_quantization_recall).
# --------------------------------------------------------------------------
_ASYM_BINQ_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(q.xi * (CASE WHEN c.xi >= 0 THEN 1 ELSE -1 END))
                  AS BIGINT) AS score,
             CAST(SUM(CASE WHEN (q.xi >= 0) <> (c.xi >= 0)
                           THEN 1 ELSE 0 END) AS BIGINT) AS hamming
      FROM dims q
      JOIN dims c ON c.pos = q.pos AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    top_a AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= {TOP_K}
    ),
    top_s AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= {TOP_K}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    )
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           (SELECT CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT)
            FROM top_a a LEFT JOIN truth t
              ON t.query_id = a.query_id
             AND t.neighbor_id = a.neighbor_id) AS n_hits_asym,
           (SELECT CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT)
            FROM top_s s LEFT JOIN truth t
              ON t.query_id = s.query_id
             AND t.neighbor_id = s.neighbor_id) AS n_hits_sym,
           (SELECT ROUND(CAST(count_if(t.neighbor_id IS NOT NULL) AS DOUBLE)
                         / ({N_QUERIES} * {TOP_K}), 6)
            FROM top_a a LEFT JOIN truth t
              ON t.query_id = a.query_id
             AND t.neighbor_id = a.neighbor_id) AS recall_asym,
           (SELECT ROUND(CAST(count_if(t.neighbor_id IS NOT NULL) AS DOUBLE)
                         / ({N_QUERIES} * {TOP_K}), 6)
            FROM top_s s LEFT JOIN truth t
              ON t.query_id = s.query_id
             AND t.neighbor_id = s.neighbor_id) AS recall_sym
    """


@operator(
    "asymmetric_binary_retrieval",
    oracle=_ASYM_BINQ_ORACLE.replace("{KNN_TRUTH}", _ORACLES["knn_bruteforce"]),
)
def asymmetric_binary_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-precision query vs sign-bit corpus, side-by-side with the
    symmetric Hamming ranking (see block comment). One
    (query, neighbor) aggregation computes BOTH scores; the two
    rankings share it."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    q = dims.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("xi").alias("qi")
    )
    c = dims.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("pos").alias("pos_c"),
        F.col("xi").alias("ci"),
    )
    sgn = F.when(F.col("ci") >= 0, F.lit(1)).otherwise(F.lit(-1))
    qsign_ne = (F.col("qi") >= 0) != (F.col("ci") >= 0)
    scored = (
        F.broadcast(q)
        .join(c, F.col("pos_c") == F.col("pos"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("qi") * sgn).cast("bigint").alias("score"),
            F.sum(qsign_ne.cast("long")).cast("bigint").alias("hamming"),
        )
    )
    truth = knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("is_true")
    )
    with with_persisted(scored) as scored_p:
        wa = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), "neighbor_id"
        )
        ws = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")

        def hits(w) -> DataFrame:
            return (
                scored_p.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= TOP_K)
                .join(truth, ["query_id", "neighbor_id"], "left")
                .agg(
                    F.sum(F.coalesce("is_true", F.lit(0)))
                    .cast("bigint")
                    .alias("n")
                )
            )

        out = (
            hits(wa)
            .withColumnRenamed("n", "n_hits_asym")
            .crossJoin(hits(ws).withColumnRenamed("n", "n_hits_sym"))
            .select(
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                "n_hits_asym",
                "n_hits_sym",
                F.round(
                    F.col("n_hits_asym").cast("double")
                    / (N_QUERIES * TOP_K),
                    6,
                ).alias("recall_asym"),
                F.round(
                    F.col("n_hits_sym").cast("double")
                    / (N_QUERIES * TOP_K),
                    6,
                ).alias("recall_sym"),
            )
        )
        return materialize(out)


# --------------------------------------------------------------------------
# Two-hop expansion ceiling (ROADMAP round-11 "Retrieval"):
# graph_expansion_recall's natural continuation — stage a = LSH
# candidates, stage b = + 1 hop through the exact kNN graph, stage
# c = + 2 hops. The table reads as the diminishing-returns curve that
# says where graph expansion stops paying for its candidate volume.
# Same determinism + audit-scale contract as graph_expansion_recall
# (quadratic graph build bounded by the 500-vector corpus; rankings
# on exact grid-integer dots with the cc=0 sentinel guard; candidate
# sets from the shared bit-identical LSH codes).
#
# Plan posture (staged audit, round 10): ~19 exchanges — high for the
# registry but each runs ONCE on a bounded frame: the declared-
# quadratic graph build (~5), the LSH candidate derivation, three
# materialized domain-sized frontiers, ONE superset dot-product pass,
# ONE rank window (three per-stage ranks as running membership sums —
# the nesting trick), and the composed knn_bruteforce truth. A lazy
# first cut re-derived the graph per expansion stage and audited at
# 44 exchanges; a per-stage window version audited at 24 with 3x the
# ranked row volume.
# --------------------------------------------------------------------------
_TWO_HOP_ORACLE = f"""
    WITH {{SQL_PLANES}},
    {{SQL_CODES}},
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dims AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM codes q JOIN codes c ON q.t = c.t AND q.code = c.code
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    gd AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             CAST(SUM((a.xi - b.xi) * (a.xi - b.xi)) AS BIGINT) AS dd
      FROM dims a JOIN dims b ON b.pos = a.pos AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    g AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY dd, dst) AS rn
        FROM gd
      ) WHERE rn <= {_GEXP_M}
    ),
    hop1 AS (
      SELECT DISTINCT c.query_id, g.dst AS neighbor_id
      FROM cand c JOIN g ON g.src = c.neighbor_id
      WHERE g.dst <> c.query_id
    ),
    front1 AS (
      SELECT query_id, neighbor_id FROM cand
      UNION
      SELECT query_id, neighbor_id FROM hop1
    ),
    hop2 AS (
      SELECT DISTINCT f.query_id, g.dst AS neighbor_id
      FROM front1 f JOIN g ON g.src = f.neighbor_id
      WHERE g.dst <> f.query_id
    ),
    stages AS (
      SELECT 'a_lsh' AS stage, query_id, neighbor_id FROM cand
      UNION
      SELECT 'b_1hop', query_id, neighbor_id FROM front1
      UNION
      SELECT 'c_2hop', query_id, neighbor_id FROM front1
      UNION
      SELECT 'c_2hop', query_id, neighbor_id FROM hop2
    ),
    pn AS (
      SELECT vec_id, CAST(SUM(xi * xi) AS DOUBLE) AS cc
      FROM dims GROUP BY 1
    ),
    dotg AS (
      SELECT s.stage, s.query_id, s.neighbor_id,
             CAST(SUM(dq.xi * dn.xi) AS DOUBLE) AS dot
      FROM stages s
      JOIN dims dq ON dq.vec_id = s.query_id
      JOIN dims dn ON dn.vec_id = s.neighbor_id AND dn.pos = dq.pos
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT d.stage, d.query_id, d.neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY d.stage, d.query_id
               ORDER BY CASE WHEN p.cc = 0 THEN CAST(-2.0 AS DOUBLE)
                        ELSE d.dot / sqrt(p.cc) END DESC,
                        d.neighbor_id) AS rnk
      FROM dotg d JOIN pn p ON p.vec_id = d.neighbor_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    ),
    vol AS (
      SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM stages GROUP BY 1
    ),
    hits AS (
      SELECT r.stage,
             CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits
      FROM ranked r
      LEFT JOIN truth t ON t.query_id = r.query_id
                       AND t.neighbor_id = r.neighbor_id
      WHERE r.rnk <= {TOP_K}
      GROUP BY 1
    )
    SELECT h.stage,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           ROUND(CAST(v.n_candidates AS DOUBLE) / {N_QUERIES}, 6)
             AS mean_candidates,
           h.n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE) / ({N_QUERIES} * {TOP_K}), 6)
             AS recall_at_5
    FROM hits h JOIN vol v ON v.stage = h.stage
    ORDER BY h.stage
    """


@operator(
    "two_hop_expansion_ceiling",
    oracle=_TWO_HOP_ORACLE.replace("{SQL_PLANES}", _sql_planes())
    .replace("{SQL_CODES}", _SQL_CODES)
    .replace("{KNN_TRUTH}", _ORACLES["knn_bruteforce"]),
)
def two_hop_expansion_ceiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH -> +1-hop -> +2-hop candidate volume / recall curve (see
    staged block comment). The dims frame feeds the graph build, the
    norms, and both dot sides -> with_persisted; the kNN graph and the
    frontiers are MATERIALIZED (domain-sized: n*M edges, <= n*queries
    candidate rows) so the quadratic graph build runs exactly once —
    left lazy, every expansion stage and the stages union re-derive it
    and the plan snowballs to 40+ exchanges (caught by the staged plan
    audit, round 10)."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    e = _emb(spark, sf_dir)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    bucketed = _bucketed(e)
    with with_persisted(dims, bucketed) as (dims_p, bucketed_p):
        qb = bucketed_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "bucket"
        )
        cb = bucketed_p.select(F.col("vec_id").alias("neighbor_id"), "bucket")
        cand = (
            qb.join(cb, "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        da = dims_p.select(
            F.col("vec_id").alias("src"), "pos", F.col("xi").alias("xa")
        )
        db = dims_p.select(
            F.col("vec_id").alias("dst"),
            F.col("pos").alias("pos_b"),
            F.col("xi").alias("xb"),
        )
        diff = F.col("xa") - F.col("xb")
        gd = (
            da.join(
                db,
                (F.col("pos_b") == F.col("pos"))
                & (F.col("dst") != F.col("src")),
            )
            .groupBy("src", "dst")
            .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
        )
        wg = Window.partitionBy("src").orderBy("dd", "dst")
        g = materialize(
            gd.withColumn("rn", F.row_number().over(wg))
            .filter(F.col("rn") <= _GEXP_M)
            .select("src", "dst")
        )
        cand = materialize(cand)

        def expand(frontier: DataFrame) -> DataFrame:
            return (
                frontier.join(g, frontier.neighbor_id == g.src)
                .filter(F.col("dst") != F.col("query_id"))
                .select("query_id", F.col("dst").alias("neighbor_id"))
                .distinct()
            )

        front1 = materialize(cand.unionByName(expand(cand)).distinct())
        hop2 = expand(front1)
        # stage candidate sets NEST (a ⊆ b ⊆ c), so the expensive part
        # — the exact dot products — is computed ONCE over the c-stage
        # superset and each stage ranks its membership subset via
        # boolean flags (the matryoshka single-pass lesson: a
        # per-stage dot recompute tripled the (query, neighbor)
        # aggregation for identical pairs).
        pairs_c = materialize(front1.unionByName(hop2).distinct())
        in_a = cand.select(
            "query_id", "neighbor_id", F.lit(1).alias("flag_a")
        )
        in_b = front1.select(
            "query_id", "neighbor_id", F.lit(1).alias("flag_b")
        )
        pn = dims_p.groupBy("vec_id").agg(
            F.sum(F.col("xi") * F.col("xi")).cast("double").alias("cc")
        )
        dq = dims_p.select(
            F.col("vec_id").alias("query_id"), "pos", F.col("xi").alias("qi")
        )
        dn = dims_p.select(
            F.col("vec_id").alias("nb"),
            F.col("pos").alias("pos_n"),
            F.col("xi").alias("ni"),
        )
        dotg = (
            pairs_c.join(dq, "query_id")
            .join(
                dn,
                (F.col("pos_n") == F.col("pos"))
                & (F.col("nb") == F.col("neighbor_id")),
            )
            .groupBy("query_id", "neighbor_id")
            .agg(F.sum(F.col("qi") * F.col("ni")).cast("double").alias("dot"))
        )
        scored = (
            dotg.join(pn.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
            .join(F.broadcast(in_a), ["query_id", "neighbor_id"], "left")
            .join(F.broadcast(in_b), ["query_id", "neighbor_id"], "left")
            .withColumn(
                "sim",
                F.when(F.col("cc") == 0, F.lit(-2.0)).otherwise(
                    F.col("dot") / F.sqrt("cc")
                ),
            )
        )
        truth = knn_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id", F.lit(1).alias("is_true")
        )

        # ONE window ranks all three stages: because the sets nest, a
        # row's rank WITHIN stage s is the running count of s-members
        # at or above it in the shared (sim DESC, neighbor_id) order —
        # three running sums over one window spec instead of three
        # windows over three filtered frames.
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), "neighbor_id"
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        flagged = scored.select(
            "query_id",
            "neighbor_id",
            (F.sum(F.coalesce("flag_a", F.lit(0))).over(w)).alias("rnk_a"),
            (F.sum(F.coalesce("flag_b", F.lit(0))).over(w)).alias("rnk_b"),
            F.count(F.lit(1)).over(w).alias("rnk_c"),
            F.coalesce("flag_a", F.lit(0)).alias("fa"),
            F.coalesce("flag_b", F.lit(0)).alias("fb"),
        )
        ranked = flagged.select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"stack(3, "
                f"'a_lsh',  fa = 1 AND rnk_a <= {TOP_K}, "
                f"'b_1hop', fb = 1 AND rnk_b <= {TOP_K}, "
                f"'c_2hop', rnk_c <= {TOP_K}) AS (stage, in_top)"
            ),
        ).filter(F.col("in_top")).select("stage", "query_id", "neighbor_id")
        vol = (
            cand.select(F.lit("a_lsh").alias("stage"))
            .unionByName(front1.select(F.lit("b_1hop").alias("stage")))
            .unionByName(pairs_c.select(F.lit("c_2hop").alias("stage")))
            .groupBy("stage")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        )
        hits = (
            ranked.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("stage")
            .agg(
                F.sum(F.coalesce("is_true", F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
        )
        return materialize(
            hits.join(vol, "stage")
            .select(
                "stage",
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                F.round(
                    F.col("n_candidates").cast("double") / N_QUERIES, 6
                ).alias("mean_candidates"),
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / (N_QUERIES * TOP_K), 6
                ).alias("recall_at_5"),
            )
            .orderBy("stage")
        )


# --------------------------------------------------------------------------
# Quantization pareto table (ROADMAP round-12, pulled forward): the
# serving-config decision table — bytes per vector vs recall@5 —
# assembled from the verified quantization family on ONE axis:
# float32 prefixes (matryoshka d=8/16/32 -> 32/64/128 B), sign-bit
# symmetric Hamming (8 B), sign-bit asymmetric scoring (8 B, the
# query stays full precision), and the full-precision anchor
# (256 B, recall 1.0 against itself by definition). A platform reads
# this row set to pick an index layout; every recall number is the
# SAME differential-verified computation its source operator runs
# (the oracle composes those oracles verbatim).
# Scale: pure composition — each source op's audit contract applies;
# the assembly itself is a unionByName of one-row/three-row frames.
# --------------------------------------------------------------------------
def _pareto_oracle() -> str:
    asym = _ASYM_BINQ_ORACLE.replace(
        "{KNN_TRUTH}", _ORACLES["knn_bruteforce"]
    )
    matry = _MATRYOSHKA_ORACLE.replace(
        "{KNN_TRUTH}", _ORACLES["knn_bruteforce"]
    )
    return f"""
    WITH m AS ({matry}), a AS ({asym})
    SELECT config, bytes_per_vec, recall_at_5 FROM (
      SELECT 'a_full_f32' AS config, CAST(256 AS BIGINT) AS bytes_per_vec,
             CAST(1.0 AS DOUBLE) AS recall_at_5
      UNION ALL
      SELECT 'b_matryoshka_d' || CAST(d_prefix AS VARCHAR),
             CAST(d_prefix * 4 AS BIGINT), recall_at_5
      FROM m
      UNION ALL
      SELECT 'c_binary_asym', CAST(8 AS BIGINT), recall_asym FROM a
      UNION ALL
      SELECT 'd_binary_sym', CAST(8 AS BIGINT), recall_sym FROM a
    ) ORDER BY config
    """


@operator("quantization_pareto_table", oracle=_pareto_oracle())
def quantization_pareto_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bytes/vector vs recall@5 across the verified quantization
    family (see block comment)."""
    m = matryoshka_recall_sweep(spark, sf_dir).select(
        F.concat(
            F.lit("b_matryoshka_d"), F.col("d_prefix").cast("string")
        ).alias("config"),
        (F.col("d_prefix") * 4).cast("bigint").alias("bytes_per_vec"),
        "recall_at_5",
    )
    a = asymmetric_binary_retrieval(spark, sf_dir)
    asym = a.select(
        F.lit("c_binary_asym").alias("config"),
        F.lit(8).cast("bigint").alias("bytes_per_vec"),
        F.col("recall_asym").alias("recall_at_5"),
    )
    sym = a.select(
        F.lit("d_binary_sym").alias("config"),
        F.lit(8).cast("bigint").alias("bytes_per_vec"),
        F.col("recall_sym").alias("recall_at_5"),
    )
    anchor = local_frame(
        spark, [("a_full_f32", 256, 1.0)],
        "config string, bytes_per_vec long, recall_at_5 double",
    )
    return (
        anchor.unionByName(m).unionByName(asym).unionByName(sym)
        .orderBy("config")
    )


# --------------------------------------------------------------------------
# Multiprobe schedule advisor (ROADMAP round-12, pulled forward): the
# probe/recall dial behind knn_lsh_multiprobe, emitted as the
# schedule a query planner reads — per probe radius r (hamming
# distance between sign codes, r = 0/1/2): mean candidate volume and
# recall@5 against the brute-force truth. Radius-r candidate sets
# NEST (r=0 ⊆ r<=1 ⊆ r<=2), so the exact dots are computed ONCE over
# the r<=2 superset and each radius ranks its membership subset via
# running sums in ONE window (the two_hop_expansion_ceiling pattern).
# Per-pair membership comes from d_min = MIN over tables of
# bit_count(code_q XOR code_c) — bit-identical across engines via the
# shared hyperplane constants.
# Scale: the (query x corpus x table) code join is N_QUERIES-bounded
# on the probe side (the corpus side carries one row per (vector,
# table), the knn_lsh_multiprobe posture); dots follow the audit
# contract of the other recall sweeps.
# --------------------------------------------------------------------------
_PROBE_RADII = [0, 1, 2]

_PROBE_SCHEDULE_ORACLE = f"""
    WITH {{SQL_PLANES}},
    {{SQL_CODES}},
    dmin AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             MIN(bit_count(xor(q.code, c.code))) AS d_min
      FROM codes q JOIN codes c ON q.t = c.t AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    cand AS (SELECT * FROM dmin WHERE d_min <= {max(_PROBE_RADII)}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dims AS (
      SELECT vec_id, generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    pn AS (
      SELECT vec_id, CAST(SUM(xi * xi) AS DOUBLE) AS cc
      FROM dims GROUP BY 1
    ),
    dotg AS (
      SELECT s.query_id, s.neighbor_id, s.d_min,
             CAST(SUM(dq.xi * dn.xi) AS DOUBLE) AS dot
      FROM cand s
      JOIN dims dq ON dq.vec_id = s.query_id
      JOIN dims dn ON dn.vec_id = s.neighbor_id AND dn.pos = dq.pos
      GROUP BY 1, 2, 3
    ),
    rr(probe_radius) AS (VALUES
      {", ".join(f"({r})" for r in _PROBE_RADII)}
    ),
    ranked AS (
      SELECT rr.probe_radius, d.query_id, d.neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY rr.probe_radius, d.query_id
               ORDER BY CASE WHEN p.cc = 0 THEN CAST(-2.0 AS DOUBLE)
                        ELSE d.dot / sqrt(p.cc) END DESC,
                        d.neighbor_id) AS rnk
      FROM dotg d
      JOIN pn p ON p.vec_id = d.neighbor_id
      JOIN rr ON d.d_min <= rr.probe_radius
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM ({{KNN_TRUTH}})
    ),
    vol AS (
      SELECT rr.probe_radius, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM dmin d JOIN rr ON d.d_min <= rr.probe_radius
      GROUP BY 1
    ),
    hits AS (
      SELECT r.probe_radius,
             CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits
      FROM ranked r
      LEFT JOIN truth t ON t.query_id = r.query_id
                       AND t.neighbor_id = r.neighbor_id
      WHERE r.rnk <= {TOP_K}
      GROUP BY 1
    )
    SELECT CAST(h.probe_radius AS BIGINT) AS probe_radius,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           ROUND(CAST(v.n_candidates AS DOUBLE) / {N_QUERIES}, 6)
             AS mean_candidates,
           h.n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE) / ({N_QUERIES} * {TOP_K}), 6)
             AS recall_at_5
    FROM hits h JOIN vol v ON v.probe_radius = h.probe_radius
    ORDER BY probe_radius
    """


@operator(
    "multiprobe_schedule_advisor",
    oracle=_PROBE_SCHEDULE_ORACLE.replace("{SQL_PLANES}", _sql_planes())
    .replace("{SQL_CODES}", _SQL_CODES)
    .replace("{KNN_TRUTH}", _ORACLES["knn_bruteforce"]),
)
def multiprobe_schedule_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Probe-radius / recall schedule (see block comment: superset
    dots once, nested radii ranked in one window)."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

    e = _emb(spark, sf_dir)
    bucketed = _bucketed(e)
    grid = F.round(F.col("x") * 1000000).cast("bigint")
    dims = e.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), grid.alias("xi"))
    with with_persisted(dims) as dims_p:
        qc = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("bucket.t").alias("t"),
            F.col("bucket.code").alias("qcode"),
        )
        cc_ = bucketed.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("bucket.t").alias("t"),
            F.col("bucket.code").alias("ccode"),
        )
        dmin = materialize(
            F.broadcast(qc)
            .join(cc_, "t")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.min(
                    F.bit_count(
                        F.col("qcode").bitwiseXOR(F.col("ccode"))
                    )
                ).alias("d_min")
            )
        )
        rmax = max(_PROBE_RADII)
        cand = dmin.filter(F.col("d_min") <= rmax)
        dq = dims_p.select(
            F.col("vec_id").alias("query_id"), "pos", F.col("xi").alias("qi")
        )
        dn = dims_p.select(
            F.col("vec_id").alias("nb"),
            F.col("pos").alias("pos_n"),
            F.col("xi").alias("ni"),
        )
        pn = dims_p.groupBy("vec_id").agg(
            F.sum(F.col("xi") * F.col("xi")).cast("double").alias("cc")
        )
        dotg = (
            cand.join(dq, "query_id")
            .join(
                dn,
                (F.col("pos_n") == F.col("pos"))
                & (F.col("nb") == F.col("neighbor_id")),
            )
            .groupBy("query_id", "neighbor_id", "d_min")
            .agg(F.sum(F.col("qi") * F.col("ni")).cast("double").alias("dot"))
        )
        scored = dotg.join(
            pn.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        ).withColumn(
            "sim",
            F.when(F.col("cc") == 0, F.lit(-2.0)).otherwise(
                F.col("dot") / F.sqrt("cc")
            ),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), "neighbor_id"
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        flags = scored.select(
            "query_id",
            "neighbor_id",
            *[
                F.sum((F.col("d_min") <= r).cast("long"))
                .over(w)
                .alias(f"rnk_{r}")
                for r in _PROBE_RADII
            ],
            *[
                (F.col("d_min") <= r).cast("int").alias(f"in_{r}")
                for r in _PROBE_RADII
            ],
        )
        stack_expr = ", ".join(
            f"CAST({r} AS BIGINT), in_{r} = 1 AND rnk_{r} <= {TOP_K}"
            for r in _PROBE_RADII
        )
        ranked = flags.select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"stack({len(_PROBE_RADII)}, {stack_expr})"
                " AS (probe_radius, in_top)"
            ),
        ).filter(F.col("in_top")).select(
            "probe_radius", "query_id", "neighbor_id"
        )
        truth = knn_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id", F.lit(1).alias("is_true")
        )
        rr = local_frame(
            spark, [(r,) for r in _PROBE_RADII], "probe_radius long"
        )
        vol = (
            dmin.crossJoin(F.broadcast(rr))
            .filter(F.col("d_min") <= F.col("probe_radius"))
            .groupBy("probe_radius")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        )
        hits = (
            ranked.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("probe_radius")
            .agg(
                F.sum(F.coalesce("is_true", F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
        )
        return materialize(
            hits.join(vol, "probe_radius")
            .select(
                F.col("probe_radius").cast("bigint").alias("probe_radius"),
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                F.round(
                    F.col("n_candidates").cast("double") / N_QUERIES, 6
                ).alias("mean_candidates"),
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / (N_QUERIES * TOP_K), 6
                ).alias("recall_at_5"),
            )
            .orderBy("probe_radius")
        )


# --------------------------------------------------------------------------
# PQ asymmetric-distance recall (ROADMAP round-12, pulled forward;
# completes the quantization family): corpus vectors compress to
# their PQ codes (embedding_pq_assign's codebook + assignment — 4
# subspaces x 4 bits = 2 bytes/vector), queries stay full precision,
# and retrieval ranks by ADC — sum over subspaces of ||q_sub -
# centroid(code)||^2, the table-lookup distance IVFADC serves
# (Jegou et al. 2011). Recall@5 against the EXACT L2 truth (the
# canonical ADC benchmark; the cosine-truth family row lives in
# quantization_pareto_table). All distances are exact grid-integer
# sums; ranking ties break on neighbor_id. Audit-scale: quadratic
# truth bounded by N_QUERIES, the recall-sweep contract.
# --------------------------------------------------------------------------
_PQ_ADC_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id,
             ((generate_subscripts(e, 1) - 1) * {_PQ_SUB}) // {_PQ_DIM}
               AS sub,
             generate_subscripts(e, 1) AS pos,
             CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
      FROM v
    ),
    codebook AS (
      SELECT vec_id AS code, ((pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             pos, xi AS ci
      FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                   CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
            FROM v WHERE vec_id < {_PQ_K}) t
    ),
    dist AS (
      SELECT d.vec_id, d.sub, cb.code,
             CAST(SUM((d.xi - cb.ci) * (d.xi - cb.ci)) AS BIGINT) AS dd
      FROM dims d
      JOIN codebook cb ON cb.pos = d.pos AND cb.sub = d.sub
      GROUP BY 1, 2, 3
    ),
    assigned AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(SUM((q.xi - cb.ci) * (q.xi - cb.ci)) AS BIGINT) AS dd
      FROM assigned a
      JOIN codebook cb ON cb.sub = a.sub AND cb.code = a.code
      JOIN dims q ON q.pos = cb.pos AND q.vec_id <> a.vec_id
      WHERE q.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    top_adc AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dd, neighbor_id) AS rnk
        FROM adc
      ) WHERE rnk <= {TOP_K}
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
    )
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST(2 AS BIGINT) AS bytes_per_vec,
           CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits,
           ROUND(CAST(count_if(t.neighbor_id IS NOT NULL) AS DOUBLE)
                 / ({N_QUERIES} * {TOP_K}), 6) AS recall_at_5
    FROM top_adc a
    LEFT JOIN truth t ON t.query_id = a.query_id
                     AND t.neighbor_id = a.neighbor_id
    """


@operator("pq_adc_recall", oracle=_PQ_ADC_ORACLE)
def pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ table-lookup (ADC) retrieval vs exact-L2 truth (see block
    comment). The dims frame feeds the assignment, the query side,
    and the exact truth -> with_persisted + materialize."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

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
        codebook = (
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
        diff = F.col("xi") - F.col("ci")
        dist = (
            dims_p.join(
                F.broadcast(codebook),
                (F.col("cb_pos") == F.col("pos"))
                & (F.col("cb_sub") == F.col("sub")),
            )
            .groupBy("vec_id", "sub", F.col("cb_code").alias("code"))
            .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
        )
        wa = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
        assigned = materialize(
            dist.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("vec_id", "sub", "code")
        )
        qd = dims_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("pos").alias("q_pos"),
            F.col("xi").alias("qi"),
        )
        adc = (
            assigned.join(
                F.broadcast(codebook),
                (F.col("cb_sub") == F.col("sub"))
                & (F.col("cb_code") == F.col("code")),
            )
            .join(
                F.broadcast(qd),
                (F.col("q_pos") == F.col("cb_pos"))
                & (F.col("query_id") != F.col("vec_id")),
            )
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(
                F.sum((F.col("qi") - F.col("ci")) * (F.col("qi") - F.col("ci")))
                .cast("bigint")
                .alias("dd")
            )
        )
        wr = Window.partitionBy("query_id").orderBy("dd", "neighbor_id")
        top_adc = adc.withColumn("rnk", F.row_number().over(wr)).filter(
            F.col("rnk") <= TOP_K
        )
        qx = dims_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "pos", F.col("xi").alias("qi")
        )
        cx = dims_p.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("pos").alias("pos_c"),
            F.col("xi").alias("ci2"),
        )
        exact = (
            F.broadcast(qx)
            .join(cx, F.col("pos_c") == F.col("pos"))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.sum(
                    (F.col("qi") - F.col("ci2")) * (F.col("qi") - F.col("ci2"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        truth = (
            exact.withColumn("rnk", F.row_number().over(wr))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id", F.lit(1).alias("is_true"))
        )
        return materialize(
            top_adc.join(truth, ["query_id", "neighbor_id"], "left")
            .agg(
                F.sum(F.coalesce("is_true", F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
            .select(
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                F.lit(2).cast("bigint").alias("bytes_per_vec"),
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / (N_QUERIES * TOP_K), 6
                ).alias("recall_at_5"),
            )
        )


# --------------------------------------------------------------------------
# IVF-ADC end-to-end (ROADMAP round-12, pulled forward; the capstone
# composition of the serving stack): coarse IVF cell probe (the
# kmeans_step seed convention) + PQ table-lookup ADC ranking inside
# the probed cells (the pq_adc_recall machinery) — i.e. IVFADC
# proper (Jegou et al. 2011), the index layout a billion-vector
# platform actually serves. Per nprobe in {1, 2, 4}: mean candidate
# volume and recall@5 against the exact-L2 truth, isolating the
# COMPOUND loss (cell miss x quantization) that neither
# ivf_nprobe_recall_sweep (exact ranking in probed cells) nor
# pq_adc_recall (ADC over ALL cells) shows alone.
# Determinism: a pair's "probe level needed" = the rank of the
# neighbor's cell in the query's cell-distance ordering — computed
# ONCE per pair; nprobe sets NEST, so ONE superset ADC pass and ONE
# rank window with running membership sums serve all rows (the
# multiprobe_schedule_advisor pattern). All distances exact
# grid-integer sums; ties on neighbor_id. Audit-scale: quadratic
# truth bounded by N_QUERIES.
#
# Plan posture (staged audit, round 10): ~17 exchanges — high for the
# registry but each stage runs ONCE on a bounded/materialized frame:
# the coarse cell assignment, the PQ codebook assignment, the need-
# probe pair table, one superset ADC pass, one rank window, and the
# composed exact-L2 truth. Observed content is an HONEST NEGATIVE on
# this corpus: recall FALLS with nprobe (0.36 -> 0.32) because the
# 16-centroid toy codebook's quantization noise admits imposters as
# the pool widens — pinned in pytest as a regime detector.
# --------------------------------------------------------------------------
_IVF_ADC_PROBES = [1, 2, 4]

_IVF_ADC_ORACLE = f"""
    WITH {{IVF_CTES}},
    codebook AS (
      SELECT vec_id AS code, ((pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             pos, xi AS ci
      FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                   CAST(ROUND(UNNEST(e) * 1000000) AS BIGINT) AS xi
            FROM v WHERE vec_id < {_PQ_K}) t
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
    qcells AS (
      SELECT vec_id AS query_id, k,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dd, k) AS cell_rnk
      FROM dist WHERE vec_id < {N_QUERIES}
    ),
    need AS (
      SELECT qc.query_id, ac.vec_id AS neighbor_id,
             MIN(qc.cell_rnk) AS need_probe
      FROM qcells qc
      JOIN assigned ac ON ac.k = qc.k
      WHERE ac.vec_id <> qc.query_id
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT n.query_id, n.neighbor_id, n.need_probe,
             CAST(SUM((q.xi - cb.ci) * (q.xi - cb.ci)) AS BIGINT) AS dd
      FROM need n
      JOIN pq_assigned a ON a.vec_id = n.neighbor_id
      JOIN codebook cb ON cb.sub = a.sub AND cb.code = a.code
      JOIN dims q ON q.vec_id = n.query_id AND q.pos = cb.pos
      WHERE n.need_probe <= {max(_IVF_ADC_PROBES)}
      GROUP BY 1, 2, 3
    ),
    pr(nprobe) AS (VALUES {", ".join(f"({p})" for p in _IVF_ADC_PROBES)}),
    ranked AS (
      SELECT pr.nprobe, a.query_id, a.neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY pr.nprobe, a.query_id
                                ORDER BY a.dd, a.neighbor_id) AS rnk
      FROM adc a JOIN pr ON a.need_probe <= pr.nprobe
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
    vol AS (
      SELECT pr.nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM need n JOIN pr ON n.need_probe <= pr.nprobe
      GROUP BY 1
    ),
    hits AS (
      SELECT r.nprobe,
             CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT) AS n_hits
      FROM ranked r
      LEFT JOIN truth t ON t.query_id = r.query_id
                       AND t.neighbor_id = r.neighbor_id
      WHERE r.rnk <= {TOP_K}
      GROUP BY 1
    )
    SELECT CAST(h.nprobe AS BIGINT) AS nprobe,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           ROUND(CAST(v.n_candidates AS DOUBLE) / {N_QUERIES}, 6)
             AS mean_candidates,
           h.n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE) / ({N_QUERIES} * {TOP_K}), 6)
             AS recall_at_5
    FROM hits h JOIN vol v ON v.nprobe = h.nprobe
    ORDER BY nprobe
    """


@operator(
    "ivf_adc_recall",
    oracle=_IVF_ADC_ORACLE.replace("{IVF_CTES}", _IVF_CTES),
)
def ivf_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC: coarse cell probe + PQ table-lookup ranking (see block
    comment — one superset ADC pass, nested nprobe levels in one
    window)."""
    from bigdataentrytask_spark.operators import materialize, with_persisted

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
        cdist = (
            dims_p.join(F.broadcast(seeds), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(
                F.sum((F.col("xi") - F.col("si")) * (F.col("xi") - F.col("si")))
                .cast("bigint")
                .alias("dd")
            )
        )
        wc = Window.partitionBy("vec_id").orderBy("dd", "k")
        cell_rank = cdist.withColumn("rn", F.row_number().over(wc))
        assigned_cell = materialize(
            cell_rank.filter(F.col("rn") == 1).select("vec_id", "k")
        )
        qcells = materialize(
            cell_rank.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"),
                "k",
                F.col("rn").alias("cell_rnk"),
            )
        )
        need = materialize(
            qcells.join(
                assigned_cell.withColumnRenamed("vec_id", "neighbor_id"), "k"
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.min("cell_rnk").alias("need_probe"))
        )
        codebook = (
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
        pq_dist = (
            dims_p.join(
                F.broadcast(codebook),
                (F.col("cb_pos") == F.col("pos"))
                & (F.col("cb_sub") == F.col("sub")),
            )
            .groupBy("vec_id", "sub", F.col("cb_code").alias("code"))
            .agg(
                F.sum((F.col("xi") - F.col("ci")) * (F.col("xi") - F.col("ci")))
                .cast("bigint")
                .alias("dd")
            )
        )
        wp = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
        pq_assigned = materialize(
            pq_dist.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") == 1)
            .select("vec_id", "sub", "code")
        )
        rmax = max(_IVF_ADC_PROBES)
        qd = dims_p.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_qid"),
            F.col("pos").alias("q_pos"),
            F.col("xi").alias("qi"),
        )
        adc = (
            need.filter(F.col("need_probe") <= rmax)
            .join(
                pq_assigned.withColumnRenamed("vec_id", "neighbor_id"),
                "neighbor_id",
            )
            .join(
                F.broadcast(codebook),
                (F.col("cb_sub") == F.col("sub"))
                & (F.col("cb_code") == F.col("code")),
            )
            .join(
                F.broadcast(qd),
                (F.col("q_pos") == F.col("cb_pos"))
                & (F.col("q_qid") == F.col("query_id")),
            )
            .groupBy("query_id", "neighbor_id", "need_probe")
            .agg(
                F.sum((F.col("qi") - F.col("ci")) * (F.col("qi") - F.col("ci")))
                .cast("bigint")
                .alias("dd")
            )
        )
        wr = Window.partitionBy("query_id").orderBy(
            "dd", "neighbor_id"
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        flags = adc.select(
            "query_id",
            "neighbor_id",
            *[
                F.sum((F.col("need_probe") <= p).cast("long"))
                .over(wr)
                .alias(f"rnk_{p}")
                for p in _IVF_ADC_PROBES
            ],
            *[
                (F.col("need_probe") <= p).cast("int").alias(f"in_{p}")
                for p in _IVF_ADC_PROBES
            ],
        )
        stack_expr = ", ".join(
            f"CAST({p} AS BIGINT), in_{p} = 1 AND rnk_{p} <= {TOP_K}"
            for p in _IVF_ADC_PROBES
        )
        ranked = flags.select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"stack({len(_IVF_ADC_PROBES)}, {stack_expr})"
                " AS (nprobe, in_top)"
            ),
        ).filter(F.col("in_top")).select("nprobe", "query_id", "neighbor_id")
        cx = dims_p.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("pos").alias("pos_c"),
            F.col("xi").alias("ci2"),
        )
        exact = (
            F.broadcast(
                dims_p.filter(F.col("vec_id") < N_QUERIES).select(
                    F.col("vec_id").alias("query_id"),
                    "pos",
                    F.col("xi").alias("qi"),
                )
            )
            .join(cx, F.col("pos_c") == F.col("pos"))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.sum(
                    (F.col("qi") - F.col("ci2")) * (F.col("qi") - F.col("ci2"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        wt = Window.partitionBy("query_id").orderBy("dd", "neighbor_id")
        truth = (
            exact.withColumn("rnk", F.row_number().over(wt))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id", F.lit(1).alias("is_true"))
        )
        pr = local_frame(
            spark, [(p,) for p in _IVF_ADC_PROBES], "nprobe long"
        )
        vol = (
            need.crossJoin(F.broadcast(pr))
            .filter(F.col("need_probe") <= F.col("nprobe"))
            .groupBy("nprobe")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        )
        hits = (
            ranked.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("nprobe")
            .agg(
                F.sum(F.coalesce("is_true", F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
        )
        return materialize(
            hits.join(vol, "nprobe")
            .select(
                F.col("nprobe").cast("bigint").alias("nprobe"),
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                F.round(
                    F.col("n_candidates").cast("double") / N_QUERIES, 6
                ).alias("mean_candidates"),
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / (N_QUERIES * TOP_K), 6
                ).alias("recall_at_5"),
            )
            .orderBy("nprobe")
        )
