"""Similarity package: the residual-PQ 2x2 completion (split from
codebook.py at a section boundary; zero behavior change):
ivf_adc_refined_joint_recall, residual_pq_refined_cells,
residual_adc_recall, residual_code_utilization and adc_recall_tail."""

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
from bigdataentrytask_spark.operators import ORACLES as _REG_ORACLES  # noqa: E402

from bigdataentrytask_spark.operators.similarity.codebook import (  # noqa: E402
    _IVF_ADC_PROBES,
)


# --------------------------------------------------------------------------
# IVFADC 2x2 completion — refined cells x refined codebook (ROADMAP
# round-14 "Retrieval"): the refinement chain priced each axis alone
# (ivf_adc_lloyd_recall: toy cells + 1-Lloyd-step PQ codebook;
# ivf_cell_lloyd_probe: 1-Lloyd-step cells, coverage-only). This op
# fills the missing quadrant: ONE Lloyd step on the COARSE CELLS
# (toy assign -> per-cell per-dim integer-grid mean -> reassign) AND
# the one-step-refined PQ codebook, then the identical superset-ADC /
# nested-rank nprobe sweep — so row-by-row diffs against
# ivf_adc_recall (toy x toy) and ivf_adc_lloyd_recall (toy cells x
# refined codebook) pin whether the two refinements COMPOSE or
# overlap. Output schema matches both siblings exactly (nprobe,
# n_queries, mean_candidates, n_hits, recall_at_5).
# Exact math: grid-integer distances end to end; refined centroids
# and codewords are ROUND(mean) on exact integer sums (both engines
# round the identical double); the only other doubles are the two
# final ratio roundings.
# Scale posture: identical to ivf_adc_lloyd_recall plus one extra
# assignment pass (the cell Lloyd step) — centroid/codebook sides
# stay K x dim broadcast rows, candidate work stays
# need_probe-bounded.
# --------------------------------------------------------------------------
_IVF_ADC_2X2_ORACLE = f"""
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
    "ivf_adc_refined_joint_recall",
    oracle=_IVF_ADC_2X2_ORACLE.replace("{IVF_CTES}", _IVF_CTES),
)
def ivf_adc_refined_joint_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVFADC nprobe sweep under BOTH one-Lloyd-step refinements —
    coarse cells and PQ codebook — completing the 2x2 (see block
    comment; plan = ivf_adc_lloyd_recall plus one cell reassignment
    pass)."""
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
        cdist0 = (
            dims_p.join(F.broadcast(seeds), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("si")) * (F.col("xi") - F.col("si"))
                )
                .cast("bigint")
                .alias("dd")
            )
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
            .agg(
                F.sum(
                    (F.col("xi") - F.col("si")) * (F.col("xi") - F.col("si"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
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
                assigned_cell.withColumnRenamed("vec_id", "neighbor_id"),
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
        codebook = (
            cb0.join(refined, ["cb_sub", "cb_code", "cb_pos"], "left")
            .select(
                "cb_code",
                "cb_sub",
                "cb_pos",
                F.coalesce("r_ci", "ci").alias("ci"),
            )
        )
        pq_assigned = pq_assign(codebook)
        rmax = max(_IVF_ADC_PROBES)
        adc = (
            need.filter(F.col("need_probe") <= rmax)
            .join(
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
            .groupBy("query_id", "neighbor_id", "need_probe")
            .agg(
                F.sum(
                    (F.col("xi") - F.col("ci")) * (F.col("xi") - F.col("ci"))
                )
                .cast("bigint")
                .alias("dd")
            )
        )
        pr = local_frame(
            spark, [(p,) for p in _IVF_ADC_PROBES], "nprobe long"
        )
        ranked = (
            adc.crossJoin(F.broadcast(pr))
            .filter(F.col("need_probe") <= F.col("nprobe"))
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("nprobe", "query_id").orderBy(
                        "dd", "neighbor_id"
                    )
                ),
            )
            .filter(F.col("rnk") <= TOP_K)
        )
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
                    (F.col("xi") - F.col("ci")) * (F.col("xi") - F.col("ci"))
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


# --------------------------------------------------------------------------
# Residual-PQ under refined cells (ROADMAP round-14 "Retrieval"):
# residual_pq_distortion pinned an honest NEGATIVE gain — two-level
# quantization loses to flat PQ on this near-isotropic corpus — but
# its residuals came from the WEAK first-K coarse seeds. One cell-
# Lloyd step shrinks the coarse distortion (ivf_cell_lloyd_probe
# prices it), which shrinks residual variance; this op re-prices the
# residual-vs-flat trade under the REFINED cells and answers the
# queued question directly: does the sign flip? Per subspace: flat-PQ
# error (the unchanged baseline), the toy-seed residual error (the
# original op's column, recomputed in the same pass for a same-query
# diff), the refined-cell residual error, both gains, and the
# sign_flipped flag (toy gain <= 0 < refined gain).
# Exact math: refined centroids are ROUND(mean) on exact integer
# sums, so refined residuals stay grid integers and every distance
# is exact; per-subspace sums go through the module's canonical
# decimal(19,0) before the final double casts.
# Scale posture: residual_pq_distortion's plan plus one extra
# assignment pass and one extra residual branch — dimension-level
# rows, broadcast codebooks, bounded argmin windows.
# --------------------------------------------------------------------------
_RPQ_REFINED_ORACLE = f"""
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
    cent AS (
      SELECT a.k, d.pos,
             CAST(ROUND(SUM(d.xi) * 1.0 / COUNT(*)) AS BIGINT) AS si
      FROM cassign a JOIN dims d ON d.vec_id = a.vec_id
      GROUP BY a.k, d.pos
    ),
    cdist2 AS (
      SELECT d.vec_id, c.k,
             CAST(SUM((d.xi - c.si) * (d.xi - c.si)) AS BIGINT) AS dd
      FROM dims d JOIN cent c ON c.pos = d.pos
      GROUP BY d.vec_id, c.k
    ),
    cassign2 AS (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, k) AS rn
        FROM cdist2
      ) WHERE rn = 1
    ),
    resid AS (
      SELECT d.vec_id, d.pos, d.sub, d.xi - se.si AS ri
      FROM dims d
      JOIN cassign a ON a.vec_id = d.vec_id
      JOIN seeds se ON se.k = a.k AND se.pos = d.pos
    ),
    resid2 AS (
      SELECT d.vec_id, d.pos, d.sub, d.xi - c.si AS ri
      FROM dims d
      JOIN cassign2 a ON a.vec_id = d.vec_id
      JOIN cent c ON c.k = a.k AND c.pos = d.pos
    ),
    rcode AS (
      SELECT vec_id AS code, sub, pos, ri AS ci
      FROM resid WHERE vec_id < {_PQ_K}
    ),
    rcode2 AS (
      SELECT vec_id AS code, sub, pos, ri AS ci
      FROM resid2 WHERE vec_id < {_PQ_K}
    ),
    rdist AS (
      SELECT r.vec_id, r.sub, c.code,
             CAST(SUM((r.ri - c.ci) * (r.ri - c.ci)) AS BIGINT) AS dd
      FROM resid r JOIN rcode c ON c.pos = r.pos AND c.sub = r.sub
      GROUP BY 1, 2, 3
    ),
    rdist2 AS (
      SELECT r.vec_id, r.sub, c.code,
             CAST(SUM((r.ri - c.ci) * (r.ri - c.ci)) AS BIGINT) AS dd
      FROM resid2 r JOIN rcode2 c ON c.pos = r.pos AND c.sub = r.sub
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
    rbest2 AS (
      SELECT vec_id, sub, dd FROM (
        SELECT vec_id, sub, dd,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM rdist2
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
             SUM(r.dd::HUGEINT) AS res_toy_g,
             SUM(r2.dd::HUGEINT) AS res_lloyd_g
      FROM fbest f
      JOIN rbest r ON r.vec_id = f.vec_id AND r.sub = f.sub
      JOIN rbest2 r2 ON r2.vec_id = f.vec_id AND r2.sub = f.sub
      GROUP BY 1
    )
    SELECT CAST(sub AS BIGINT) AS sub,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           ROUND(CAST(flat_g AS DOUBLE) / 1e12, 4) AS flat_sq_error,
           ROUND(CAST(res_toy_g AS DOUBLE) / 1e12, 4)
             AS resid_toy_sq_error,
           ROUND(CAST(res_lloyd_g AS DOUBLE) / 1e12, 4)
             AS resid_lloyd_sq_error,
           CAST(ROUND((CAST(flat_g AS DOUBLE) - CAST(res_toy_g AS DOUBLE))
                      * 1000000.0 / CAST(flat_g AS DOUBLE)) AS BIGINT)
             AS gain_toy_ppm,
           CAST(ROUND((CAST(flat_g AS DOUBLE)
                       - CAST(res_lloyd_g AS DOUBLE))
                      * 1000000.0 / CAST(flat_g AS DOUBLE)) AS BIGINT)
             AS gain_lloyd_ppm,
           (CAST(ROUND((CAST(flat_g AS DOUBLE)
                        - CAST(res_toy_g AS DOUBLE))
                       * 1000000.0 / CAST(flat_g AS DOUBLE)) AS BIGINT)
              <= 0
            AND CAST(ROUND((CAST(flat_g AS DOUBLE)
                            - CAST(res_lloyd_g AS DOUBLE))
                           * 1000000.0 / CAST(flat_g AS DOUBLE))
                     AS BIGINT) > 0) AS sign_flipped
    FROM agg ORDER BY sub
    """


@operator("residual_pq_refined_cells", oracle=_RPQ_REFINED_ORACLE)
def residual_pq_refined_cells(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Residual-PQ distortion under one-Lloyd-step coarse cells, with
    the toy-seed residual and flat-PQ baselines in the same pass and
    the sign-flip verdict per subspace (see block comment)."""
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
    d19 = "decimal(19,0)"
    with with_persisted(dims) as dims_p:
        seeds = dims_p.filter(F.col("vec_id") < KMEANS_K).select(
            F.col("vec_id").alias("k"),
            F.col("pos").alias("s_pos"),
            F.col("xi").alias("si"),
        )
        sqd = (F.col("xi") - F.col("si")) * (F.col("xi") - F.col("si"))
        cdist = (
            dims_p.join(F.broadcast(seeds), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(F.sum(sqd).cast("bigint").alias("dd"))
        )
        wv = Window.partitionBy("vec_id").orderBy("dd", "k")
        cassign = (
            cdist.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("k").alias("ck"))
        )
        cent = (
            cassign.join(dims_p, "vec_id")
            .groupBy(F.col("ck").alias("k"), F.col("pos").alias("s_pos"))
            .agg(
                F.round(F.sum("xi") * 1.0 / F.count(F.lit(1)))
                .cast("bigint")
                .alias("si")
            )
        )
        cdist2 = (
            dims_p.join(F.broadcast(cent), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(F.sum(sqd).cast("bigint").alias("dd"))
        )
        cassign2 = (
            cdist2.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("k").alias("ck"))
        )

        def resid_of(assign_df, cent_df):
            return (
                dims_p.join(assign_df, "vec_id")
                .join(
                    F.broadcast(cent_df),
                    (F.col("s_pos") == F.col("pos"))
                    & (F.col("k") == F.col("ck")),
                )
                .select(
                    "vec_id", "pos", "sub",
                    (F.col("xi") - F.col("si")).alias("ri"),
                )
            )

        def best_of(resid_p):
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
            return (
                rdist.withColumn("rn", F.row_number().over(ws))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", "dd")
            )

        seeds_c = seeds.select(
            "k", "s_pos", "si"
        )
        with with_persisted(resid_of(cassign, seeds_c)) as resid_toy:
            with with_persisted(resid_of(cassign2, cent)) as resid_ll:
                rbest = best_of(resid_toy).select(
                    "vec_id", "sub", F.col("dd").alias("rdd")
                )
                rbest2 = best_of(resid_ll).select(
                    "vec_id", "sub", F.col("dd").alias("r2dd")
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
                wsb = Window.partitionBy("vec_id", "sub").orderBy(
                    "dd", "code"
                )
                fbest = (
                    fdist.withColumn("rn", F.row_number().over(wsb))
                    .filter(F.col("rn") == 1)
                    .select("vec_id", "sub", F.col("dd").alias("fdd"))
                )
                agg = (
                    fbest.join(rbest, ["vec_id", "sub"])
                    .join(rbest2, ["vec_id", "sub"])
                    .groupBy("sub")
                    .agg(
                        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                        F.sum(F.col("fdd").cast(d19))
                        .cast("double")
                        .alias("flat_g"),
                        F.sum(F.col("rdd").cast(d19))
                        .cast("double")
                        .alias("res_toy_g"),
                        F.sum(F.col("r2dd").cast(d19))
                        .cast("double")
                        .alias("res_lloyd_g"),
                    )
                )
                gain_toy = F.round(
                    (F.col("flat_g") - F.col("res_toy_g"))
                    * 1000000.0
                    / F.col("flat_g")
                ).cast("bigint")
                gain_ll = F.round(
                    (F.col("flat_g") - F.col("res_lloyd_g"))
                    * 1000000.0
                    / F.col("flat_g")
                ).cast("bigint")
                return materialize(
                    agg.select(
                        F.col("sub").cast("bigint").alias("sub"),
                        "n_vecs",
                        F.round(F.col("flat_g") / 1e12, 4).alias(
                            "flat_sq_error"
                        ),
                        F.round(F.col("res_toy_g") / 1e12, 4).alias(
                            "resid_toy_sq_error"
                        ),
                        F.round(F.col("res_lloyd_g") / 1e12, 4).alias(
                            "resid_lloyd_sq_error"
                        ),
                        gain_toy.alias("gain_toy_ppm"),
                        gain_ll.alias("gain_lloyd_ppm"),
                        ((gain_toy <= 0) & (gain_ll > 0)).alias(
                            "sign_flipped"
                        ),
                    ).orderBy("sub")
                )


# --------------------------------------------------------------------------
# Residual-ADC end-to-end recall — true IVF-PQ (round-15 queue item,
# pulled forward): residual_pq_refined_cells flipped the DISTORTION
# sign under refined cells; the serving question is whether that win
# survives the ADC funnel. This is the real IVF-PQ layout: refined
# coarse cells, per-vector RESIDUAL codes (x - centroid(cell),
# quantized against the refined-residual codebook drawn from the
# first _PQ_K refined residuals), and ASYMMETRIC distances — the
# query re-centers against each CANDIDATE's cell centroid before the
# table lookup, so the scored geometry matches what a FAISS IVF-PQ
# scan computes. Output schema matches the sweep family
# (ivf_adc_recall / ivf_adc_lloyd_recall /
# ivf_adc_refined_joint_recall) so the codebook story reads as one
# four-row diff per nprobe: toy x toy, toy x lloyd, refined x lloyd,
# refined x residual.
# Exact math: residuals and refined centroids are grid integers
# (ROUND(mean) on exact sums), so every coarse, code-assignment, and
# ADC distance is an exact BIGINT; the two final ratio roundings are
# the only doubles.
# Scale posture: the 2x2 plan plus one residual encode pass; the ADC
# join re-centers per (query, candidate-cell) — still need_probe-
# bounded, with the centroid side a K x dim broadcast.
# --------------------------------------------------------------------------
_RESIDUAL_ADC_ORACLE = f"""
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
    resid2 AS (
      SELECT d.vec_id, d.pos,
             ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             d.xi - c.si AS ri
      FROM dims d
      JOIN assigned2 a ON a.vec_id = d.vec_id
      JOIN cent c ON c.k = a.k AND c.pos = d.pos
    ),
    rcode2 AS (
      SELECT vec_id AS code, sub, pos, ri AS ci
      FROM resid2 WHERE vec_id < {_PQ_K}
    ),
    rdist2 AS (
      SELECT r.vec_id, r.sub, c.code,
             CAST(SUM((r.ri - c.ci) * (r.ri - c.ci)) AS BIGINT) AS dd
      FROM resid2 r JOIN rcode2 c ON c.pos = r.pos AND c.sub = r.sub
      GROUP BY 1, 2, 3
    ),
    rassign2 AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM rdist2
      ) WHERE rn = 1
    ),
    qcells AS (
      SELECT vec_id AS query_id, k,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dd, k) AS cell_rnk
      FROM dist2 WHERE vec_id < {N_QUERIES}
    ),
    need AS (
      SELECT qc.query_id, ac.vec_id AS neighbor_id, ac.k AS n_cell,
             MIN(qc.cell_rnk) AS need_probe
      FROM qcells qc
      JOIN assigned2 ac ON ac.k = qc.k
      WHERE ac.vec_id <> qc.query_id
      GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT n.query_id, n.neighbor_id, n.need_probe,
             CAST(SUM(((q.xi - ct.si) - cb.ci)
                      * ((q.xi - ct.si) - cb.ci)) AS BIGINT) AS dd
      FROM need n
      JOIN rassign2 a ON a.vec_id = n.neighbor_id
      JOIN rcode2 cb ON cb.sub = a.sub AND cb.code = a.code
      JOIN cent ct ON ct.k = n.n_cell AND ct.pos = cb.pos
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
    "residual_adc_recall",
    oracle=_RESIDUAL_ADC_ORACLE.replace("{IVF_CTES}", _IVF_CTES),
)
def residual_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True IVF-PQ nprobe sweep: refined coarse cells, residual codes,
    asymmetric query-recentered ADC (see block comment)."""
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
        need = materialize(
            qcells.join(
                assigned2.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("k"),
                ),
                "k",
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id", F.col("k").alias("n_cell"))
            .agg(F.min("cell_rnk").alias("need_probe"))
        )
        resid2 = (
            dims_p.join(
                assigned2.select("vec_id", F.col("k").alias("v_cell")),
                "vec_id",
            )
            .join(
                F.broadcast(cent),
                (F.col("s_pos") == F.col("pos"))
                & (F.col("k") == F.col("v_cell")),
            )
            .select(
                "vec_id", "pos", "sub",
                (F.col("xi") - F.col("si")).alias("ri"),
            )
        )
        with with_persisted(resid2) as resid_p:
            rcode2 = resid_p.filter(F.col("vec_id") < _PQ_K).select(
                F.col("vec_id").alias("code"),
                F.col("sub").alias("c_sub"),
                F.col("pos").alias("c_pos"),
                F.col("ri").alias("ci"),
            )
            rdiff = F.col("ri") - F.col("ci")
            rdist2 = (
                resid_p.join(
                    F.broadcast(rcode2),
                    (F.col("c_pos") == F.col("pos"))
                    & (F.col("c_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", "code")
                .agg(F.sum(rdiff * rdiff).cast("bigint").alias("dd"))
            )
            wp = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
            rassign2 = materialize(
                rdist2.withColumn("rn", F.row_number().over(wp))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", "code")
            )
            rmax = max(_IVF_ADC_PROBES)
            adc = (
                need.filter(F.col("need_probe") <= rmax)
                .join(
                    rassign2.select(
                        F.col("vec_id").alias("neighbor_id"), "sub", "code"
                    ),
                    "neighbor_id",
                )
                .join(
                    F.broadcast(
                        rcode2.select(
                            F.col("c_sub").alias("sub"),
                            "code",
                            F.col("c_pos").alias("pos"),
                            "ci",
                        )
                    ),
                    ["sub", "code"],
                )
                .join(
                    F.broadcast(
                        cent.select(
                            F.col("k").alias("n_cell"),
                            F.col("s_pos").alias("pos"),
                            "si",
                        )
                    ),
                    ["n_cell", "pos"],
                )
                .join(
                    dims_p.select(
                        F.col("vec_id").alias("query_id"), "pos", "xi"
                    ),
                    ["query_id", "pos"],
                )
                .groupBy("query_id", "neighbor_id", "need_probe")
                .agg(
                    F.sum(
                        ((F.col("xi") - F.col("si")) - F.col("ci"))
                        * ((F.col("xi") - F.col("si")) - F.col("ci"))
                    )
                    .cast("bigint")
                    .alias("dd")
                )
            )
            pr = local_frame(
                spark, [(p,) for p in _IVF_ADC_PROBES], "nprobe long"
            )
            ranked = (
                adc.crossJoin(F.broadcast(pr))
                .filter(F.col("need_probe") <= F.col("nprobe"))
                .withColumn(
                    "rnk",
                    F.row_number().over(
                        Window.partitionBy("nprobe", "query_id").orderBy(
                            "dd", "neighbor_id"
                        )
                    ),
                )
                .filter(F.col("rnk") <= TOP_K)
            )
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
            wt = Window.partitionBy("query_id").orderBy(
                "dd", "neighbor_id"
            )
            truth = (
                exact.withColumn("rnk", F.row_number().over(wt))
                .filter(F.col("rnk") <= TOP_K)
                .select(
                    "query_id", "neighbor_id", F.lit(1).alias("is_true")
                )
            )
            vol = (
                need.crossJoin(F.broadcast(pr))
                .filter(F.col("need_probe") <= F.col("nprobe"))
                .groupBy("nprobe")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_candidates")
                )
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
                        F.col("n_hits").cast("double")
                        / (N_QUERIES * TOP_K),
                        6,
                    ).alias("recall_at_5"),
                )
                .orderBy("nprobe")
            )


# --------------------------------------------------------------------------
# Residual-code utilization audit (round-15 queue item, pulled
# forward): residual_adc_recall pinned an honest no-gain-on-recall
# despite the distortion flip; the first diagnostic a codebook owner
# reaches for is WHERE the codes collapse. Per (codebook, sub):
# codes actually used, dead codes, and the max single-code share —
# for the FLAT codebook (raw first-K codewords over raw vectors) and
# the REFINED-RESIDUAL codebook (refined-cell residuals quantized
# against refined-residual codewords, residual_adc_recall's encode
# path, bit-identical construction). A residual codebook whose
# assignments concentrate (fewer live codes, fatter max share)
# explains a distortion win that fails to separate NEIGHBORS —
# everything lands in the same few cells of quantized space.
# Exact math: grid-integer assignment distances end to end; the max
# share is the only rounded ratio.
# Scale: two bounded argmin passes over dimension rows (broadcast
# codebooks), two (codebook, sub, code)-keyed rollups.
# --------------------------------------------------------------------------
_RCU_ORACLE = f"""
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
    resid2 AS (
      SELECT d.vec_id, d.pos,
             ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             d.xi - c.si AS ri
      FROM dims d
      JOIN assigned2 a ON a.vec_id = d.vec_id
      JOIN cent c ON c.k = a.k AND c.pos = d.pos
    ),
    rcode2 AS (
      SELECT vec_id AS code, sub, pos, ri AS ci
      FROM resid2 WHERE vec_id < {_PQ_K}
    ),
    rdist2 AS (
      SELECT r.vec_id, r.sub, c.code,
             CAST(SUM((r.ri - c.ci) * (r.ri - c.ci)) AS BIGINT) AS dd
      FROM resid2 r JOIN rcode2 c ON c.pos = r.pos AND c.sub = r.sub
      GROUP BY 1, 2, 3
    ),
    fdims AS (
      SELECT vec_id, pos,
             ((pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub, xi
      FROM dims
    ),
    fcode AS (
      SELECT vec_id AS code, sub, pos, xi AS ci
      FROM fdims WHERE vec_id < {_PQ_K}
    ),
    fdist AS (
      SELECT d.vec_id, d.sub, c.code,
             CAST(SUM((d.xi - c.ci) * (d.xi - c.ci)) AS BIGINT) AS dd
      FROM fdims d JOIN fcode c ON c.pos = d.pos AND c.sub = d.sub
      GROUP BY 1, 2, 3
    ),
    asg AS (
      SELECT 'a_flat' AS codebook, vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM fdist
      ) WHERE rn = 1
      UNION ALL
      SELECT 'b_residual', vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM rdist2
      ) WHERE rn = 1
    ),
    percode AS (
      SELECT codebook, sub, code, CAST(COUNT(*) AS BIGINT) AS n
      FROM asg GROUP BY 1, 2, 3
    )
    SELECT codebook, CAST(sub AS BIGINT) AS sub,
           CAST(SUM(n) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_codes_used,
           CAST({_PQ_K} - COUNT(*) AS BIGINT) AS n_dead,
           CAST(ROUND(MAX(n) * 1000000.0 / SUM(n)) AS BIGINT)
             AS max_share_ppm
    FROM percode
    GROUP BY 1, 2
    ORDER BY codebook, sub
    """


@operator(
    "residual_code_utilization",
    oracle=_RCU_ORACLE.replace("{IVF_CTES}", _IVF_CTES),
)
def residual_code_utilization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Code-usage histogram rollup per (codebook, subspace): live
    codes, dead codes, max single-code share — flat vs refined-
    residual codebooks on identical encode paths (see block
    comment)."""
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
        cdist2 = (
            dims_p.join(F.broadcast(cent), F.col("s_pos") == F.col("pos"))
            .groupBy("vec_id", "k")
            .agg(F.sum(sqd).cast("bigint").alias("dd"))
        )
        assigned2 = (
            cdist2.withColumn("rn", F.row_number().over(wc))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("k").alias("v_cell"))
        )
        resid2 = (
            dims_p.join(assigned2, "vec_id")
            .join(
                F.broadcast(cent),
                (F.col("s_pos") == F.col("pos"))
                & (F.col("k") == F.col("v_cell")),
            )
            .select(
                "vec_id", "pos", "sub",
                (F.col("xi") - F.col("si")).alias("ri"),
            )
        )

        def assign(frame, val):
            code = frame.filter(F.col("vec_id") < _PQ_K).select(
                F.col("vec_id").alias("code"),
                F.col("sub").alias("c_sub"),
                F.col("pos").alias("c_pos"),
                F.col(val).alias("ci"),
            )
            diff = F.col(val) - F.col("ci")
            dist = (
                frame.join(
                    F.broadcast(code),
                    (F.col("c_pos") == F.col("pos"))
                    & (F.col("c_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", "code")
                .agg(F.sum(diff * diff).cast("bigint").alias("dd"))
            )
            ws = Window.partitionBy("vec_id", "sub").orderBy("dd", "code")
            return (
                dist.withColumn("rn", F.row_number().over(ws))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", "code")
            )

        with with_persisted(resid2) as resid_p:
            asg = assign(dims_p, "xi").select(
                F.lit("a_flat").alias("codebook"), "vec_id", "sub", "code"
            ).unionByName(
                assign(resid_p, "ri").select(
                    F.lit("b_residual").alias("codebook"),
                    "vec_id",
                    "sub",
                    "code",
                )
            )
            percode = asg.groupBy("codebook", "sub", "code").agg(
                F.count(F.lit(1)).cast("bigint").alias("n")
            )
            return materialize(
                percode.groupBy("codebook", "sub")
                .agg(
                    F.sum("n").cast("bigint").alias("n_vecs"),
                    F.count(F.lit(1)).cast("bigint").alias("n_codes_used"),
                    (F.lit(_PQ_K) - F.count(F.lit(1)))
                    .cast("bigint")
                    .alias("n_dead"),
                    F.round(F.max("n") * 1000000.0 / F.sum("n"))
                    .cast("bigint")
                    .alias("max_share_ppm"),
                )
                .select(
                    "codebook",
                    F.col("sub").cast("bigint").alias("sub"),
                    "n_vecs",
                    "n_codes_used",
                    "n_dead",
                    "max_share_ppm",
                )
                .orderBy("codebook", "sub")
            )


# --------------------------------------------------------------------------
# ADC per-query recall tail (round-15 queue item, pulled forward):
# every sweep row reports MEAN recall over the 10 query vectors; a
# serving SLO is set on the TAIL. This table re-runs the two
# refined-cell scorers — b_joint (the 2x2's refined RAW codebook)
# and c_residual (true IVF-PQ residual codes) — over their SHARED
# candidate funnel and reports per (variant, nprobe) the per-query
# hit distribution: min, lower-median (5th smallest of 10), max,
# and the mean as recall ppm. The funnel is computed ONCE (same
# refined cells -> same need sets), so any tail difference is the
# in-cell scorer alone — the column that says whether a codebook
# fixes the worst query or just the average.
# Exact math: grid-integer distances; hit counts are integers; the
# lower median is an exact order statistic (no interpolation); the
# one ppm rounding is the only double.
# Scale posture: the 2x2 plan + the residual encode, sharing one
# need computation; the tail rollup is a (variant, nprobe, query)-
# domain aggregation.
# --------------------------------------------------------------------------
_ART_ORACLE = f"""
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
      SELECT qc.query_id, ac.vec_id AS neighbor_id, ac.k AS n_cell,
             MIN(qc.cell_rnk) AS need_probe
      FROM qcells qc
      JOIN assigned2 ac ON ac.k = qc.k
      WHERE ac.vec_id <> qc.query_id
      GROUP BY 1, 2, 3
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
    resid2 AS (
      SELECT d.vec_id, d.pos,
             ((d.pos - 1) * {_PQ_SUB}) // {_PQ_DIM} AS sub,
             d.xi - c.si AS ri
      FROM dims d
      JOIN assigned2 a ON a.vec_id = d.vec_id
      JOIN cent c ON c.k = a.k AND c.pos = d.pos
    ),
    rcode2 AS (
      SELECT vec_id AS code, sub, pos, ri AS ci
      FROM resid2 WHERE vec_id < {_PQ_K}
    ),
    rdist2 AS (
      SELECT r.vec_id, r.sub, c.code,
             CAST(SUM((r.ri - c.ci) * (r.ri - c.ci)) AS BIGINT) AS dd
      FROM resid2 r JOIN rcode2 c ON c.pos = r.pos AND c.sub = r.sub
      GROUP BY 1, 2, 3
    ),
    rassign2 AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dd, code) AS rn
        FROM rdist2
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT 'b_joint' AS variant, n.query_id, n.neighbor_id,
             n.need_probe,
             CAST(SUM((q.xi - cb.ci) * (q.xi - cb.ci)) AS BIGINT) AS dd
      FROM need n
      JOIN pq_assigned a ON a.vec_id = n.neighbor_id
      JOIN codebook cb ON cb.sub = a.sub AND cb.code = a.code
      JOIN dims q ON q.vec_id = n.query_id AND q.pos = cb.pos
      WHERE n.need_probe <= {max(_IVF_ADC_PROBES)}
      GROUP BY 2, 3, 4
      UNION ALL
      SELECT 'c_residual', n.query_id, n.neighbor_id, n.need_probe,
             CAST(SUM(((q.xi - ct.si) - cb.ci)
                      * ((q.xi - ct.si) - cb.ci)) AS BIGINT) AS dd
      FROM need n
      JOIN rassign2 a ON a.vec_id = n.neighbor_id
      JOIN rcode2 cb ON cb.sub = a.sub AND cb.code = a.code
      JOIN cent ct ON ct.k = n.n_cell AND ct.pos = cb.pos
      JOIN dims q ON q.vec_id = n.query_id AND q.pos = cb.pos
      WHERE n.need_probe <= {max(_IVF_ADC_PROBES)}
      GROUP BY 2, 3, 4
    ),
    pr(nprobe) AS (VALUES {", ".join(f"({p})" for p in _IVF_ADC_PROBES)}),
    ranked AS (
      SELECT a.variant, pr.nprobe, a.query_id, a.neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY a.variant, pr.nprobe,
                                             a.query_id
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
    qdom AS (SELECT vec_id AS query_id FROM v
             WHERE vec_id < {N_QUERIES}),
    vp(variant) AS (VALUES ('b_joint'), ('c_residual')),
    perq AS (
      SELECT g.variant, g.nprobe, g.query_id,
             COALESCE(h.n_hits, 0) AS n_hits
      FROM (SELECT vp.variant, pr.nprobe, q.query_id
            FROM vp CROSS JOIN pr CROSS JOIN qdom q) g
      LEFT JOIN (
        SELECT r.variant, r.nprobe, r.query_id,
               CAST(count_if(t.neighbor_id IS NOT NULL) AS BIGINT)
                 AS n_hits
        FROM ranked r
        LEFT JOIN truth t ON t.query_id = r.query_id
                         AND t.neighbor_id = r.neighbor_id
        WHERE r.rnk <= {TOP_K}
        GROUP BY 1, 2, 3
      ) h ON h.variant = g.variant AND h.nprobe = g.nprobe
         AND h.query_id = g.query_id
    ),
    ordd AS (
      SELECT variant, nprobe, n_hits,
             ROW_NUMBER() OVER (PARTITION BY variant, nprobe
                                ORDER BY n_hits, query_id) AS rn
      FROM perq
    )
    SELECT variant, CAST(nprobe AS BIGINT) AS nprobe,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST(MIN(n_hits) AS BIGINT) AS min_hits,
           CAST(MIN(CASE WHEN rn = {(N_QUERIES + 1) // 2}
                         THEN n_hits END) AS BIGINT) AS p50_hits,
           CAST(MAX(n_hits) AS BIGINT) AS max_hits,
           CAST(ROUND(SUM(n_hits) * 1000000.0
                      / ({N_QUERIES} * {TOP_K})) AS BIGINT)
             AS recall_ppm
    FROM ordd
    GROUP BY 1, 2
    ORDER BY variant, nprobe
    """


@operator(
    "adc_recall_tail",
    oracle=_ART_ORACLE.replace("{IVF_CTES}", _IVF_CTES),
)
def adc_recall_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query hit distribution (min / lower-median / max / mean
    ppm) per (variant, nprobe) for the two refined-cell ADC scorers
    over their shared candidate funnel (see block comment)."""
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
        need = materialize(
            qcells.join(
                assigned2.select(
                    F.col("vec_id").alias("neighbor_id"), F.col("k")
                ),
                "k",
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id", F.col("k").alias("n_cell"))
            .agg(F.min("cell_rnk").alias("need_probe"))
        )
        # refined RAW codebook (the 2x2's scorer)
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
        # residual codebook (true IVF-PQ scorer)
        resid2 = (
            dims_p.join(
                assigned2.select("vec_id", F.col("k").alias("v_cell")),
                "vec_id",
            )
            .join(
                F.broadcast(cent),
                (F.col("s_pos") == F.col("pos"))
                & (F.col("k") == F.col("v_cell")),
            )
            .select(
                "vec_id", "pos", "sub",
                (F.col("xi") - F.col("si")).alias("ri"),
            )
        )
        with with_persisted(resid2) as resid_p:
            rcode2 = resid_p.filter(F.col("vec_id") < _PQ_K).select(
                F.col("vec_id").alias("code"),
                F.col("sub").alias("c_sub"),
                F.col("pos").alias("c_pos"),
                F.col("ri").alias("ci"),
            )
            rdiff = F.col("ri") - F.col("ci")
            rdist2 = (
                resid_p.join(
                    F.broadcast(rcode2),
                    (F.col("c_pos") == F.col("pos"))
                    & (F.col("c_sub") == F.col("sub")),
                )
                .groupBy("vec_id", "sub", "code")
                .agg(F.sum(rdiff * rdiff).cast("bigint").alias("dd"))
            )
            wp2 = Window.partitionBy("vec_id", "sub").orderBy(
                "dd", "code"
            )
            rassign2 = materialize(
                rdist2.withColumn("rn", F.row_number().over(wp2))
                .filter(F.col("rn") == 1)
                .select("vec_id", "sub", "code")
            )
            rmax = max(_IVF_ADC_PROBES)
            nf = need.filter(F.col("need_probe") <= rmax)
            adc_raw = (
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
                .groupBy("query_id", "neighbor_id", "need_probe")
                .agg(
                    F.sum(
                        (F.col("xi") - F.col("ci"))
                        * (F.col("xi") - F.col("ci"))
                    )
                    .cast("bigint")
                    .alias("dd")
                )
                .select(
                    F.lit("b_joint").alias("variant"),
                    "query_id",
                    "neighbor_id",
                    "need_probe",
                    "dd",
                )
            )
            adc_res = (
                nf.join(
                    rassign2.select(
                        F.col("vec_id").alias("neighbor_id"), "sub", "code"
                    ),
                    "neighbor_id",
                )
                .join(
                    F.broadcast(
                        rcode2.select(
                            F.col("c_sub").alias("sub"),
                            "code",
                            F.col("c_pos").alias("pos"),
                            "ci",
                        )
                    ),
                    ["sub", "code"],
                )
                .join(
                    F.broadcast(
                        cent.select(
                            F.col("k").alias("n_cell"),
                            F.col("s_pos").alias("pos"),
                            "si",
                        )
                    ),
                    ["n_cell", "pos"],
                )
                .join(
                    dims_p.select(
                        F.col("vec_id").alias("query_id"), "pos", "xi"
                    ),
                    ["query_id", "pos"],
                )
                .groupBy("query_id", "neighbor_id", "need_probe")
                .agg(
                    F.sum(
                        ((F.col("xi") - F.col("si")) - F.col("ci"))
                        * ((F.col("xi") - F.col("si")) - F.col("ci"))
                    )
                    .cast("bigint")
                    .alias("dd")
                )
                .select(
                    F.lit("c_residual").alias("variant"),
                    "query_id",
                    "neighbor_id",
                    "need_probe",
                    "dd",
                )
            )
            adc = adc_raw.unionByName(adc_res)
            pr = local_frame(
                spark, [(p,) for p in _IVF_ADC_PROBES], "nprobe long"
            )
            ranked = (
                adc.crossJoin(F.broadcast(pr))
                .filter(F.col("need_probe") <= F.col("nprobe"))
                .withColumn(
                    "rnk",
                    F.row_number().over(
                        Window.partitionBy(
                            "variant", "nprobe", "query_id"
                        ).orderBy("dd", "neighbor_id")
                    ),
                )
                .filter(F.col("rnk") <= TOP_K)
            )
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
            wt = Window.partitionBy("query_id").orderBy(
                "dd", "neighbor_id"
            )
            truth = (
                exact.withColumn("rnk", F.row_number().over(wt))
                .filter(F.col("rnk") <= TOP_K)
                .select(
                    "query_id", "neighbor_id", F.lit(1).alias("is_true")
                )
            )
            qdom = e.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id")
            )
            vp = local_frame(
                spark, [("b_joint",), ("c_residual",)], "variant string"
            )
            hcounts = (
                ranked.join(truth, ["query_id", "neighbor_id"], "left")
                .groupBy("variant", "nprobe", "query_id")
                .agg(
                    F.sum(F.coalesce("is_true", F.lit(0)))
                    .cast("bigint")
                    .alias("n_hits")
                )
            )
            perq = (
                vp.crossJoin(F.broadcast(pr))
                .crossJoin(qdom)
                .join(hcounts, ["variant", "nprobe", "query_id"], "left")
                .select(
                    "variant",
                    "nprobe",
                    "query_id",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                )
            )
            wo = Window.partitionBy("variant", "nprobe").orderBy(
                "n_hits", "query_id"
            )
            ordd = perq.withColumn("rn", F.row_number().over(wo))
            p50_rn = (N_QUERIES + 1) // 2
            return materialize(
                ordd.groupBy("variant", "nprobe")
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
                .select(
                    "variant",
                    F.col("nprobe").cast("bigint").alias("nprobe"),
                    "n_queries",
                    "min_hits",
                    "p50_hits",
                    "max_hits",
                    "recall_ppm",
                )
                .orderBy("variant", "nprobe")
            )
