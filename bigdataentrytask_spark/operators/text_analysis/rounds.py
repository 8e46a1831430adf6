"""Text-analysis package, segment 3 of 3 (former
text_analysis.py lines 3363-4605, split mechanically at section
boundaries; zero behavior change): corpus-curation audits and
planners (length truncation, intra-document repetition, domain mix,
perplexity gates, pack/padding sweeps, quality-prune mix shift,
post-gate mix rebalance)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.functions.text import (
    LM_SCORED_CTES,
    lm_doc_scores,
    normalize_text,
    sql_normalize_text,
    sql_token_hash,
    sql_tokens,
    token_hash,
    tokens,
)
from bigdataentrytask_spark.operators import local_frame, operator
from bigdataentrytask_spark.session import ensure_session_confs

from bigdataentrytask_spark.operators.text_analysis.core import (  # noqa: E402
    _BPEISH_RE,
    _docs,
)


# --------------------------------------------------------------------------
# Length-outlier truncation audit. Two ingest-defect signals per source:
# (1) the share of documents at EXACTLY the per-source maximum length — a
# spike there is the "truncated at ingest" fingerprint (a natural
# length distribution has a thin max); (2) the count above a robust
# median + 3*MAD fence. Median and MAD are DISCRETE rank picks
# (lower median, rank ceil(n/2)) in integer character space — no
# interpolation, no float path, exact on both engines.
# Scale: two windowed rank picks + one agg, all partitioned by source.
# --------------------------------------------------------------------------
_TRUNC_ORACLE = """
    WITH lens AS (
      SELECT source, doc_id, length(text) AS len FROM documents
    ),
    r1 AS (
      SELECT source, len,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY len) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM lens
    ),
    med AS (
      SELECT source, MIN(len) AS med_len
      FROM r1 WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT) GROUP BY 1
    ),
    dev AS (
      SELECT l.source, ABS(l.len - m.med_len) AS d
      FROM lens l JOIN med m ON m.source = l.source
    ),
    r2 AS (
      SELECT source, d,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY d) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM dev
    ),
    mad AS (
      SELECT source, MIN(d) AS mad_len
      FROM r2 WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT) GROUP BY 1
    )
    ,wmax AS (
      SELECT source, len,
             MAX(len) OVER (PARTITION BY source) AS src_max
      FROM lens
    )
    SELECT w.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ANY_VALUE(w.src_max) AS BIGINT) AS max_len,
           CAST(SUM(CASE WHEN w.len = w.src_max THEN 1 ELSE 0 END)
                AS BIGINT) AS n_at_max,
           CAST(ROUND(SUM(CASE WHEN w.len = w.src_max THEN 1 ELSE 0 END)
                      * 1000000.0 / COUNT(*)) AS BIGINT) AS at_max_ppm,
           CAST(ANY_VALUE(m.med_len) AS BIGINT) AS med_len,
           CAST(ANY_VALUE(d.mad_len) AS BIGINT) AS mad_len,
           CAST(SUM(CASE WHEN w.len > m.med_len + 3 * d.mad_len
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_above_fence
    FROM wmax w
    JOIN med m ON m.source = w.source
    JOIN mad d ON d.source = w.source
    GROUP BY w.source
    ORDER BY w.source
    """


@operator("length_truncation_audit", oracle=_TRUNC_ORACLE)
def length_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source truncation-spike + robust-fence outlier census (see
    staged block comment)."""
    lens = _docs(spark, sf_dir).select(
        "source", "doc_id", F.length("text").cast("bigint").alias("len")
    )
    ws = Window.partitionBy("source")
    r1 = lens.select(
        "source",
        "len",
        F.row_number().over(ws.orderBy("len")).alias("rn"),
        F.count(F.lit(1)).over(ws).alias("n"),
    )
    med = (
        r1.filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint"))
        .groupBy("source")
        .agg(F.min("len").alias("med_len"))
    )
    dev = lens.join(med, "source").select(
        "source", F.abs(F.col("len") - F.col("med_len")).alias("d")
    )
    r2 = dev.select(
        "source",
        "d",
        F.row_number().over(ws.orderBy("d")).alias("rn"),
        F.count(F.lit(1)).over(ws).alias("n"),
    )
    mad = (
        r2.filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint"))
        .groupBy("source")
        .agg(F.min("d").alias("mad_len"))
    )
    wmax = lens.select(
        "source", "len", F.max("len").over(ws).alias("src_max")
    )
    at_max = F.when(F.col("len") == F.col("src_max"), 1).otherwise(0)
    return (
        wmax.join(med, "source")
        .join(mad, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.first("src_max").cast("bigint").alias("max_len"),
            F.sum(at_max).cast("bigint").alias("n_at_max"),
            F.round(
                F.sum(at_max) * 1000000.0 / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("at_max_ppm"),
            F.first("med_len").cast("bigint").alias("med_len"),
            F.first("mad_len").cast("bigint").alias("mad_len"),
            F.sum(
                F.when(
                    F.col("len")
                    > F.col("med_len") + 3 * F.col("mad_len"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_above_fence"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Intra-document repetition audit (Gopher rule family, Rae et al.
# 2021 §A1.1): per SOURCE, how much of each document is repeated
# word-3-gram mass — the classic boilerplate/template/spam signal a
# quality filter thresholds BEFORE dedup ever runs. Per document:
# duplicate-gram fraction = 1 - distinct_grams/total_grams, in ppm;
# rolled up per source as mean ppm + share of docs over the Gopher-ish
# 180000 ppm (18%) flag line. Summary rows (not per-doc) so the output
# stays domain-sized at any corpus scale.
# Scale: gram explode is width-bounded (one row per word); the
# per-doc distinct count is a (doc_id, gram) partial-agg shuffle; the
# rollup is domain-sized. No cross-document state anywhere — this
# pipelines at 100 TB with zero skew risk beyond document length.
# --------------------------------------------------------------------------
_REP_K = 3
_REP_FLAG_PPM = 180_000

_INTRA_REP_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             array_to_string(w[i:i+{_REP_K - 1}], ' ') AS g
      FROM toks, LATERAL unnest(range(1, len(w) - {_REP_K} + 2)) AS t(i)
    ),
    per_doc AS (
      SELECT doc_id, source,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
      FROM grams GROUP BY 1, 2
    ),
    scored AS (
      SELECT source,
             CAST(ROUND((n_grams - n_distinct) * 1000000.0 / n_grams)
                  AS BIGINT) AS rep_ppm
      FROM per_doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(AVG(rep_ppm)) AS BIGINT) AS mean_rep_ppm,
           CAST(MAX(rep_ppm) AS BIGINT) AS max_rep_ppm,
           CAST(count_if(rep_ppm > {_REP_FLAG_PPM}) AS BIGINT) AS n_flagged
    FROM scored GROUP BY source
    ORDER BY source
    """


@operator("intra_doc_repetition_audit", oracle=_INTRA_REP_ORACLE)
def intra_doc_repetition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repeated word-3-gram census (see block comment)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("w"))
    gram_at = lambda i: F.array_join(  # noqa: E731
        F.slice("w", i + 1, _REP_K), " "
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("w") >= _REP_K,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - _REP_K), gram_at
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    per_doc = grams.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.count_distinct("g").cast("bigint").alias("n_distinct"),
    )
    rep_ppm = F.round(
        (F.col("n_grams") - F.col("n_distinct")) * 1000000.0
        / F.col("n_grams")
    ).cast("bigint")
    return (
        per_doc.select("source", rep_ppm.alias("rep_ppm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("rep_ppm")).cast("bigint").alias("mean_rep_ppm"),
            F.max("rep_ppm").cast("bigint").alias("max_rep_ppm"),
            F.sum((F.col("rep_ppm") > _REP_FLAG_PPM).cast("long"))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Domain-mix planner (training-mixture table, The Pile / DoReMi-lite
# static arithmetic): per source — document and whitespace-token
# counts, the source's share of total tokens (ppm), and the sampling
# weight (ppm, relative to 1x = 1000000) that would rebalance the
# corpus to a UNIFORM per-source token budget: weight = target_share /
# actual_share. Oversampling caps at the repeat ceiling (4x here —
# past ~4 epochs of a source, repetition hurts more than balance
# helps), mirroring how real mixture tables clamp rare domains.
# Scale: one aggregation over documents; output is |sources| rows.
# --------------------------------------------------------------------------
_MIX_MAX_WEIGHT_PPM = 4_000_000

_DOMAIN_MIX_ORACLE = f"""
    WITH per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS s FROM per)
    SELECT p.source, p.n_docs, p.n_tokens,
           CAST(ROUND(p.n_tokens * 1000000.0 / tot.t) AS BIGINT)
             AS token_share_ppm,
           CAST(LEAST(
             ROUND((tot.t * 1.0 / tot.s) / p.n_tokens * 1000000.0),
             {_MIX_MAX_WEIGHT_PPM}) AS BIGINT) AS uniform_weight_ppm,
           ROUND((tot.t * 1.0 / tot.s) / p.n_tokens * 1000000.0)
             > {_MIX_MAX_WEIGHT_PPM} AS weight_clamped
    FROM per p CROSS JOIN tot
    ORDER BY p.source
    """


@operator("domain_mix_planner", oracle=_DOMAIN_MIX_ORACLE)
def domain_mix_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token share + uniform-rebalance sampling weight (see
    block comment)."""
    docs = _docs(spark, sf_dir)
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("s")
    )
    raw_w = F.round(
        (F.col("t") / F.col("s")) / F.col("n_tokens") * 1000000.0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") * 1000000.0 / F.col("t"))
            .cast("bigint")
            .alias("token_share_ppm"),
            F.least(raw_w, F.lit(_MIX_MAX_WEIGHT_PPM))
            .cast("bigint")
            .alias("uniform_weight_ppm"),
            (raw_w > _MIX_MAX_WEIGHT_PPM).alias("weight_clamped"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Perplexity pruning gate (ROADMAP round-12 "Curation"): the
# quality_threshold_pruning pattern on the LANGUAGE-MODEL axis, per
# SOURCE — CCNet prunes each source/shard at a percentile of its own
# LM score, not at one global threshold, so "cut the worst 10% per
# source" is the release-gate shape a trainer actually deploys.
# Scores are the verified add-one-smoothed bigram logprobs
# (bigram_lm_logprob's exact 1e6-grid arithmetic, rescored over ALL
# docs — its registry twin caps scoring at doc_id < 100 for the
# audit slice). Per source: the exact discrete 10% threshold (the
# (k+1)-th smallest score, k = floor(n/10)), pruned count, and the
# percentile_approx sketch rank-contract boolean — the production
# path is sketch + filter (no global sort), the exact columns are
# the audit content, per the column_quantile_sketch_gate pattern.
# Scale: the LM counts shuffle on the bigram key (one pass); the
# per-source window is keyed (bounded state per task); the sketch is
# a mergeable single aggregate.
# --------------------------------------------------------------------------
_PPG_FRAC_PPM = 100_000  # prune the worst 10% of each source
_PPG_ACC = 1000          # percentile_approx accuracy knob

_PPG_ORACLE = f"""
    WITH {LM_SCORED_CTES}    tagged AS (
      SELECT d.source, s.score_e6,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY s.score_e6, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d.source) AS n_src
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ),
    cut AS (
      SELECT source, CAST(MAX(n_src) AS BIGINT) AS n_scored,
             MIN(CASE WHEN rn > n_src * {_PPG_FRAC_PPM} // 1000000
                      THEN score_e6 END) AS exact_thresh_e6
      FROM tagged GROUP BY source
    )
    SELECT c.source, c.n_scored,
           CAST(c.exact_thresh_e6 AS BIGINT) AS exact_thresh_e6,
           (SELECT CAST(count_if(t.score_e6 < c.exact_thresh_e6)
                        AS BIGINT)
              FROM tagged t WHERE t.source = c.source) AS n_pruned,
           (SELECT CAST(ROUND(count_if(t.score_e6 < c.exact_thresh_e6)
                              * 1000000.0 / c.n_scored) AS BIGINT)
              FROM tagged t WHERE t.source = c.source) AS prune_ppm,
           TRUE AS sketch_rank_ok
    FROM cut c
    ORDER BY c.source
    """


@operator("perplexity_pruning_gate", oracle=_PPG_ORACLE)
def perplexity_pruning_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 10%-percentile LM-score pruning gate (see block
    comment): exact discrete thresholds as audit content, plus the
    percentile_approx sketch rank-contract boolean the production
    filter relies on."""
    d = _docs(spark, sf_dir)
    scored = lm_doc_scores(d)
    tagged = scored.join(
        d.select("doc_id", "source"), "doc_id"
    ).select("source", "doc_id", "score_e6")
    ws = Window.partitionBy("source").orderBy("score_e6", "doc_id")
    ranked = tagged.select(
        "source",
        "score_e6",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("n_src"),
    )
    cut = ranked.groupBy("source").agg(
        F.max("n_src").cast("bigint").alias("n_scored"),
        F.min(
            F.when(
                F.col("rn")
                > F.floor(F.col("n_src") * _PPG_FRAC_PPM / 1000000),
                F.col("score_e6"),
            )
        ).alias("exact_thresh_e6"),
        # production sketch: one mergeable percentile_approx per source
        F.percentile_approx(
            "score_e6", _PPG_FRAC_PPM / 1e6, _PPG_ACC
        ).alias("sketch_t"),
    )
    gates = (
        ranked.join(F.broadcast(cut), "source")
        .groupBy("source")
        .agg(
            F.sum(
                (F.col("score_e6") < F.col("exact_thresh_e6")).cast("long")
            )
            .cast("bigint")
            .alias("n_pruned"),
            F.sum((F.col("score_e6") < F.col("sketch_t")).cast("long"))
            .alias("n_lt_sketch"),
            F.sum((F.col("score_e6") <= F.col("sketch_t")).cast("long"))
            .alias("n_le_sketch"),
        )
    )
    err = F.ceil(F.col("n_scored") / _PPG_ACC)
    target = F.col("n_scored") * _PPG_FRAC_PPM / 1000000.0
    return (
        cut.join(gates, "source")
        .select(
            "source",
            "n_scored",
            F.col("exact_thresh_e6").cast("bigint").alias(
                "exact_thresh_e6"
            ),
            "n_pruned",
            F.round(F.col("n_pruned") * 1000000.0 / F.col("n_scored"))
            .cast("bigint")
            .alias("prune_ppm"),
            (
                (F.col("n_lt_sketch") <= target + err)
                & (F.col("n_le_sketch") >= target - err)
            ).alias("sketch_rank_ok"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Pack-length sweep (ROADMAP round-13 family, pulled forward): the
# context-length decision table. sequence_pack packs at ONE budget;
# this sweeps candidate context lengths through the same per-source
# continuous-flow rule and reports, per candidate: sequences
# produced, fill ratio (tail waste is the only waste under
# continuous flow — each source's last sequence), and how many
# documents STRADDLE a sequence boundary (the coherence cost of
# small contexts: a straddled doc is split across training
# sequences). Fill rises and straddling falls as L shrinks — the
# trade a pretraining config picks L against.
# Exact math: BPE-ish token counts (the llm_token_estimate regex),
# integer cumsum offsets, integer boundary tests; the only division
# is the final ppm.
# Scale: per-source windows (keyed, bounded state), a |L|-stack of
# column expressions over one cumsum — no per-candidate rescan.
# --------------------------------------------------------------------------
_PACK_SWEEP_LENS = [128, 512, 2048]

_PACK_SWEEP_ORACLE = f"""
    WITH t AS (
      SELECT source, doc_id,
             len(regexp_extract_all(lower(text), '{_BPEISH_RE}')) AS tok
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, tok,
             SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - tok AS start_off
      FROM t
    ),
    lens(context_len) AS (VALUES
      {", ".join(f"({x})" for x in _PACK_SWEEP_LENS)}),
    per_src AS (
      SELECT source, SUM(tok) AS src_tok FROM t GROUP BY source
    ),
    seqs AS (
      SELECT l.context_len,
             CAST(SUM(CAST(CEIL(p.src_tok * 1.0 / l.context_len)
                           AS BIGINT)) AS BIGINT) AS n_seqs,
             CAST(SUM(p.src_tok) AS BIGINT) AS total_tok
      FROM per_src p CROSS JOIN lens l
      GROUP BY 1
    ),
    straddle AS (
      SELECT l.context_len,
             CAST(count_if(c.tok > 0 AND
                   FLOOR(c.start_off / l.context_len)
                   <> FLOOR((c.start_off + c.tok - 1) / l.context_len))
                  AS BIGINT) AS n_docs_straddling,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM c CROSS JOIN lens l
      GROUP BY 1
    )
    SELECT CAST(s.context_len AS BIGINT) AS context_len,
           s.n_seqs, s.total_tok,
           CAST(ROUND(s.total_tok * 1000000.0
                      / (s.n_seqs * s.context_len)) AS BIGINT)
             AS fill_ppm,
           st.n_docs_straddling,
           CAST(ROUND(st.n_docs_straddling * 1000000.0 / st.n_docs)
                AS BIGINT) AS straddle_ppm
    FROM seqs s JOIN straddle st ON st.context_len = s.context_len
    ORDER BY s.context_len
    """


@operator("pack_length_sweep", oracle=_PACK_SWEEP_ORACLE)
def pack_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill vs doc-straddling per candidate context length under the
    sequence_pack continuous-flow rule (see block comment)."""
    d = _docs(spark, sf_dir)
    tok = F.regexp_count(F.lower("text"), F.lit(_BPEISH_RE))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select("source", "doc_id", tok.alias("tok")).withColumn(
        "start_off", F.sum("tok").over(w) - F.col("tok")
    )
    lens = local_frame(
        spark, [(x,) for x in _PACK_SWEEP_LENS], "context_len long"
    )
    per_src = c.groupBy("source").agg(F.sum("tok").alias("src_tok"))
    seqs = (
        per_src.crossJoin(F.broadcast(lens))
        .groupBy("context_len")
        .agg(
            F.sum(
                F.ceil(F.col("src_tok") * 1.0 / F.col("context_len"))
                .cast("bigint")
            )
            .cast("bigint")
            .alias("n_seqs"),
            F.sum("src_tok").cast("bigint").alias("total_tok"),
        )
    )
    straddle = (
        c.crossJoin(F.broadcast(lens))
        .groupBy("context_len")
        .agg(
            F.sum(
                (
                    (F.col("tok") > 0)
                    & (
                        F.floor(F.col("start_off") / F.col("context_len"))
                        != F.floor(
                            (F.col("start_off") + F.col("tok") - 1)
                            / F.col("context_len")
                        )
                    )
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_docs_straddling"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )
    return (
        seqs.join(straddle, "context_len")
        .select(
            F.col("context_len").cast("bigint").alias("context_len"),
            "n_seqs",
            "total_tok",
            F.round(
                F.col("total_tok")
                * 1000000.0
                / (F.col("n_seqs") * F.col("context_len"))
            )
            .cast("bigint")
            .alias("fill_ppm"),
            "n_docs_straddling",
            F.round(
                F.col("n_docs_straddling") * 1000000.0 / F.col("n_docs")
            )
            .cast("bigint")
            .alias("straddle_ppm"),
        )
        .orderBy("context_len")
    )


# --------------------------------------------------------------------------
# Language x source perplexity gate (ROADMAP round-13 "Curation"):
# the CCNet regime proper. perplexity_pruning_gate prunes the worst
# 10% PER SOURCE; CCNet's actual unit is per-LANGUAGE (each language
# gets its own LM and its own percentile cut), and a multilingual
# multi-source corpus needs the crossed grid — a source whose German
# slice is bottom-decile German should lose that slice even when its
# English slice is pristine. Same verified scored frame (add-one-
# smoothed bigram logprobs on the exact 1e6 grid), same exact
# discrete threshold ((k+1)-th smallest, k = floor(n/10)) and
# percentile_approx rank contract — re-keyed on (lang, source).
# Group sizes here are ~25x smaller than the per-source gate's, so
# the table also pins the small-n degradation honestly: groups with
# n < 10 have k = 0, threshold = their minimum score, zero pruned.
# Scale: identical posture to perplexity_pruning_gate — one
# bigram-key shuffle for the LM counts, keyed windows on the
# (lang, source) grid (bounded state), one mergeable sketch per
# group.
# --------------------------------------------------------------------------
_PPGL_ORACLE = f"""
    WITH {LM_SCORED_CTES}    tagged AS (
      SELECT d.lang, d.source, s.score_e6,
             ROW_NUMBER() OVER (PARTITION BY d.lang, d.source
                                ORDER BY s.score_e6, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d.lang, d.source) AS n_grp
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ),
    cut AS (
      SELECT lang, source, CAST(MAX(n_grp) AS BIGINT) AS n_scored,
             MIN(CASE WHEN rn > n_grp * {_PPG_FRAC_PPM} // 1000000
                      THEN score_e6 END) AS exact_thresh_e6
      FROM tagged GROUP BY lang, source
    )
    SELECT c.lang, c.source, c.n_scored,
           CAST(c.exact_thresh_e6 AS BIGINT) AS exact_thresh_e6,
           (SELECT CAST(count_if(t.score_e6 < c.exact_thresh_e6)
                        AS BIGINT)
              FROM tagged t
             WHERE t.lang = c.lang AND t.source = c.source) AS n_pruned,
           (SELECT CAST(ROUND(count_if(t.score_e6 < c.exact_thresh_e6)
                              * 1000000.0 / c.n_scored) AS BIGINT)
              FROM tagged t
             WHERE t.lang = c.lang AND t.source = c.source)
             AS prune_ppm,
           TRUE AS sketch_rank_ok
    FROM cut c
    ORDER BY c.lang, c.source
    """


@operator("perplexity_gate_by_lang", oracle=_PPGL_ORACLE)
def perplexity_gate_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(lang, source) 10%-percentile LM-score pruning gate (see
    block comment): perplexity_pruning_gate's exact-threshold +
    sketch-contract shape on the CCNet per-language grid."""
    d = _docs(spark, sf_dir)
    scored = lm_doc_scores(d)
    tagged = scored.join(
        d.select("doc_id", "lang", "source"), "doc_id"
    ).select("lang", "source", "doc_id", "score_e6")
    ws = Window.partitionBy("lang", "source").orderBy(
        "score_e6", "doc_id"
    )
    ranked = tagged.select(
        "lang",
        "source",
        "score_e6",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lang", "source"))
        .alias("n_grp"),
    )
    cut = ranked.groupBy("lang", "source").agg(
        F.max("n_grp").cast("bigint").alias("n_scored"),
        F.min(
            F.when(
                F.col("rn")
                > F.floor(F.col("n_grp") * _PPG_FRAC_PPM / 1000000),
                F.col("score_e6"),
            )
        ).alias("exact_thresh_e6"),
        F.percentile_approx(
            "score_e6", _PPG_FRAC_PPM / 1e6, _PPG_ACC
        ).alias("sketch_t"),
    )
    gates = (
        ranked.join(F.broadcast(cut), ["lang", "source"])
        .groupBy("lang", "source")
        .agg(
            F.sum(
                (F.col("score_e6") < F.col("exact_thresh_e6")).cast("long")
            )
            .cast("bigint")
            .alias("n_pruned"),
            F.sum((F.col("score_e6") < F.col("sketch_t")).cast("long"))
            .alias("n_lt_sketch"),
            F.sum((F.col("score_e6") <= F.col("sketch_t")).cast("long"))
            .alias("n_le_sketch"),
        )
    )
    err = F.ceil(F.col("n_scored") / _PPG_ACC)
    target = F.col("n_scored") * _PPG_FRAC_PPM / 1000000.0
    return (
        cut.join(gates, ["lang", "source"])
        .select(
            "lang",
            "source",
            "n_scored",
            F.col("exact_thresh_e6").cast("bigint").alias(
                "exact_thresh_e6"
            ),
            "n_pruned",
            F.round(F.col("n_pruned") * 1000000.0 / F.col("n_scored"))
            .cast("bigint")
            .alias("prune_ppm"),
            (
                (F.col("n_lt_sketch") <= target + err)
                & (F.col("n_le_sketch") >= target - err)
            ).alias("sketch_rank_ok"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# Padding-mode pack sweep (ROADMAP round-13 "Curation"): the
# no-straddle variant of pack_length_sweep. Continuous flow maximizes
# fill but splits documents across training sequences; padding mode
# keeps every document inside one sequence (a doc that does not fit
# in the current sequence's remainder pads it out and starts the
# next), trading fill for coherence — only OVERSIZE docs (token
# count > L) still have to span sequences. The greedy per-source
# cursor is a genuine sequential recurrence (each doc's start
# depends on the padded position of everything before it), so this
# is one of the repo's few sanctioned Arrow-kernel operators: an
# applyInPandas walk per source (parallel across sources — exactly a
# packer's shard-local loop), mirrored by a recursive CTE on the
# oracle side. Reported per candidate L: sequences, exact pad-token
# waste, fill, and the oversize count, cross-pinnable against
# pack_length_sweep (same total_tok; pad-mode fill <= flow fill;
# oversize docs <= flow's straddling docs).
# Exact math: integer token counts and cursors end-to-end; the two
# ppm columns are the only divisions.
# Scale: the kernel is O(docs-per-source x |L|) with integer state —
# at 100 TB the per-source groups are the packer's shard units and
# the rollup is |L|-keyed.
# --------------------------------------------------------------------------
_PAD_SWEEP_ORACLE = f"""
    WITH RECURSIVE t AS (
      SELECT source, doc_id,
             len(regexp_extract_all(lower(text), '{_BPEISH_RE}')) AS tok
      FROM documents
    ),
    lens(context_len) AS (VALUES
      {", ".join(f"({x})" for x in _PACK_SWEEP_LENS)}),
    dl AS (
      SELECT t.source, l.context_len, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.source, l.context_len
                                ORDER BY t.doc_id) AS rn
      FROM t CROSS JOIN lens l
      WHERE t.tok > 0
    ),
    walk AS (
      SELECT source, context_len, rn, tok AS pos,
             CASE WHEN tok > context_len THEN 1 ELSE 0 END AS n_over
      FROM dl WHERE rn = 1
      UNION ALL
      SELECT d.source, d.context_len, d.rn,
             CASE WHEN (w.pos % d.context_len) = 0
                       OR d.tok <= d.context_len
                                   - (w.pos % d.context_len)
                  THEN w.pos + d.tok
                  ELSE w.pos + (d.context_len
                                - (w.pos % d.context_len)) + d.tok
             END,
             w.n_over + CASE WHEN d.tok > d.context_len
                             THEN 1 ELSE 0 END
      FROM walk w
      JOIN dl d ON d.source = w.source
               AND d.context_len = w.context_len AND d.rn = w.rn + 1
    ),
    fin AS (
      SELECT source, context_len, pos, n_over
      FROM (
        SELECT source, context_len, pos, n_over,
               ROW_NUMBER() OVER (PARTITION BY source, context_len
                                  ORDER BY rn DESC) AS r
        FROM walk
      ) WHERE r = 1
    ),
    per_src AS (
      SELECT f.source, f.context_len,
             CAST(CEIL(f.pos * 1.0 / f.context_len) AS BIGINT)
               AS n_seqs,
             f.n_over,
             (SELECT CAST(SUM(t.tok) AS BIGINT) FROM t
               WHERE t.source = f.source) AS src_tok
      FROM fin f
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t)
    SELECT CAST(p.context_len AS BIGINT) AS context_len,
           CAST(SUM(p.n_seqs) AS BIGINT) AS n_seqs,
           CAST(SUM(p.src_tok) AS BIGINT) AS total_tok,
           CAST(SUM(p.n_seqs * p.context_len - p.src_tok) AS BIGINT)
             AS pad_tokens,
           CAST(ROUND(SUM(p.src_tok) * 1000000.0
                      / (SUM(p.n_seqs) * p.context_len)) AS BIGINT)
             AS fill_ppm,
           CAST(SUM(p.n_over) AS BIGINT) AS n_oversize,
           CAST(ROUND(SUM(p.n_over) * 1000000.0 / MAX(nd.n_docs))
                AS BIGINT) AS oversize_ppm
    FROM per_src p CROSS JOIN nd
    GROUP BY p.context_len
    ORDER BY context_len
    """


def _pad_pack_kernel(lens: list[int]):
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        src = pdf["source"].iloc[0]
        toks = [int(x) for x in pdf["tok"] if x > 0]
        src_tok = sum(toks)
        rows = []
        for L in lens:
            pos, n_over = 0, 0
            for tok in toks:
                rem = L - (pos % L)
                if (pos % L) != 0 and tok > rem:
                    pos += rem
                pos += tok
                if tok > L:
                    n_over += 1
            n_seqs = -(-pos // L) if pos else 0
            rows.append((src, L, n_seqs, src_tok, n_over))
        return pd.DataFrame(
            rows,
            columns=["source", "context_len", "n_seqs", "src_tok",
                     "n_over"],
        )

    return kernel


@operator("pack_padding_sweep", oracle=_PAD_SWEEP_ORACLE)
def pack_padding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-straddle (padding-mode) packing per candidate context
    length: sequences, exact pad waste, fill, oversize docs (see
    block comment; sequential per-source cursor via an Arrow
    kernel)."""
    d = _docs(spark, sf_dir)
    tok = F.regexp_count(F.lower("text"), F.lit(_BPEISH_RE))
    t = d.select("source", "doc_id", tok.alias("tok"))
    per_src = (
        t.groupBy("source")
        .applyInPandas(
            _pad_pack_kernel(_PACK_SWEEP_LENS),
            schema=(
                "source string, context_len long, n_seqs long, "
                "src_tok long, n_over long"
            ),
        )
    )
    nd = t.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        per_src.crossJoin(F.broadcast(nd))
        .groupBy("context_len")
        .agg(
            F.sum("n_seqs").cast("bigint").alias("n_seqs"),
            F.sum("src_tok").cast("bigint").alias("total_tok"),
            F.sum(
                F.col("n_seqs") * F.col("context_len") - F.col("src_tok")
            )
            .cast("bigint")
            .alias("pad_tokens"),
            F.round(
                F.sum("src_tok")
                * 1000000.0
                / (F.sum("n_seqs") * F.first("context_len"))
            )
            .cast("bigint")
            .alias("fill_ppm"),
            F.sum("n_over").cast("bigint").alias("n_oversize"),
            F.round(
                F.sum("n_over") * 1000000.0 / F.max("n_docs")
            )
            .cast("bigint")
            .alias("oversize_ppm"),
        )
        .select(
            F.col("context_len").cast("bigint").alias("context_len"),
            "n_seqs",
            "total_tok",
            "pad_tokens",
            "fill_ppm",
            "n_oversize",
            "oversize_ppm",
        )
        .orderBy("context_len")
    )


# --------------------------------------------------------------------------
# Quality-prune mix shift (round-12 original; the mix ledger of the
# per-language gate): chunk_decay_source_mix prices how DEDUP
# re-mixes the corpus; this is the same ledger for the perplexity
# gate — when each (lang, source) cell loses its bottom decile by LM
# score, token mass does not leave uniformly, so the post-gate
# source mix drifts from the raw mix. Per source: docs, pruned docs,
# raw and kept token mass, both shares, and the signed shift — the
# number a mixture planner must re-balance after quality filtering.
# Docs too short to score (under 2 tokens, no bigram) are never
# pruned and keep their mass, matching the production gate's
# pass-through for unscorable rows.
# Exact math: integer token sums; shares and shift are the final ppm
# roundings of exact integer ratios.
# Scale: the LM scoring shuffle is shared with the gate; the ledger
# adds one doc_id join and a source-domain rollup.
# --------------------------------------------------------------------------
_QPMS_ORACLE = f"""
    WITH {LM_SCORED_CTES}    tagged AS (
      SELECT d.lang, d.source, s.doc_id, s.score_e6,
             ROW_NUMBER() OVER (PARTITION BY d.lang, d.source
                                ORDER BY s.score_e6, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d.lang, d.source) AS n_grp
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ),
    cut AS (
      SELECT lang, source,
             MIN(CASE WHEN rn > n_grp * {_PPG_FRAC_PPM} // 1000000
                      THEN score_e6 END) AS exact_thresh_e6
      FROM tagged GROUP BY lang, source
    ),
    pruned AS (
      SELECT t.doc_id
      FROM tagged t JOIN cut c ON c.lang = t.lang
                               AND c.source = t.source
      WHERE t.score_e6 < c.exact_thresh_e6
    ),
    mass AS (
      SELECT d.source, d.doc_id,
             CAST(len({sql_tokens('text')}) AS BIGINT) AS tok,
             (p.doc_id IS NOT NULL) AS is_pruned
      FROM documents d LEFT JOIN pruned p ON p.doc_id = d.doc_id
    ),
    per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(count_if(is_pruned) AS BIGINT) AS n_pruned,
             CAST(SUM(tok) AS BIGINT) AS raw_tokens,
             CAST(SUM(CASE WHEN is_pruned THEN 0 ELSE tok END)
                  AS BIGINT) AS kept_tokens
      FROM mass GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(raw_tokens) AS BIGINT) AS t_raw,
             CAST(SUM(kept_tokens) AS BIGINT) AS t_kept
      FROM per
    )
    SELECT p.source, p.n_docs, p.n_pruned, p.raw_tokens, p.kept_tokens,
           CAST(ROUND(p.raw_tokens * 1000000.0 / t.t_raw) AS BIGINT)
             AS raw_share_ppm,
           CAST(ROUND(p.kept_tokens * 1000000.0 / t.t_kept) AS BIGINT)
             AS kept_share_ppm,
           CAST(ROUND(p.kept_tokens * 1000000.0 / t.t_kept)
                - ROUND(p.raw_tokens * 1000000.0 / t.t_raw) AS BIGINT)
             AS shift_ppm
    FROM per p CROSS JOIN tot t
    ORDER BY p.source
    """


@operator("quality_prune_mix_shift", oracle=_QPMS_ORACLE)
def quality_prune_mix_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source token-mix ledger of the per-(lang, source)
    perplexity gate: raw vs kept mass, shares, and the signed shift
    (see block comment)."""
    d = _docs(spark, sf_dir)
    scored = lm_doc_scores(d)
    tagged = scored.join(
        d.select("doc_id", "lang", "source"), "doc_id"
    ).select("lang", "source", "doc_id", "score_e6")
    ws = Window.partitionBy("lang", "source").orderBy(
        "score_e6", "doc_id"
    )
    ranked = tagged.select(
        "lang",
        "source",
        "doc_id",
        "score_e6",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lang", "source"))
        .alias("n_grp"),
    )
    cut = ranked.groupBy("lang", "source").agg(
        F.min(
            F.when(
                F.col("rn")
                > F.floor(F.col("n_grp") * _PPG_FRAC_PPM / 1000000),
                F.col("score_e6"),
            )
        ).alias("exact_thresh_e6")
    )
    pruned = (
        ranked.join(F.broadcast(cut), ["lang", "source"])
        .filter(F.col("score_e6") < F.col("exact_thresh_e6"))
        .select("doc_id", F.lit(True).alias("is_pruned"))
    )
    mass = d.select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("tok"),
    ).join(pruned, "doc_id", "left").select(
        "source",
        "tok",
        F.coalesce("is_pruned", F.lit(False)).alias("is_pruned"),
    )
    per = mass.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("is_pruned").cast("long"))
        .cast("bigint")
        .alias("n_pruned"),
        F.sum("tok").cast("bigint").alias("raw_tokens"),
        F.sum(F.when(F.col("is_pruned"), 0).otherwise(F.col("tok")))
        .cast("bigint")
        .alias("kept_tokens"),
    )
    tot = per.agg(
        F.sum("raw_tokens").cast("bigint").alias("t_raw"),
        F.sum("kept_tokens").cast("bigint").alias("t_kept"),
    )
    raw_share = F.round(
        F.col("raw_tokens") * 1000000.0 / F.col("t_raw")
    ).cast("bigint")
    kept_share = F.round(
        F.col("kept_tokens") * 1000000.0 / F.col("t_kept")
    ).cast("bigint")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_pruned",
            "raw_tokens",
            "kept_tokens",
            raw_share.alias("raw_share_ppm"),
            kept_share.alias("kept_share_ppm"),
            (kept_share - raw_share).alias("shift_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Post-gate mixture re-balancer (ROADMAP round-14 "Curation"):
# quality_prune_mix_shift proves the perplexity gate MOVES the
# per-source token mix; this op closes the loop the shift table
# motivates — re-run domain_mix_planner's uniform-rebalance weights
# on the POST-GATE corpus and report how much each source's sampling
# weight must move to keep the trained mixture on target after
# gating. Per source: kept docs and kept token mass (split-on-space,
# domain_mix_planner's mass convention; the GATE itself stays on the
# tokens() LM grid — the two conventions price different things and
# are both module-pinned), kept token share, the clamped uniform
# weight on the RAW corpus, the clamped uniform weight on the KEPT
# corpus, the signed weight shift, and the kept-side clamp flag.
# Pinned shape: weight_shift_ppm > 0 exactly for sources the gate cut
# HARDER than average (their kept mass shrank relative to the new
# uniform target), so the shift column is the re-balancing order a
# mixture owner actually applies.
# Exact math: the gate is the verified integer-grid bigram LM with
# exact discrete thresholds; weights are single-rounded doubles
# clamped at the module cap (domain_mix_planner's convention).
# Scale: the gate's two count joins + one (lang, source) rank, one
# doc_id-keyed anti-join, two source-domain rollups; weight algebra
# is |sources|-sized.
# --------------------------------------------------------------------------
_PGM_ORACLE = f"""
    WITH {LM_SCORED_CTES}    tagged AS (
      SELECT d.lang, d.source, s.doc_id, s.score_e6,
             ROW_NUMBER() OVER (PARTITION BY d.lang, d.source
                                ORDER BY s.score_e6, s.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d.lang, d.source) AS n_grp
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ),
    cut AS (
      SELECT lang, source,
             MIN(CASE WHEN rn > n_grp * {_PPG_FRAC_PPM} // 1000000
                      THEN score_e6 END) AS exact_thresh_e6
      FROM tagged GROUP BY lang, source
    ),
    pruned AS (
      SELECT t.doc_id
      FROM tagged t JOIN cut c ON c.lang = t.lang
                               AND c.source = t.source
      WHERE t.score_e6 < c.exact_thresh_e6
    ),
    raw_per AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    raw_tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS s FROM raw_per),
    kept_per AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT)
               AS n_tokens
      FROM documents d LEFT JOIN pruned p ON p.doc_id = d.doc_id
      WHERE p.doc_id IS NULL
      GROUP BY d.source
    ),
    kept_tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS s
                 FROM kept_per)
    SELECT k.source,
           k.n_docs AS n_docs_kept,
           k.n_tokens AS n_tokens_kept,
           CAST(ROUND(k.n_tokens * 1000000.0 / kt.t) AS BIGINT)
             AS token_share_kept_ppm,
           CAST(LEAST(
             ROUND((rt.t * 1.0 / rt.s) / r.n_tokens * 1000000.0),
             {_MIX_MAX_WEIGHT_PPM}) AS BIGINT) AS weight_raw_ppm,
           CAST(LEAST(
             ROUND((kt.t * 1.0 / kt.s) / k.n_tokens * 1000000.0),
             {_MIX_MAX_WEIGHT_PPM}) AS BIGINT) AS weight_kept_ppm,
           CAST(LEAST(
             ROUND((kt.t * 1.0 / kt.s) / k.n_tokens * 1000000.0),
             {_MIX_MAX_WEIGHT_PPM}) AS BIGINT)
           - CAST(LEAST(
             ROUND((rt.t * 1.0 / rt.s) / r.n_tokens * 1000000.0),
             {_MIX_MAX_WEIGHT_PPM}) AS BIGINT) AS weight_shift_ppm,
           ROUND((kt.t * 1.0 / kt.s) / k.n_tokens * 1000000.0)
             > {_MIX_MAX_WEIGHT_PPM} AS weight_clamped
    FROM kept_per k
    JOIN raw_per r ON r.source = k.source
    CROSS JOIN raw_tot rt CROSS JOIN kept_tot kt
    ORDER BY k.source
    """


@operator("post_gate_mix_rebalance", oracle=_PGM_ORACLE)
def post_gate_mix_rebalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Uniform-rebalance sampling weights recomputed on the post-
    perplexity-gate corpus, with the signed per-source weight shift
    vs the raw corpus (see block comment)."""
    d = _docs(spark, sf_dir)
    scored = lm_doc_scores(d)
    ws = Window.partitionBy("lang", "source").orderBy(
        "score_e6", "doc_id"
    )
    ranked = (
        scored.join(d.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "lang",
            "source",
            "doc_id",
            "score_e6",
            F.row_number().over(ws).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("lang", "source"))
            .alias("n_grp"),
        )
    )
    cut = ranked.groupBy("lang", "source").agg(
        F.min(
            F.when(
                F.col("rn")
                > F.floor(F.col("n_grp") * _PPG_FRAC_PPM / 1000000),
                F.col("score_e6"),
            )
        ).alias("th")
    )
    pruned = (
        ranked.join(F.broadcast(cut), ["lang", "source"])
        .filter(F.col("score_e6") < F.col("th"))
        .select("doc_id", F.lit(True).alias("is_pruned"))
    )
    mass = d.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("tok"),
    ).join(pruned, "doc_id", "left")
    raw_per = mass.groupBy("source").agg(
        F.sum("tok").cast("bigint").alias("r_tokens")
    )
    raw_tot = raw_per.agg(
        F.sum("r_tokens").alias("rt"), F.count(F.lit(1)).alias("rs")
    )
    kept_per = (
        mass.filter(F.col("is_pruned").isNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
            F.sum("tok").cast("bigint").alias("k_tokens"),
        )
    )
    kept_tot = kept_per.agg(
        F.sum("k_tokens").alias("kt"), F.count(F.lit(1)).alias("ks")
    )
    raw_w = F.round(
        (F.col("rt") / F.col("rs")) / F.col("r_tokens") * 1000000.0
    )
    kept_w = F.round(
        (F.col("kt") / F.col("ks")) / F.col("k_tokens") * 1000000.0
    )
    raw_wc = F.least(raw_w, F.lit(_MIX_MAX_WEIGHT_PPM)).cast("bigint")
    kept_wc = F.least(kept_w, F.lit(_MIX_MAX_WEIGHT_PPM)).cast("bigint")
    return (
        kept_per.join(raw_per, "source")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(kept_tot))
        .select(
            "source",
            "n_docs_kept",
            F.col("k_tokens").alias("n_tokens_kept"),
            F.round(F.col("k_tokens") * 1000000.0 / F.col("kt"))
            .cast("bigint")
            .alias("token_share_kept_ppm"),
            raw_wc.alias("weight_raw_ppm"),
            kept_wc.alias("weight_kept_ppm"),
            (kept_wc - raw_wc).alias("weight_shift_ppm"),
            (kept_w > _MIX_MAX_WEIGHT_PPM).alias("weight_clamped"),
        )
        .orderBy("source")
    )
