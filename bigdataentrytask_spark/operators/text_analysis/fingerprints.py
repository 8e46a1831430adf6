"""Text-analysis package, segment 2 of 3 (former
text_analysis.py lines 1642-3362, split mechanically at section
boundaries; zero behavior change): winnowing fingerprints, template
clusters, length outliers, PMI, the curation compositions, and the
pre-round-10 diagnostic surface."""

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
    _CONTAM_N,
    _DUPGRAM_N,
    _docs,
    _shingle_hashes,
    _sql_shingle_hashes,
    train_test_split,
)

_WIN_K = 3  # shingle width (tokens)
_WIN_W = 4  # winnowing window (shingles)


def winnow_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h): positional k-gram shingle hashes of a
    (doc_id, toks) frame — the winnowing input sequence."""
    # same short-doc guard as ngram_containment_pairs (descending
    # sequence() below _WIN_K tokens)
    return d.filter(F.size("toks") >= _WIN_K).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - _WIN_K),
                lambda i: F.array_join(F.slice("toks", i + 1, _WIN_K), " "),
            )
        ).alias("pos", "g"),
    ).select("doc_id", "pos", token_hash("g").alias("h"))


def winnow_fingerprint_frame(d: DataFrame) -> DataFrame:
    """(doc_id, wmin) distinct winnowing fingerprints of a
    (doc_id, toks) frame — the production core of
    `winnowing_fingerprints`, exposed so the guarantee property
    (any shared run of >= _WIN_W + _WIN_K - 1 tokens shares a
    fingerprint) is testable on planted-duplicate corpora."""
    sh = winnow_shingles(d)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    wins = sh.select(
        "doc_id",
        F.min("h").over(w).alias("wmin"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    return wins.filter(F.col("wn") == _WIN_W).select("doc_id", "wmin").distinct()


@operator(
    "winnowing_fingerprints",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, i AS pos,
             {sql_token_hash("array_to_string(toks[i:i+2], ' ')")} AS h
      FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
           UNNEST(range(1, len(toks) - 1)) AS u(i)
    ),
    wins AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS wmin,
             COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS wn
      FROM sh
    ),
    fps AS (
      SELECT DISTINCT doc_id, wmin FROM wins WHERE wn = {_WIN_W}
    )
    SELECT s.doc_id,
           CAST(COUNT(DISTINCT s.h) AS BIGINT)  AS n_shingles,
           CAST(MAX(f.nf) AS BIGINT)            AS n_fingerprints
    FROM sh s
    JOIN (SELECT doc_id, COUNT(*) AS nf FROM fps GROUP BY 1) f
      ON f.doc_id = s.doc_id
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al., SIGMOD 2003): slide a
    w-shingle window over each document's k-gram hash sequence and
    keep each window's MINIMUM hash — a position-robust fingerprint
    set whose size is ~2/(w+1) of the shingle count, with a guarantee
    that any match of length >= w+k-1 shares a fingerprint. Per-doc
    ROWS windows only; the fingerprint table is the dedup index a
    plagiarism / near-dup service builds at corpus scale."""
    d = _docs(spark, sf_dir).select("doc_id", tokens("text").alias("toks"))
    sh = winnow_shingles(d)
    fps = (
        winnow_fingerprint_frame(d)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nf"))
    )
    per_doc = sh.groupBy("doc_id").agg(
        F.count_distinct("h").alias("n_shingles")
    )
    return (
        per_doc.join(fps, "doc_id")
        .select(
            "doc_id",
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.col("nf").cast("bigint").alias("n_fingerprints"),
        )
        .orderBy("doc_id")
    )


_TPL_PREFIX = 5


@operator(
    "template_prefix_clusters",
    oracle=f"""
    WITH pre AS (
      SELECT doc_id,
             array_to_string(({sql_tokens('text')})[1:{_TPL_PREFIX}], ' ')
               AS prefix
      FROM documents
      WHERE len({sql_tokens('text')}) >= {_TPL_PREFIX}
    )
    SELECT prefix,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM pre GROUP BY 1
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, prefix
    """,
)
def template_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection: documents sharing an identical
    leading-token prefix (headers, scraped templates, licence
    preambles). One hash agg on the prefix string — the cheap first
    pass before the expensive shingle-based dedup runs."""
    d = _docs(spark, sf_dir).select("doc_id", tokens("text").alias("toks"))
    pre = d.filter(F.size("toks") >= _TPL_PREFIX).select(
        "doc_id",
        F.array_join(F.slice("toks", 1, _TPL_PREFIX), " ").alias("prefix"),
    )
    return (
        pre.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "prefix")
    )


@operator(
    "doc_length_outliers",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT)              AS n,
             CAST(SUM(n_tokens) AS BIGINT)         AS sx,
             CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS sxx
      FROM t GROUP BY 1
    )
    SELECT t.doc_id, t.source, t.n_tokens,
           ROUND((t.n_tokens - sx / CAST(n AS DOUBLE))
                 / sqrt(sxx / CAST(n AS DOUBLE)
                        - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))),
                 4) AS z
    FROM t JOIN s ON s.source = t.source
    WHERE ABS((t.n_tokens - sx / CAST(n AS DOUBLE))
              / sqrt(sxx / CAST(n AS DOUBLE)
                     - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))))
          > 2.0
    ORDER BY doc_id
    """,
)
def doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length z-score outliers (|z| > 2) — the
    truncation/concatenation-artifact detector of a curation
    pipeline. Moments from exact integer sums (population std), one
    broadcast join of the per-source moment table."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").alias("sx"),
        F.sum(F.col("n_tokens") * F.col("n_tokens")).alias("sxx"),
    )
    mean = F.col("sx") / F.col("n").cast("double")
    std = F.sqrt(F.col("sxx") / F.col("n").cast("double") - mean * mean)
    z = (F.col("n_tokens") - mean) / std
    return (
        d.join(F.broadcast(s), "source")
        .withColumn("z", F.round(z, 4))
        .filter(F.abs((F.col("n_tokens") - mean) / std) > 2.0)
        .select("doc_id", "source", "n_tokens", "z")
        .orderBy("doc_id")
    )


_PMI_MIN_PAIRS = 5


@operator(
    "keyword_cooccurrence_pmi",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, UNNEST({sql_tokens('text')}) AS tok
            FROM documents)
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM dt),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM dt GROUP BY 1),
    pairs AS (
      SELECT a.tok AS t1, b.tok AS t2, CAST(COUNT(*) AS BIGINT) AS cxy
      FROM dt a JOIN dt b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_PMI_MIN_PAIRS}
    )
    SELECT p.t1, p.t2, p.cxy,
           ROUND(ln(p.cxy * n.nd / CAST(d1.c * d2.c AS DOUBLE)), 6) AS pmi
    FROM pairs p
    JOIN df d1 ON d1.tok = p.t1
    JOIN df d2 ON d2.tok = p.t2
    CROSS JOIN n
    ORDER BY pmi DESC, t1, t2 LIMIT 20
    """,
)
def keyword_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in a
    document (document-level PMI, top associations) — the collocation
    signal topic/phrase mining starts from. Pair expansion is the
    per-doc distinct-token self-join: Σ (distinct tokens per doc)²,
    the basket-expansion bound again (docs here are ~30 distinct
    tokens). All counts exact; one ln per surviving pair."""
    d = _docs(spark, sf_dir)
    dt = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).distinct()
    nd = dt.agg(F.count_distinct("doc_id").alias("nd"))
    df = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    a = dt.select("doc_id", F.col("tok").alias("t1"))
    b = dt.select("doc_id", F.col("tok").alias("t2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= _PMI_MIN_PAIRS)
    )
    d1 = df.select(F.col("tok").alias("t1"), F.col("c").alias("c1"))
    d2 = df.select(F.col("tok").alias("t2"), F.col("c").alias("c2"))
    pmi = F.log(
        F.col("cxy") * F.col("nd") / (F.col("c1") * F.col("c2")).cast("double")
    )
    return (
        pairs.join(d1, "t1")
        .join(d2, "t2")
        .crossJoin(F.broadcast(nd))
        .select("t1", "t2", "cxy", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(20)
    )


def _register_curation_compositions() -> None:
    # the composed oracles read ORACLES entries owned by dedup.py and
    # similarity.py — import them first so text_analysis stays safely
    # importable STANDALONE (no hidden load_all() ordering coupling;
    # both modules are cycle-free w.r.t. this one)
    from bigdataentrytask_spark.operators import (  # noqa: F401
        dedup,
        similarity,
    )
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    # ---- dedup rate by source: where do the duplicates come from? ----
    oracle = f"""
    WITH fps AS (
      SELECT doc_id, source, md5({sql_normalize_text('text')}) AS fp
      FROM documents
    ),
    keep AS (
      SELECT fp, MIN(doc_id) AS keeper FROM fps GROUP BY 1
    )
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT)                            AS n_docs,
           CAST(COUNT(*) FILTER (WHERE f.doc_id <> k.keeper) AS BIGINT)
                                                               AS n_dropped,
           ROUND(COUNT(*) FILTER (WHERE f.doc_id <> k.keeper)
                 / CAST(COUNT(*) AS DOUBLE), 6)                AS drop_rate
    FROM fps f JOIN keep k ON k.fp = f.fp
    GROUP BY 1 ORDER BY source
    """

    @operator("dedup_rate_by_source", oracle=oracle)
    def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact-duplicate drop rate per source (keeper = min doc_id
        per fingerprint — the `dedup_exact` contract) — the
        provenance table that tells a curation team WHICH feed ships
        the duplication. One fingerprint agg + one keyed join."""
        d = _docs(spark, sf_dir).select(
            "doc_id", "source", normalize_text("text").alias("norm")
        ).withColumn("fp", F.md5("norm"))
        keep = d.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
        j = d.join(keep, "fp")
        dropped = (F.col("doc_id") != F.col("keeper")).cast("bigint")
        return (
            j.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(dropped).cast("bigint").alias("n_dropped"),
                F.round(
                    F.sum(dropped) / F.count(F.lit(1)).cast("double"), 6
                ).alias("drop_rate"),
            )
            .orderBy("source")
        )

    # ---- LM-score quality filter: keep/drop census by language ----
    oracle = f"""
    WITH scored AS ({ORACLES["bigram_lm_logprob"]})
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT)                           AS n_scored,
           CAST(COUNT(*) FILTER (WHERE s.avg_logprob >= -7.0) AS BIGINT)
                                                              AS n_keep,
           ROUND(MIN(s.avg_logprob), 6)                       AS worst,
           ROUND(MAX(s.avg_logprob), 6)                       AS best
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY 1 ORDER BY lang
    """

    @operator("perplexity_filter_census", oracle=oracle)
    def perplexity_filter_census(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """LM-likelihood quality gate (the CCNet/KenLM pattern: drop
        text the corpus LM finds surprising) — keep/drop census per
        language at a fixed mean-bigram-logprob threshold. Composes
        the verified `bigram_lm_logprob` plan; the filter itself is
        one predicate over the scored frame."""
        scored = REGISTRY["bigram_lm_logprob"](spark, sf_dir)
        d = _docs(spark, sf_dir).select("doc_id", "lang")
        j = scored.join(d, "doc_id")
        keep = (F.col("avg_logprob") >= -7.0).cast("bigint")
        return (
            j.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_scored"),
                F.sum(keep).cast("bigint").alias("n_keep"),
                F.round(F.min("avg_logprob"), 6).alias("worst"),
                F.round(F.max("avg_logprob"), 6).alias("best"),
            )
            .orderBy("lang")
        )

    # ---- end-to-end dedup funnel: exact -> minhash -> semantic ----
    oracle = f"""
    WITH exact AS ({ORACLES["dedup_exact"]}),
    mh AS ({ORACLES["minhash_dedup"]}),
    sem AS ({ORACLES["semdedup_resolve"]})
    SELECT 'stage1_exact' AS stage,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT)   AS n_in,
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT)       AS n_out
    UNION ALL
    SELECT 'stage2_minhash_pairs',
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT),
           CAST((SELECT COUNT(*) FROM mh) AS BIGINT)
    UNION ALL
    SELECT 'stage3_semantic_keepers',
           CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT),
           CAST((SELECT COUNT(*) FILTER (WHERE keep) FROM sem) AS BIGINT)
    ORDER BY stage
    """

    @operator("dedup_pipeline_funnel", oracle=oracle)
    def dedup_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The three-stage dedup funnel a production corpus runs —
        exact fingerprints, MinHash/LSH near-dup pairs, semantic
        (embedding) keeper resolution — summarized as one
        stage/in/out table. Each stage is the REGISTERED, verified
        operator; this entry pins their composition so a regression
        in any stage moves the funnel."""
        exact_n = REGISTRY["dedup_exact"](spark, sf_dir).count()
        docs_n = _docs(spark, sf_dir).count()
        mh_n = REGISTRY["minhash_dedup"](spark, sf_dir).count()
        sem = REGISTRY["semdedup_resolve"](spark, sf_dir)
        emb_n = sem.count()
        sem_keep = sem.filter(F.col("keep")).count()
        rows = [
            ("stage1_exact", docs_n, exact_n),
            ("stage2_minhash_pairs", exact_n, mh_n),
            ("stage3_semantic_keepers", emb_n, sem_keep),
        ]
        return local_frame(
            spark, rows, "stage string, n_in long, n_out long"
        ).orderBy("stage")


_register_curation_compositions()


@operator(
    "source_char_bigram_entropy",
    oracle="""
    WITH grams AS (
      SELECT source, substr(text, i, 2) AS g
      FROM documents, UNNEST(range(1, length(text))) AS u(i)
    ),
    counts AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, SUM(c) AS n, COUNT(*) AS n_grams
      FROM counts GROUP BY 1
    )
    SELECT c.source,
           CAST(MAX(t.n) AS BIGINT)       AS n_bigrams,
           CAST(MAX(t.n_grams) AS BIGINT) AS n_distinct,
           ROUND(-SUM((c.c / CAST(t.n AS DOUBLE))
                      * ln(c.c / CAST(t.n AS DOUBLE))), 6) AS entropy
    FROM counts c JOIN tot t ON t.source = c.source
    GROUP BY c.source ORDER BY c.source
    """,
)
def source_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram entropy per source — the compressibility /
    gibberish proxy (low entropy = template spam, high = encrypted or
    random junk) that costs one pass, unlike running an actual
    compressor. Bigram expansion is an in-JVM transform over char
    positions (linear in corpus bytes); probabilities from exact
    counts, one ln per distinct bigram."""
    d = _docs(spark, sf_dir)
    # short-text guard (CONTRIBUTING pitfall: sequence() descends when
    # its stop < start, so a 0/1-char doc would emit phantom grams
    # where the oracle's range() is empty)
    grams = d.filter(F.length("text") >= 2).select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 1),
                lambda i: F.col("text").substr(i, F.lit(2)),
            )
        ).alias("g"),
    )
    counts = grams.groupBy("source", "g").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_grams")
    )
    j = counts.join(tot, "source")
    p = F.col("c") / F.col("n").cast("double")
    return (
        j.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_bigrams"),
            F.max("n_grams").cast("bigint").alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Shingle document-frequency distribution (round 7): the sizing
# diagnostic BEHIND the df-cap that ngram_containment_pairs depends
# on. Buckets the corpus's distinct trigram shingles by how many
# documents each appears in; the head buckets (df=1) carry identity
# signal, the tail (df>10) is the stop-shingle mass a containment
# join must cap away (its join cost is Σ df²). One explode + one
# grouped count on the shingle hash + one 5-key rollup — exactly the
# plan that runs before choosing _CONT_DF_CAP at 100 TB.
# --------------------------------------------------------------------------
_SDF_N = 3


@operator(
    "shingle_df_distribution",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, {_sql_shingle_hashes(_SDF_N)} AS hashes
      FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
    ),
    df AS (
      SELECT u.h, CAST(COUNT(*) AS BIGINT) AS df
      FROM g, UNNEST(g.hashes) AS u(h) GROUP BY u.h
    )
    SELECT CASE WHEN df = 1 THEN 'a_unique'
                WHEN df = 2 THEN 'b_df2'
                WHEN df <= 5 THEN 'c_df3_5'
                WHEN df <= 10 THEN 'd_df6_10'
                ELSE 'e_df11_plus' END            AS df_bucket,
           CAST(COUNT(*) AS BIGINT)               AS n_shingles,
           CAST(SUM(df) AS BIGINT)                AS occurrence_mass,
           CAST(SUM(CAST(df AS HUGEINT) * df) AS BIGINT) AS join_cost_df2
    FROM df GROUP BY 1 ORDER BY df_bucket
    """,
)
def shingle_df_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    g = d.select("doc_id", _shingle_hashes(_SDF_N).alias("hashes"))
    df = (
        g.select(F.explode("hashes").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    bucket = (
        F.when(F.col("df") == 1, "a_unique")
        .when(F.col("df") == 2, "b_df2")
        .when(F.col("df") <= 5, "c_df3_5")
        .when(F.col("df") <= 10, "d_df6_10")
        .otherwise("e_df11_plus")
    )
    dec = F.col("df").cast("decimal(38,0)")
    return (
        df.groupBy(bucket.alias("df_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("df").cast("bigint").alias("occurrence_mass"),
            F.sum(dec * F.col("df")).cast("bigint").alias("join_cost_df2"),
        )
        .orderBy("df_bucket")
    )


# --------------------------------------------------------------------------
# Lexicon hit rate per source: docs containing any lexicon token and
# hits per 1000 tokens — the blocklist/topic-lexicon screen shape
# (the real list would be domain terms, unsafe-content terms, or a
# compliance blocklist; the mechanics are identical). The lexicon is
# a literal array (broadcast by construction); per-row math is pure
# codegen; one shuffle on |sources| keys.
# --------------------------------------------------------------------------
_LEXICON = ["spark", "stream", "merge", "join"]


@operator(
    "lexicon_hit_rate",
    oracle=f"""
    WITH t AS (
      SELECT source, {sql_tokens('text')} AS toks FROM documents
    ), h AS (
      SELECT source,
             len(toks) AS n_toks,
             len(list_filter(toks, x -> x IN
                 ({", ".join(repr(w) for w in _LEXICON)}))) AS hits
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)               AS n_docs,
           CAST(count_if(hits > 0) AS BIGINT)     AS docs_with_hit,
           CAST(SUM(hits) AS BIGINT)              AS total_hits,
           ROUND(SUM(hits) * 1000.0 / SUM(n_toks), 6) AS hits_per_1k_tokens
    FROM h GROUP BY source ORDER BY source
    """,
)
def lexicon_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = tokens("text")
    lex = F.array(*[F.lit(w) for w in _LEXICON])
    # count occurrences (array_intersect would dedup and undercount)
    hits = F.size(F.filter(toks, lambda x: F.array_contains(lex, x)))
    h = d.select(
        "source", F.size(toks).alias("n_toks"), hits.alias("hits")
    )
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("hits") > 0, 1)).alias("docs_with_hit"),
            F.sum("hits").cast("bigint").alias("total_hits"),
            F.round(
                F.sum("hits") * 1000.0 / F.sum("n_toks"), 6
            ).alias("hits_per_1k_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Dataset datacard: the CUBE over (source, lang) a corpus release
# ships with — every marginal and the grand total in one pass
# (grouping-set aggregation shuffles each input row once per
# grouping, all map-side combinable; the flags disambiguate NULL
# group values from NULL-as-total).
# --------------------------------------------------------------------------
@operator(
    "corpus_datacard_summary",
    oracle=f"""
    SELECT source, lang,
           GROUPING(source) AS g_source,
           GROUPING(lang)   AS g_lang,
           CAST(COUNT(*) AS BIGINT)          AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)      AS total_chars,
           CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS total_tokens,
           ROUND(SUM(len({sql_tokens('text')}))
                 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_tokens
    FROM documents
    GROUP BY CUBE (source, lang)
    ORDER BY g_source, g_lang, source NULLS FIRST, lang NULLS FIRST
    """,
)
def corpus_datacard_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n_toks = F.size(tokens("text"))
    return (
        d.select("source", "lang", "n_chars", n_toks.alias("n_toks"))
        .cube("source", "lang")
        .agg(
            F.grouping("source").alias("g_source"),
            F.grouping("lang").alias("g_lang"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("n_toks") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_tokens"),
        )
        .orderBy(
            "g_source",
            "g_lang",
            F.col("source").asc_nulls_first(),
            F.col("lang").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# Heaps'-law vocabulary growth fit (round-8 slate): V(n) ~ K * n^beta
# where V(n) = distinct vocabulary after the first n tokens of the
# corpus (doc_id order). The scalable trick: V at each checkpoint is
# "tokens whose FIRST occurrence falls at or before the checkpoint"
# — one min(first-position) per token, then a count per checkpoint;
# no sequential scan, no per-prefix distinct. beta/K by log-log OLS
# over the checkpoints. Corpus position comes from the running token
# count over doc_id order (a window over the |docs| aggregate, not
# the token stream).
# --------------------------------------------------------------------------
_HEAPS_CHECKPOINTS = [10, 25, 50, 75, 100]  # percent of docs


@operator(
    "heaps_law_fit",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ),
    firsts AS (
      SELECT u.tok, MIN(doc_id) AS first_doc
      FROM docs, UNNEST(docs.toks) AS u(tok)
      GROUP BY u.tok
    ),
    doc_sizes AS (
      SELECT doc_id, len(toks) AS n_toks,
             SUM(len(toks)) OVER (ORDER BY doc_id) AS cum_toks
      FROM docs
    ),
    marks AS (
      SELECT UNNEST([{", ".join(str(p) for p in _HEAPS_CHECKPOINTS)}]) AS p,
             UNNEST((SELECT quantile_disc(doc_id,
                       [{", ".join(str(p / 100.0) for p in _HEAPS_CHECKPOINTS)}])
                     FROM doc_sizes))::BIGINT AS cut_doc
    ),
    points AS (
      SELECT m.p,
             (SELECT CAST(MAX(cum_toks) AS BIGINT) FROM doc_sizes
              WHERE doc_id <= m.cut_doc)                  AS n_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
              WHERE first_doc <= m.cut_doc)               AS vocab
      FROM marks m
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_pts,
             SUM(ln(n_tokens))                 AS sx,
             SUM(ln(vocab))                    AS sy,
             SUM(ln(n_tokens) * ln(n_tokens))  AS sxx,
             SUM(ln(n_tokens) * ln(vocab))     AS sxy
      FROM points
    )
    SELECT p, n_tokens, vocab,
           ROUND((f.k_pts * f.sxy - f.sx * f.sy)
                 / (f.k_pts * f.sxx - f.sx * f.sx), 6) AS heaps_beta,
           ROUND(exp((f.sy - (f.k_pts * f.sxy - f.sx * f.sy)
                      / (f.k_pts * f.sxx - f.sx * f.sx) * f.sx)
                     / f.k_pts), 6)                    AS heaps_k
    FROM points CROSS JOIN fit f
    ORDER BY p
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    docs = d.select("doc_id", tokens("text").alias("toks"))
    firsts = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    w = Window.orderBy("doc_id")
    doc_sizes = docs.select(
        "doc_id", F.size("toks").alias("n_toks")
    ).withColumn("cum_toks", F.sum("n_toks").over(w))
    marks = doc_sizes.agg(
        *[
            F.expr(f"percentile_disc({p / 100.0}) WITHIN GROUP (ORDER BY doc_id)")
            .cast("bigint")
            .alias(f"cut_{p}")
            for p in _HEAPS_CHECKPOINTS
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("p"), F.col(f"cut_{p}").alias("cut_doc")
                    )
                    for p in _HEAPS_CHECKPOINTS
                ]
            )
        ).alias("m")
    ).select("m.p", "m.cut_doc")
    points = (
        marks.join(
            doc_sizes.select("doc_id", "cum_toks"),
            doc_sizes.doc_id <= F.col("cut_doc"),
        )
        .groupBy("p", "cut_doc")
        .agg(F.max("cum_toks").cast("bigint").alias("n_tokens"))
        .join(
            marks.join(
                firsts, firsts.first_doc <= F.col("cut_doc"), "left"
            )
            .groupBy("p")
            .agg(F.count("tok").cast("bigint").alias("vocab")),
            "p",
        )
        .select("p", "n_tokens", "vocab")
    )
    lx = F.log("n_tokens")
    ly = F.log("vocab")
    fit = points.agg(
        F.count(F.lit(1)).alias("k_pts"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    beta = (F.col("k_pts") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k_pts") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    k = F.exp((F.col("sy") - beta * F.col("sx")) / F.col("k_pts"))
    return (
        points.crossJoin(F.broadcast(fit))
        .select(
            "p",
            "n_tokens",
            "vocab",
            F.round(beta, 6).alias("heaps_beta"),
            F.round(k, 6).alias("heaps_k"),
        )
        .orderBy("p")
    )


# --------------------------------------------------------------------------
# N-gram novelty curve over ingestion batches (round-8 slate): split
# the corpus into doc_id-ordered batches of 100 and measure, per
# batch, the fraction of its distinct 3-gram hashes never seen in any
# EARLIER batch. The time-axis companion to heaps_law_fit (which
# grows vocabulary over corpus SIZE): a crawl whose novelty rate
# collapses is re-crawling itself — the signal that tells a pipeline
# to stop paying for a source. First occurrence = min(batch) per
# hash: one grouped pass over the exploded shingles, no sequential
# scan, so the curve is a plain keyed aggregation at 100 TB.
# --------------------------------------------------------------------------
@operator(
    "ngram_novelty_curve",
    oracle=f"""
    WITH g AS (
      SELECT doc_id // 100 AS batch, {_sql_shingle_hashes(_DUPGRAM_N)} AS hashes
      FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
    ),
    e AS (
      SELECT DISTINCT batch, u.h FROM g, UNNEST(g.hashes) AS u(h)
    ),
    firsts AS (SELECT h, CAST(MIN(batch) AS BIGINT) AS fb FROM e GROUP BY h),
    per AS (
      SELECT e.batch,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_ngrams,
             CAST(count_if(f.fb = e.batch) AS BIGINT) AS n_novel
      FROM e JOIN firsts f ON f.h = e.h
      GROUP BY 1
    )
    SELECT CAST(batch AS BIGINT) AS batch, n_distinct_ngrams, n_novel,
           ROUND(CAST(n_novel AS DOUBLE) / n_distinct_ngrams, 6)
             AS novelty_rate
    FROM per ORDER BY batch
    """,
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.expr("doc_id div 100").alias("batch"),
        _shingle_hashes(_DUPGRAM_N).alias("hashes"),
    )
    e = (
        d.select("batch", F.explode("hashes").alias("h"))
        .distinct()
    )
    firsts = e.groupBy("h").agg(F.min("batch").cast("bigint").alias("fb"))
    per = (
        e.join(firsts, "h")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_ngrams"),
            F.sum(F.when(F.col("fb") == F.col("batch"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per.select(
        F.col("batch").cast("bigint").alias("batch"),
        "n_distinct_ngrams",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_distinct_ngrams"), 6
        ).alias("novelty_rate"),
    ).orderBy("batch")


# --------------------------------------------------------------------------
# Train/val split leakage audit (round-8 slate): AFTER the hash-based
# split, how many validation documents still share a 5-gram with the
# training side? Document-level splits do NOT remove content overlap
# (near-duplicate docs land on both sides), and this operator measures
# exactly that residual — the eval-hygiene number to report next to
# any benchmark score. Composes the registered split rule
# (train_test_split's md5-bucket — interpolated from its oracle, so a
# split change breaks this audit loudly) with the corpus shingle
# machinery (decontaminate_ngram's _CONTAM_N). Shape at 100 TB: one
# exploded-shingle distinct + a semi-join of val grams against the
# train gram set (hash-partitioned on the gram key) — the same plan
# family as incremental_dedup_merge.
# --------------------------------------------------------------------------
def _register_split_leakage_audit() -> None:
    from bigdataentrytask_spark.operators import ORACLES

    oracle = f"""
    WITH splits AS ({ORACLES["train_test_split"]}),
    g AS (
      SELECT doc_id, {_sql_shingle_hashes(_CONTAM_N)} AS hashes
      FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
    ),
    e AS (
      SELECT DISTINCT g.doc_id, s.split, u.h
      FROM g JOIN splits s ON s.doc_id = g.doc_id, UNNEST(g.hashes) AS u(h)
    ),
    train_h AS (SELECT DISTINCT h FROM e WHERE split = 'train'),
    val AS (
      SELECT e.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(count_if(t.h IS NOT NULL) AS BIGINT) AS n_leaked
      FROM e LEFT JOIN train_h t ON t.h = e.h
      WHERE e.split = 'val'
      GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_val_docs,
           CAST(count_if(n_leaked > 0) AS BIGINT) AS n_contaminated_docs,
           CAST(SUM(n_grams) AS BIGINT) AS total_val_grams,
           CAST(SUM(n_leaked) AS BIGINT) AS total_leaked_grams,
           ROUND(CAST(SUM(n_leaked) AS DOUBLE) / SUM(n_grams), 6)
             AS leaked_gram_share,
           ROUND(CAST(count_if(n_leaked > 0) AS DOUBLE) / COUNT(*), 6)
             AS contaminated_doc_share
    FROM val
    """

    @operator("split_leakage_audit", oracle=oracle)
    def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
        splits = train_test_split(spark, sf_dir)
        g = _docs(spark, sf_dir).select(
            "doc_id", _shingle_hashes(_CONTAM_N).alias("hashes")
        )
        e = (
            g.join(splits, "doc_id")
            .select("doc_id", "split", F.explode("hashes").alias("h"))
            .distinct()
        )
        train_h = (
            e.filter(F.col("split") == "train").select("h").distinct()
            .withColumn("in_train", F.lit(1))
        )
        val = (
            e.filter(F.col("split") == "val")
            .join(train_h, "h", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                F.sum(F.when(F.col("in_train").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_leaked"),
            )
        )
        return val.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_val_docs"),
            F.sum(F.when(F.col("n_leaked") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated_docs"),
            F.sum("n_grams").cast("bigint").alias("total_val_grams"),
            F.sum("n_leaked").cast("bigint").alias("total_leaked_grams"),
            F.round(
                F.sum("n_leaked").cast("double") / F.sum("n_grams"), 6
            ).alias("leaked_gram_share"),
            F.round(
                F.sum(F.when(F.col("n_leaked") > 0, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("contaminated_doc_share"),
        )


_register_split_leakage_audit()


# --------------------------------------------------------------------------
# BM25 retrieval top-k (round-8 slate): Okapi BM25 over the corpus for
# a fixed query set — the ranking function behind every lexical
# retrieval stage of a RAG / dedup-by-retrieval pipeline, and the
# scoring-side dual of inverted_index (which materializes the postings
# this query plan would read). idf uses the +1-robust form
# ln(1 + (N - df + 0.5)/(df + 0.5)); both engines evaluate the SAME
# expression tree on integers (tf, df, doclen, N, total tokens), so
# the doubles — and therefore the top-k order — are engine-identical.
#
# Scale posture (100 TB): tokenization + (doc,term) tf agg is the one
# fact-scale shuffle; df and the corpus length stats are term- and
# 1-row-sized broadcasts; the query-term table is a literal broadcast,
# so scoring touches ONLY postings of query terms (the inverted-index
# access path, expressed declaratively — Catalyst prunes everything
# else at the tf join). Top-k per query is a |queries|-partition
# window over candidate docs, never a global sort.
# --------------------------------------------------------------------------
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 5
_BM25_QUERIES = [
    ("q1", "spark"), ("q1", "join"), ("q1", "agg"),
    ("q2", "window"), ("q2", "sort"), ("q2", "stream"),
    ("q3", "hash"), ("q3", "merge"), ("q3", "scan"),
]


def _register_bm25_topk() -> None:
    qvals = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    oracle = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({sql_tokens('text')}) AS term FROM documents
    ),
    doclen AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM toks GROUP BY 1),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(dl) AS BIGINT) AS total_toks
              FROM doclen),
    q(query_id, term) AS (VALUES {qvals}),
    scored AS (
      -- per-term contributions snapped to a 1e-12 integer grid so the
      -- per-doc SUM is exact under ANY accumulation order (the same
      -- trick as lsh_scurve_design's probability sums)
      SELECT q.query_id, tf.doc_id,
             CAST(SUM(CAST(ROUND(
               ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                   + {_BM25_B} * CAST(dl AS DOUBLE)
                     / (CAST(total_toks AS DOUBLE) / CAST(n AS DOUBLE))))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS score_e12
      FROM q
      JOIN tf ON tf.term = q.term
      JOIN df ON df.term = q.term
      JOIN doclen ON doclen.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, doc_id, score_e12,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score_e12 DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id,
           ROUND(CAST(score_e12 AS DOUBLE) / 1000000000000.0, 6) AS bm25
    FROM ranked WHERE rnk <= {_BM25_K}
    ORDER BY query_id, rnk
    """

    @operator("bm25_topk", oracle=oracle)
    def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = _docs(spark, sf_dir)
        toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
        doclen = toks.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("dl")
        )
        tf = toks.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("tf")
        )
        df_ = toks.groupBy("term").agg(
            F.countDistinct("doc_id").cast("bigint").alias("df")
        )
        stats = doclen.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("dl").cast("bigint").alias("total_toks"),
        )
        q = local_frame(spark, _BM25_QUERIES, "query_id string, term string")
        idf = F.log(
            1
            + (F.col("n").cast("double") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
        )
        norm = F.col("tf") + _BM25_K1 * (
            1.0
            - _BM25_B
            + _BM25_B
            * F.col("dl").cast("double")
            / (F.col("total_toks").cast("double") / F.col("n").cast("double"))
        )
        term_score = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / norm
        scored = (
            F.broadcast(q)
            .join(tf, "term")
            .join(F.broadcast(df_), "term")
            .join(doclen, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum(F.round(term_score * 1000000000000.0).cast("bigint"))
                .cast("bigint")
                .alias("score_e12")
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score_e12").desc(), "doc_id"
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _BM25_K)
            .select(
                "query_id",
                F.col("rnk").cast("bigint").alias("rnk"),
                "doc_id",
                F.round(
                    F.col("score_e12").cast("double") / 1000000000000.0, 6
                ).alias("bm25"),
            )
            .orderBy("query_id", "rnk")
        )


_register_bm25_topk()


# --------------------------------------------------------------------------
# Term burstiness profile (Church-Gale): for the 20 highest-volume
# terms, the variance-to-mean ratio of per-document counts (zeros
# included ANALYTICALLY — var over all N docs needs only the present-
# doc power sums plus N) and the adaptation probability p(2+ | 1+) =
# df2/df. Function words arrive ~Poisson (VMR near 1, low
# adaptation); content words are bursty (VMR >> 1) — the classic
# signal for stopword synthesis and quality weighting that plain
# frequency cannot give. Distinct from events_burstiness (a TIME-
# series Fano factor over event arrivals). One (term, doc) count
# agg -> one per-term agg; top-20 cut is a total order (count desc,
# term). VMR = (s2 - total^2/N) / total, pinned identically on both
# engines from exact integers.
# --------------------------------------------------------------------------
@operator(
    "term_burstiness_profile",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({sql_tokens('text')}) AS term FROM documents
    ),
    td AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    per_term AS (
      SELECT term,
             CAST(SUM(c) AS BIGINT)             AS total_count,
             CAST(COUNT(*) AS BIGINT)           AS doc_freq,
             CAST(count_if(c >= 2) AS BIGINT)   AS doc_freq_2plus,
             CAST(SUM(c * c) AS BIGINT)         AS s2
      FROM td GROUP BY 1
    )
    SELECT term, total_count, doc_freq,
           ROUND((CAST(s2 AS DOUBLE)
                  - CAST(total_count AS DOUBLE) * total_count / n.n_docs)
                 / total_count, 6)                      AS vmr,
           ROUND(CAST(doc_freq_2plus AS DOUBLE) / doc_freq, 6)
                                                        AS adaptation
    FROM per_term CROSS JOIN n
    ORDER BY total_count DESC, term
    LIMIT 20
    """,
)
def term_burstiness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    td = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    per_term = td.groupBy("term").agg(
        F.sum("c").cast("bigint").alias("total_count"),
        F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
        F.count(F.when(F.col("c") >= 2, 1)).cast("bigint")
        .alias("doc_freq_2plus"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    out = per_term.crossJoin(F.broadcast(n))
    return (
        out.select(
            "term", "total_count", "doc_freq",
            F.round(
                (
                    F.col("s2").cast("double")
                    - F.col("total_count").cast("double")
                    * F.col("total_count") / F.col("n_docs")
                )
                / F.col("total_count"), 6
            ).alias("vmr"),
            F.round(
                F.col("doc_freq_2plus").cast("double") / F.col("doc_freq"), 6
            ).alias("adaptation"),
        )
        .orderBy(F.desc("total_count"), "term")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Flesch-lite readability per source: words/sentence and
# syllables/word from three integer counts per document (tokens;
# '[.!?]+' sentence breaks; '[aeiouy]+' vowel groups as the syllable
# proxy — both RE2-safe, no backreferences), the per-document Flesch
# reading-ease score snapped onto a 1e6 grid BEFORE the per-source
# mean (snap-before-sum), and the corpus-level ratios computed from
# summed integers (ratio-of-sums, not mean-of-ratios). Pure column
# expressions + one grouped agg — the same shape as text_quality,
# adding the readability axis curation pipelines bucket on.
# --------------------------------------------------------------------------
@operator(
    "readability_scores",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             CAST(len({sql_tokens('text')}) AS BIGINT)                 AS w,
             CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT)                                           AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT)                                           AS syl
      FROM documents
    ), scored AS (
      SELECT source, w, s, syl,
             CAST(ROUND((206.835
                         - 1.015 * (CAST(w AS DOUBLE) / s)
                         - 84.6 * (CAST(syl AS DOUBLE) / w)) * 1000000.0)
                  AS BIGINT) AS fg
      FROM per_doc WHERE w > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                       AS n_docs,
           ROUND(CAST(SUM(w) AS DOUBLE) / SUM(s), 6)      AS words_per_sentence,
           ROUND(CAST(SUM(syl) AS DOUBLE) / SUM(w), 6)    AS syllables_per_word,
           ROUND(CAST(SUM(fg) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
                                                          AS mean_flesch
    FROM scored GROUP BY source ORDER BY source
    """,
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    per_doc = d.select(
        "source",
        F.size(tokens("text")).cast("bigint").alias("w"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
        ).cast("bigint").alias("s"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("bigint").alias("syl"),
    )
    scored = per_doc.filter(F.col("w") > 0).select(
        "source", "w", "s", "syl",
        F.round(
            (
                F.lit(206.835)
                - 1.015 * (F.col("w").cast("double") / F.col("s"))
                - 84.6 * (F.col("syl").cast("double") / F.col("w"))
            )
            * 1000000.0
        ).cast("bigint").alias("fg"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("w").cast("double") / F.sum("s"), 6)
            .alias("words_per_sentence"),
            F.round(F.sum("syl").cast("double") / F.sum("w"), 6)
            .alias("syllables_per_word"),
            F.round(
                F.sum("fg").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
            ).alias("mean_flesch"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# OOV-rate sweep under vocabulary truncation: if the tokenizer keeps
# only the top-V token types (V in 500 / 1000 / 2000 / 5000), what
# share of token OCCURRENCES and of DOCUMENTS-with-an-OOV does the
# corpus lose? Token ranks come from one count table + one window
# over the (vocab-sized) type domain; the four vocab sizes are
# joinless conditional aggregates (the stack() pattern — no per-V
# scan, no theta join). The truncation-side twin of vocab_coverage
# (fixed external vocab) and tokenizer_compression_ratio (economics).
# --------------------------------------------------------------------------
@operator(
    "oov_rate_vocab_sweep",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({sql_tokens('text')}) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
    ),
    ranked AS (
      SELECT tok, c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk
      FROM counts
    ),
    m AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total_occ,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(COALESCE(SUM(CASE WHEN rnk > 500 THEN c END), 0)
                  AS BIGINT) AS oov500,
             CAST(COALESCE(SUM(CASE WHEN rnk > 1000 THEN c END), 0)
                  AS BIGINT) AS oov1000,
             CAST(COALESCE(SUM(CASE WHEN rnk > 2000 THEN c END), 0)
                  AS BIGINT) AS oov2000,
             CAST(COALESCE(SUM(CASE WHEN rnk > 5000 THEN c END), 0)
                  AS BIGINT) AS oov5000
      FROM ranked
    )
    SELECT vocab_size, n_types, total_occ, oov_occurrences,
           ROUND(CAST(oov_occurrences AS DOUBLE) / total_occ, 6)
             AS oov_rate
    FROM (
      SELECT 500 AS vocab_size, n_types, total_occ,
             oov500 AS oov_occurrences FROM m
      UNION ALL SELECT 1000, n_types, total_occ, oov1000 FROM m
      UNION ALL SELECT 2000, n_types, total_occ, oov2000 FROM m
      UNION ALL SELECT 5000, n_types, total_occ, oov5000 FROM m
    )
    ORDER BY vocab_size
    """,
)
def oov_rate_vocab_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ranked = counts.select(
        "c",
        F.row_number().over(Window.orderBy(F.desc("c"), "tok")).alias("rnk"),
    )
    oov = {
        v: F.coalesce(
            F.sum(F.when(F.col("rnk") > v, F.col("c"))), F.lit(0)
        ).cast("bigint")
        for v in (500, 1000, 2000, 5000)
    }
    m = ranked.agg(
        F.sum("c").cast("bigint").alias("total_occ"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        *(oov[v].alias(f"oov{v}") for v in (500, 1000, 2000, 5000)),
    )
    stacked = m.select(
        F.expr(
            "stack(4, 500, oov500, 1000, oov1000, 2000, oov2000,"
            " 5000, oov5000) AS (vocab_size, oov_occurrences)"
        ),
        "n_types", "total_occ",
    )
    return stacked.select(
        F.col("vocab_size").cast("int").alias("vocab_size"),
        "n_types", "total_occ",
        F.col("oov_occurrences").cast("bigint").alias("oov_occurrences"),
        F.round(
            F.col("oov_occurrences").cast("double") / F.col("total_occ"), 6
        ).alias("oov_rate"),
    ).orderBy("vocab_size")


# --------------------------------------------------------------------------
# Prefix-filtering set-similarity join (the PPJoin-family principle):
# for Jaccard >= 0.8, two token SETS must share at least one token
# among each document's floor((1-t)*|s|)+1 RAREST tokens (global-
# frequency order; any common total order works) — so candidate
# generation joins only on those prefix tokens instead of every
# token, and the postings involved are by construction the SHORTEST
# ones. The oracle is the exact quadratic jaccard_pairs: equality
# proves the filter is COMPLETE (no pair lost), not just fast — the
# same honest-twin contract as minhash (which is probabilistic; this
# filter is lossless). Scale: candidate volume is bounded by the sum
# of squared RARE-token document frequencies — the Sigma df^2 bound
# over the smallest dfs, the quantity shingle_df_distribution
# reports; the verify step touches only candidates.
# --------------------------------------------------------------------------
@operator(
    "jaccard_prefix_filter_join",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def jaccard_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    ordered = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("by_rarity"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    # prefix length for t = 0.8: floor(0.2 * n) + 1
    prefix = ordered.select(
        "doc_id", "n",
        F.explode(
            F.slice(
                F.col("by_rarity"), 1,
                (F.floor(F.col("n") * 0.2) + 1).cast("int"),
            )
        ).alias("p"),
    ).select("doc_id", "n", F.col("p.tok").alias("tok"))
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("tok")
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("tok")
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = d.select(
        "doc_id", F.array_distinct(tokens("text")).alias("s")
    )
    verified = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("s").alias("sa")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"),
                          F.col("s").alias("sb")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("bigint").alias("i"),
            F.size("sa").cast("bigint").alias("na"),
            F.size("sb").cast("bigint").alias("nb"),
        )
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
    return (
        verified.filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# K-fold metric stability: the classifier-vs-heuristic agreement
# (classifier_eval_metrics' headline) re-measured inside 5 md5-hash
# folds, with the across-fold mean and spread of accuracy — the
# cheap answer to "is that 0.9 accuracy a property of the model or
# of one lucky subset?". Folds are deterministic (portable md5 mod
# 5); per-fold confusion cells are conditional integer aggregates in
# ONE pass; the cross-fold mean sums 6-dp-snapped accuracies
# (order-free). Composes the two verified per-doc plans (classifier
# keep flag = pred; heuristic filter membership = truth).
# --------------------------------------------------------------------------
def _register_kfold_metric_stability() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH pred AS ({ORACLES["quality_classifier_score"]}),
    truth AS ({ORACLES["quality_filter"]}),
    joined AS (
      SELECT p.doc_id,
             ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 5 AS fold,
             p.keep AS pred,
             (t.doc_id IS NOT NULL) AS truth
      FROM pred p LEFT JOIN truth t ON t.doc_id = p.doc_id
    ),
    per_fold AS (
      SELECT fold,
             CAST(count_if(pred AND truth) AS BIGINT)         AS tp,
             CAST(count_if(pred AND NOT truth) AS BIGINT)     AS fp,
             CAST(count_if(NOT pred AND truth) AS BIGINT)     AS fn,
             CAST(count_if(NOT pred AND NOT truth) AS BIGINT) AS tn
      FROM joined GROUP BY 1
    ),
    scored AS (
      SELECT fold, tp, fp, fn, tn,
             ROUND((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6)
               AS accuracy,
             ROUND(2.0 * tp / CAST(GREATEST(2 * tp + fp + fn, 1) AS DOUBLE), 6)
               AS f1
      FROM per_fold
    ),
    agg AS (
      SELECT ROUND(SUM(CAST(ROUND(accuracy * 1000000.0) AS BIGINT))
                   / COUNT(*) / 1000000.0, 6) AS acc_mean,
             ROUND(MAX(accuracy) - MIN(accuracy), 6) AS acc_spread
      FROM scored
    )
    SELECT s.fold, s.tp, s.fp, s.fn, s.tn, s.accuracy, s.f1,
           a.acc_mean, a.acc_spread
    FROM scored s CROSS JOIN agg a
    ORDER BY s.fold
    """

    @operator("kfold_metric_stability", oracle=oracle)
    def kfold_metric_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
        pred = REGISTRY["quality_classifier_score"](spark, sf_dir).select(
            "doc_id", F.col("keep").alias("pred")
        )
        truth = REGISTRY["quality_filter"](spark, sf_dir).select(
            F.col("doc_id").alias("t_id")
        )
        fold = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                   16, 10).cast("bigint") % 5
        )
        joined = pred.join(
            truth, pred.doc_id == truth.t_id, "left"
        ).select(
            fold.alias("fold"),
            "pred",
            F.col("t_id").isNotNull().alias("truth"),
        )
        p, t = F.col("pred"), F.col("truth")
        per_fold = joined.groupBy("fold").agg(
            F.count(F.when(p & t, 1)).cast("bigint").alias("tp"),
            F.count(F.when(p & ~t, 1)).cast("bigint").alias("fp"),
            F.count(F.when(~p & t, 1)).cast("bigint").alias("fn"),
            F.count(F.when(~p & ~t, 1)).cast("bigint").alias("tn"),
        )
        total = (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"))
        scored = per_fold.select(
            "fold", "tp", "fp", "fn", "tn",
            F.round(
                (F.col("tp") + F.col("tn")) / total.cast("double"), 6
            ).alias("accuracy"),
            F.round(
                2.0 * F.col("tp")
                / F.greatest(
                    2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)
                ).cast("double"), 6
            ).alias("f1"),
        )
        agg = scored.agg(
            F.round(
                F.sum(F.round(F.col("accuracy") * 1000000.0).cast("bigint"))
                / F.count(F.lit(1)) / 1000000.0, 6
            ).alias("acc_mean"),
            F.round(F.max("accuracy") - F.min("accuracy"), 6)
            .alias("acc_spread"),
        )
        return (
            scored.crossJoin(F.broadcast(agg))
            .select("fold", "tp", "fp", "fn", "tn", "accuracy", "f1",
                    "acc_mean", "acc_spread")
            .orderBy("fold")
        )


_register_kfold_metric_stability()


# --------------------------------------------------------------------------
# The production similarity-join PIPELINE the stress DNF mandates:
# exact-dedup FIRST (one hash groupBy collapsing identical texts to
# their min-doc_id representative — duplication clusters vanish in
# one cheap pass), THEN the lossless prefix-filter join on the
# representatives. Against the raw jaccard_prefix_filter_join (which
# the 8x-duplication stress DNF'd, SCALE.md), this is the ordering
# dedup_pipeline_funnel documents — here made a single verified
# operator. Oracle = exact quadratic jaccard over representatives,
# so completeness of the composed pipeline is the checked contract.
# --------------------------------------------------------------------------
@operator(
    "dedup_then_prefix_filter",
    oracle=f"""
    WITH reps AS (
      SELECT MIN(doc_id) AS doc_id, ANY_VALUE(text) AS text
      FROM documents GROUP BY md5(text)
    ),
    toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM reps
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_then_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    reps = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text"))
        .select("doc_id", "text")
    )
    toks = reps.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    ordered = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("by_rarity"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    prefix = ordered.select(
        "doc_id",
        F.explode(
            F.slice(
                F.col("by_rarity"), 1,
                (F.floor(F.col("n") * 0.2) + 1).cast("int"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.tok").alias("tok"))
    a = prefix.select(F.col("doc_id").alias("doc_a"), "tok")
    b = prefix.select(F.col("doc_id").alias("doc_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = reps.select(
        "doc_id", F.array_distinct(tokens("text")).alias("s")
    )
    verified = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("s").alias("sa")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"),
                          F.col("s").alias("sb")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("bigint").alias("i"),
            F.size("sa").cast("bigint").alias("na"),
            F.size("sb").cast("bigint").alias("nb"),
        )
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
    return (
        verified.filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Boilerplate chunk census. Crawled corpora carry repeated
# headers/footers; the standard detector is "does a document's LEADING (or
# TRAILING) fixed-size chunk hash-match another document of the same
# source?". Per source: doc count, shared-head share, shared-tail share
# (ppm) — the table that decides whether a source needs boilerplate
# stripping before dedup (a shared header inflates every Jaccard score).
#
# Scale: two (source, chunk) aggregations over one chunk per doc each
# — map-side partial, source-sized output; no pair enumeration.
# --------------------------------------------------------------------------
_BP_WORDS = 10


_BOILERPLATE_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    ht AS (
      SELECT doc_id, source,
             array_to_string(list_slice(ws, 1, {_BP_WORDS}), ' ') AS head,
             array_to_string(
               list_slice(ws, GREATEST(len(ws) - {_BP_WORDS} + 1, 1),
                          len(ws)), ' ') AS tail
      FROM w
    ),
    hs AS (
      SELECT source, head, COUNT(*) AS c FROM ht GROUP BY 1, 2
    ),
    ts AS (
      SELECT source, tail, COUNT(*) AS c FROM ht GROUP BY 1, 2
    ),
    agg AS (
      SELECT h.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN hs.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_head,
             CAST(SUM(CASE WHEN ts.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_tail
      FROM ht h
      JOIN hs ON hs.source = h.source AND hs.head = h.head
      JOIN ts ON ts.source = h.source AND ts.tail = h.tail
      GROUP BY 1
    )
    SELECT source, n_docs, n_shared_head, n_shared_tail,
           CAST(ROUND(n_shared_head * 1000000.0 / n_docs) AS BIGINT)
             AS head_share_ppm,
           CAST(ROUND(n_shared_tail * 1000000.0 / n_docs) AS BIGINT)
             AS tail_share_ppm
    FROM agg ORDER BY source
    """


@operator("boilerplate_chunk_census", oracle=_BOILERPLATE_ORACLE)
def boilerplate_chunk_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared leading/trailing chunk share per source (see block comment)."""
    w = _docs(spark, sf_dir).select(
        "doc_id", "source", F.split("text", " ").alias("ws")
    )
    ht = w.select(
        "doc_id",
        "source",
        F.array_join(F.slice("ws", 1, _BP_WORDS), " ").alias("head"),
        F.array_join(
            F.slice(
                "ws",
                F.greatest(F.size("ws") - _BP_WORDS + 1, F.lit(1)),
                F.lit(_BP_WORDS),
            ),
            " ",
        ).alias("tail"),
    )
    hs = ht.groupBy("source", "head").agg(F.count(F.lit(1)).alias("hc"))
    ts = ht.groupBy("source", "tail").agg(F.count(F.lit(1)).alias("tc"))
    agg = (
        ht.join(hs, ["source", "head"])
        .join(ts, ["source", "tail"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("hc") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_head"),
            F.sum(F.when(F.col("tc") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_tail"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "n_shared_head",
        "n_shared_tail",
        F.round(F.col("n_shared_head") * 1000000.0 / F.col("n_docs"))
        .cast("bigint")
        .alias("head_share_ppm"),
        F.round(F.col("n_shared_tail") * 1000000.0 / F.col("n_docs"))
        .cast("bigint")
        .alias("tail_share_ppm"),
    ).orderBy("source")
