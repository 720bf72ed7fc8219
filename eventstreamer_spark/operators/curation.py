"""The north-star workload, composed end to end: training-data
curation = quality filter → near-duplicate removal → corpus stats.

Everything here reuses the already-verified pieces (text quality
features, AllPairs jaccard pairs) — the point of this query is that
the engine's operators COMPOSE: one declarative plan takes raw
documents to a curated corpus summary, and the whole thing still
hash-matches an independent SQL oracle.

Pipeline semantics (the standard pre-training recipe):
1. keep documents with quality_score ≥ 0.7 (length band + type-token
   ratio + stopword-ratio band — text.py's score);
2. among surviving docs, drop the HIGHER doc_id of every pair with
   3-gram jaccard ≥ 0.8 (keep-first dedup over the near-dup graph's
   edges — each edge kills its higher endpoint);
3. report per (lang, source): kept docs, mean tokens, mean quality.

At 100 TB each stage is the shape already proven out in text.py /
dedup.py; the composition adds no new shuffle beyond the final
2-key aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstreamer_spark.functions import hashing as H
from eventstreamer_spark.functions import numeric as N
from eventstreamer_spark.memo import artifact, checkpoint
from eventstreamer_spark.operators.dedup import ngram_jaccard_pairs
from eventstreamer_spark.operators.text import q_text_stats_quality
from eventstreamer_spark.registry import query

_CURATE_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, lang, source,
         len({H.TOKENS_DUCK.format(col="text")}) AS n_tokens,
         CASE WHEN len({H.TOKENS_DUCK.format(col="text")}) BETWEEN 20 AND 90 THEN 0.5 ELSE 0.0 END
         + CASE WHEN len(list_distinct({H.TOKENS_DUCK.format(col="text")})) * 1.0
                     / len({H.TOKENS_DUCK.format(col="text")}) > 0.5 THEN 0.3 ELSE 0.0 END
         + CASE WHEN len(list_filter({H.TOKENS_DUCK.format(col="text")},
                         t -> t IN ('the','a','of','and','in','to','is','for','on','with'))) * 1.0
                     / len({H.TOKENS_DUCK.format(col="text")}) BETWEEN 0.01 AND 0.5
                THEN 0.2 ELSE 0.0 END AS quality_score
  FROM documents
), kept AS (
  SELECT * FROM feats WHERE quality_score >= 0.7
), tk AS (
  SELECT d.doc_id, {H.TOKENS_DUCK.format(col="d.text")} AS toks
  FROM documents d JOIN kept k ON d.doc_id = k.doc_id
), sh AS (
  SELECT doc_id, {H.shingles_from_tokens_duck("toks")} AS sh FROM tk
), sizes AS (
  SELECT doc_id, len(sh) AS n_sh FROM sh
), inv AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), dupes AS (
  SELECT DISTINCT s.doc_b AS drop_id
  FROM shared s
  JOIN sizes sa ON s.doc_a = sa.doc_id
  JOIN sizes sb ON s.doc_b = sb.doc_id
  WHERE s.n_shared * 1.0 / (sa.n_sh + sb.n_sh - s.n_shared) >= 0.8
), curated AS (
  SELECT k.* FROM kept k WHERE k.doc_id NOT IN (SELECT drop_id FROM dupes)
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_tokens), 6) AS avg_tokens,
       floor(sum(CAST(round(quality_score * 1000000, 0) AS BIGINT)) * 1.0 / count(*) + 0.5) / 1000000.0 AS avg_quality
FROM curated
GROUP BY lang, source
"""


@query("curation_pipeline", oracle=_CURATE_ORACLE)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter → near-dedup → summarize, as one composed plan."""
    from eventstreamer_spark.sources.tables import load_table_parallel

    feats = q_text_stats_quality(spark, sf_dir).select(
        "doc_id", "lang", "source", "n_tokens", "quality_score"
    )
    kept = feats.filter(F.col("quality_score") >= 0.7)
    # shingle ONLY the quality survivors (exactly the oracle's tk CTE):
    # the quality filter runs before the expensive pair stage, so the
    # near-dup work scales with the kept fraction, not the raw corpus
    kept_docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).join(kept.select("doc_id"), "doc_id", "left_semi")
    edges = ngram_jaccard_pairs(kept_docs)
    drops = edges.select(F.col("doc_b").alias("doc_id")).distinct()
    curated = kept.join(drops, "doc_id", "left_anti")
    from eventstreamer_spark.functions.numeric import mean6_spark

    return curated.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        mean6_spark(F.col("quality_score")).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# Per-domain cap (CCNet-style URL/host-grain curation)
# ---------------------------------------------------------------------------

# Proportional cap: a domain keeps at most max(1, floor(0.6·n_d)) of
# its docs (floor of an identical IEEE product in both engines;
# greatest(1, …) guards singleton domains). A proportional cap — not a
# fixed K — keeps the query non-vacuous at every scale factor and is
# what per-host down-sampling looks like when domain sizes are
# heavy-tailed: the share removed is bounded regardless of how big the
# biggest host is.
DOMAIN_KEEP_FRAC = 0.6

_DOMAIN_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT source, n_chars, doc_id,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS rnk,
         count(*) OVER (PARTITION BY source) AS n_docs
  FROM documents
), capped AS (
  SELECT source, n_chars, n_docs,
         GREATEST(1, CAST(floor(n_docs * {DOMAIN_KEEP_FRAC}) AS BIGINT)) AS cap,
         rnk
  FROM ranked
)
SELECT source,
       CAST(any_value(n_docs) AS BIGINT) AS n_docs,
       CAST(any_value(cap) AS BIGINT) AS cap,
       CAST(count(*) FILTER (WHERE rnk <= cap) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE rnk > cap) AS BIGINT) AS n_removed,
       round(count(*) FILTER (WHERE rnk > cap) * 1.0 / any_value(n_docs), 6)
         AS share_removed,
       floor(sum(n_chars) FILTER (WHERE rnk <= cap) * 1000000.0
             / nullif(count(*) FILTER (WHERE rnk <= cap), 0) + 0.5) / 1000000.0
         AS avg_kept_chars,
       floor(sum(n_chars) FILTER (WHERE rnk > cap) * 1000000.0
             / nullif(count(*) FILTER (WHERE rnk > cap), 0) + 0.5) / 1000000.0
         AS avg_removed_chars,
       CAST(min(n_chars) FILTER (WHERE rnk <= cap) AS BIGINT) AS cutoff_chars
FROM capped
GROUP BY source
"""


@query("domain_cap_filter", oracle=_DOMAIN_CAP_ORACLE)
def q_domain_cap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-domain cap with deterministic ranked keep: each
    domain (the ``source`` host key) keeps its top floor(0.6·n) docs by
    (n_chars DESC, doc_id) and the report shows what the cap removed —
    kept/removed counts, share, and the quality split (avg kept chars
    must exceed avg removed chars by construction, which the hash
    check pins).

    Plan: one window over (source) for rank + domain size — a single
    hash-partition shuffle on the domain key, NO global sort — then
    one aggregation on the same key (AQE coalesces; the second
    exchange is partial since the data is already source-clustered).
    At 100 TB this is the standard per-host down-sampling pass: domain
    count is millions (fits any shuffle), per-domain doc lists never
    materialize anywhere, and the heavy text column is untouched (scan
    reads source/n_chars/doc_id only — check ReadSchema)."""
    from pyspark.sql import Window

    from eventstreamer_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "doc_id"
    )
    w = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number()
        .over(w.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rnk"),
        F.count(F.lit(1)).over(w).alias("n_docs"),
    ).withColumn(
        "cap",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.col("n_docs") * F.lit(DOMAIN_KEEP_FRAC)),
        ),
    )
    kept = F.col("rnk") <= F.col("cap")

    def favg(value, cond):
        s = F.sum(F.when(cond, value))
        c = F.nullif(F.sum(cond.cast("long")), F.lit(0).cast("long"))
        return N.half_up_ratio(s, c, 1000000)

    return ranked.groupBy("source").agg(
        F.any_value(F.col("n_docs")).alias("n_docs"),
        F.any_value(F.col("cap")).alias("cap"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum((~kept).cast("long")).alias("n_removed"),
        F.round(
            F.sum((~kept).cast("long")) * F.lit(1.0) / F.any_value(F.col("n_docs")),
            6,
        ).alias("share_removed"),
        favg(F.col("n_chars"), kept).alias("avg_kept_chars"),
        favg(F.col("n_chars"), ~kept).alias("avg_removed_chars"),
        F.min(F.when(kept, F.col("n_chars"))).alias("cutoff_chars"),
    )


# ---------------------------------------------------------------------------
# Composed corpus-build pipeline (round-6 operators chained end-to-end)
# ---------------------------------------------------------------------------


def _corpus_build_oracle() -> str:
    """The full five-stage pipeline as ONE chained-CTE plan, assembled
    from each stage's shared oracle generator (never re-derived SQL):
    cut-cover rewrite → per-domain cap on REWRITTEN length → SemDeDup
    among survivors (full-corpus adaptive clustering, pair scoring
    restricted to survivors) → bigram-LM perplexity filter RETRAINED
    on the survivor text → per-source funnel + temperature mixture."""
    from eventstreamer_spark.operators.indexing import (
        _CLEANED_DUCK,
        _cut_chain_parts,
        _ppl_band_sql,
        _ppl_parts,
    )
    from eventstreamer_spark.operators.similarity import (
        SEMDEDUP_T,
        _semdedup_assign_duck,
    )

    parts = list(_cut_chain_parts())
    parts.append(
        f"""rew AS MATERIALIZED (
  SELECT d.doc_id, d.source,
         CASE WHEN c.doc_id IS NULL THEN d.text ELSE {_CLEANED_DUCK} END AS text
  FROM documents d JOIN tk t ON d.doc_id = t.doc_id
  LEFT JOIN cover c ON d.doc_id = c.doc_id)"""
    )
    parts.append(
        """rankedc AS (
  SELECT doc_id, source, text,
         row_number() OVER (PARTITION BY source
                            ORDER BY length(text) DESC, doc_id) AS rnk,
         count(*) OVER (PARTITION BY source) AS n_docs
  FROM rew)"""
    )
    parts.append(
        f"""capped AS MATERIALIZED (
  SELECT doc_id, source, text FROM rankedc
  WHERE rnk <= GREATEST(1, CAST(floor(n_docs * {DOMAIN_KEEP_FRAC}) AS BIGINT)))"""
    )
    parts.append(_semdedup_assign_duck())
    parts.append(
        """surv_assign AS MATERIALIZED (
  SELECT a.vec_id, a.uq, a.c_label
  FROM assign a JOIN capped s ON a.vec_id = s.doc_id)"""
    )
    parts.append(
        f"""sdrop AS MATERIALIZED (
  SELECT DISTINCT b.vec_id
  FROM surv_assign a JOIN surv_assign b
    ON a.c_label = b.c_label AND a.vec_id < b.vec_id
  WHERE floor({H.qcosine_duck("a.uq", "b.uq")} * 100000 + 0.5) / 100000.0
        >= {SEMDEDUP_T})"""
    )
    parts.append(
        """semkept AS MATERIALIZED (
  SELECT s.doc_id, s.source, s.text
  FROM capped s LEFT JOIN sdrop x ON s.doc_id = x.vec_id
  WHERE x.vec_id IS NULL)"""
    )
    parts.extend(_ppl_parts(src="semkept", p="z"))
    parts.append(
        f"""pplkept AS MATERIALIZED (
  SELECT s.doc_id, s.source
  FROM semkept s JOIN zpplagg p ON s.doc_id = p.doc_id
  WHERE ({_ppl_band_sql("p.avg_nll_e6")}) <> 'high')"""
    )
    parts.append(
        "f0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs"
        " FROM rew GROUP BY source)"
    )
    parts.append(
        "f1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_capped"
        " FROM capped GROUP BY source)"
    )
    parts.append(
        "f2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_semdedup"
        " FROM semkept GROUP BY source)"
    )
    parts.append(
        "f3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final"
        " FROM pplkept GROUP BY source)"
    )
    parts.append(
        """tmix AS (
  SELECT f0.source, f0.n_docs,
         COALESCE(f1.n_capped, 0) AS n_capped,
         COALESCE(f2.n_semdedup, 0) AS n_semdedup,
         COALESCE(f3.n_final, 0) AS n_final,
         CAST(round(sqrt(COALESCE(f3.n_final, 0)) * 1000000, 0) AS BIGINT) AS w6
  FROM f0 LEFT JOIN f1 USING (source) LEFT JOIN f2 USING (source)
  LEFT JOIN f3 USING (source))"""
    )
    parts.append(
        """tot AS (
  SELECT CAST(sum(n_final) AS BIGINT) AS n_total,
         CAST(sum(w6) AS BIGINT) AS w_total
  FROM tmix)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT source, n_docs, n_capped, n_semdedup, n_final,
       floor(w6 * 1000000.0 / nullif(w_total, 0) + 0.5) / 1000000.0
         AS alpha_share,
       floor(w6 * 1.0 / nullif(w_total, 0) * n_total * 1000000.0
             / nullif(n_final, 0) + 0.5) / 1000000.0 AS effective_epochs
FROM tmix CROSS JOIN tot
"""
    )


def capped_survivors(d: DataFrame, tk: DataFrame, cover: DataFrame) -> DataFrame:
    """The corpus-build per-domain cap stage, pre-checkpoint — factored
    out so the plan test (and the plan dumps kept at
    ``827931b:plans/r15/corpus_build_capstage_{before,after}.txt``) can
    pin its shape, which the downstream eager checkpoint otherwise
    hides behind a LogicalRDD.

    Per-domain cap via LENGTH-ONLY PROXY + broadcast threshold
    (VERDICT r14 item 4, guide §8 "decide with small rows, move big
    rows once"): the old shape ranked the rewritten docs directly, so
    the source-hash window exchange carried every rewritten TEXT
    payload and the rank sort lugged full documents. Now the rank runs
    over (doc_id, source, tlen) — three narrow columns — and selection
    re-attaches as a per-source (cut_len, cut_doc) THRESHOLD table
    (ONE row per source, broadcastable at any corpus scale, unlike a
    survivors-id list) plus a row-local lexicographic filter:
    rnk <= cap  ⟺  tlen > cut_len OR (tlen = cut_len AND doc_id <=
    cut_doc), exact because (tlen DESC, doc_id) is a total order and
    cap >= 1 guarantees the cutoff row exists. Text now reaches the
    ``capped`` checkpoint straight from the scan — no exchange carries
    it at all."""
    from eventstreamer_spark.operators.indexing import _CLEANED_SPARK
    from pyspark.sql import Window

    clen = tk.join(cover, "doc_id").select(
        "doc_id", F.length(F.expr(_CLEANED_SPARK)).alias("clen")
    )
    rewlen = (
        d.select("doc_id", "source", F.length("text").alias("olen"))
        .join(clen, "doc_id", "left")
        .select("doc_id", "source", F.coalesce("clen", "olen").alias("tlen"))
    )
    w = Window.partitionBy("source")
    rankedl = rewlen.withColumn(
        "rnk", F.row_number().over(w.orderBy(F.col("tlen").desc(), "doc_id"))
    ).withColumn("n_docs", F.count(F.lit(1)).over(w))
    thr = rankedl.filter(
        F.col("rnk")
        == F.greatest(
            F.lit(1).cast("long"), F.floor(F.col("n_docs") * F.lit(DOMAIN_KEEP_FRAC))
        )
    ).select(
        "source",
        F.col("tlen").alias("cut_len"),
        F.col("doc_id").alias("cut_doc"),
    )
    rew = (
        d.join(tk, "doc_id")
        .join(cover, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("covered").isNull(), F.col("text"))
            .otherwise(F.expr(_CLEANED_SPARK))
            .alias("text"),
        )
    )
    return (
        rew.withColumn("tlen", F.length("text"))
        .join(F.broadcast(thr), "source")
        .filter(
            (F.col("tlen") > F.col("cut_len"))
            | (
                (F.col("tlen") == F.col("cut_len"))
                & (F.col("doc_id") <= F.col("cut_doc"))
            )
        )
        .select("doc_id", "source", "text")
    )


@query("corpus_build_pipeline", oracle=_corpus_build_oracle())
def q_corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 operators COMPOSED into one corpus-build plan — the
    proof they chain without driver round-trips:

    1. **Exact-substring rewrite** (substring_cover): every doc's text
       with frequent non-keeper spans cut — rewritten text flows on.
    2. **Per-domain cap** on the REWRITTEN length (rank by
       length DESC, doc_id; keep max(1, floor(0.6·n)) per source).
    3. **SemDeDup among survivors**: full-corpus adaptive-⌈√n⌉
       clustering (memoized centroid table, shared with
       semantic_dedup/ivf_adaptive_topk); within-cluster int64-matmul
       pair scoring restricted to cap survivors; a doc drops when a
       lower-id surviving doc in its cluster has cosine ≥ threshold.
       Docs without a scorable embedding are never droppable.
    4. **Perplexity-band filter, RETRAINED**: the add-1 bigram LM is
       re-estimated on stage-3 survivors' REWRITTEN text
       (bigram_avg_nll is input-parameterized), and 'high'-band docs
       drop; docs with < 2 tokens are unscorable and drop.
    5. **Mixture**: per-source funnel counts (n_docs → n_capped →
       n_semdedup → n_final) + temperature-smoothed (alpha = 0.5)
       shares and effective epochs over the FINAL survivors.

    One DataFrame plan end-to-end: the only driver materializations
    are the session centroid memo (k ≈ √n rows, shared) and its n
    count — every per-doc decision stays distributed. Shuffles:
    span-hash aggregate + span join (stage 1), one window on source
    (stage 2), cluster-key groupBy (stage 3), bigram model joins
    (stage 4), per-source aggregate (stage 5) — all key-bucketed
    equi-joins/aggregates, no cartesian (the only CROSS JOINs are
    1-row totals). The oracle replays all five stages as one chained
    CTE plan assembled from each stage's shared SQL generator."""
    from pyspark.sql import Window

    from eventstreamer_spark.operators.indexing import (
        _TOKS_S,
        _ppl_band_sql,
        bigram_avg_nll,
        substring_cover,
    )
    from eventstreamer_spark.operators.similarity import (
        semdedup_assign_memo,
        semdedup_cluster_pairs,
    )
    from eventstreamer_spark.session import shuffle_partitions
    from eventstreamer_spark.sources.tables import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tk = d.select("doc_id", F.expr(_TOKS_S).alias("toks"))
    # Multi-consumer funnel stages are localCheckpointed: downstream
    # stages and the funnel counts both read them, and Catalyst does
    # not dedupe common subtrees across DataFrame branches — without
    # the boundary the span-rewrite → cap → SemDeDup lineage
    # re-evaluated once per consumer (VERDICT r7: 6.5× the oracle,
    # which materializes each stage CTE once). Checkpoint, not
    # persist(): a persist() survives the invocation via plan-matching
    # cache reuse (bench-dishonest). ``cover`` is checkpointed here
    # (not inside substring_cover) because the r15 cap restructure
    # below gives it TWO consumers: the proxy-length rank and the
    # survivor text rebuild.
    cover = substring_cover(tk).transform(checkpoint, eager=True)

    capped = capped_survivors(d, tk, cover).transform(checkpoint, eager=True)

    # consumer-side session memo (owner semantic_dedup re-runs its own)
    assign = semdedup_assign_memo(spark, sf_dir)
    surv_assign = assign.join(
        capped.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    pairs = surv_assign.groupBy("c_label").applyInPandas(
        semdedup_cluster_pairs, "c_label int, vec_a long, vec_b long, cosine double"
    )
    sdrop = pairs.select(F.col("vec_b").alias("doc_id")).distinct()
    semkept = capped.join(sdrop, "doc_id", "left_anti").transform(checkpoint, eager=True)

    # repartition before the retrain: AQE coalesces the small
    # anti-join output to ~1 partition, which would serialize the
    # md5-heavy bigram explode onto one core (measured 4.4 s vs 1.4 s)
    nll = bigram_avg_nll(
        semkept.select("doc_id", "text").repartition(shuffle_partitions(spark))
    )
    pplkept = (
        semkept.join(nll, "doc_id")
        .filter(F.expr(_ppl_band_sql("avg_nll_e6")) != F.lit("high"))
        .select("doc_id", "source")
    )

    # Funnel counts in ONE aggregate: tag each stage's (source) rows
    # with a stage ordinal, union, and conditional-count per source —
    # one shuffle instead of four groupBys joined three times (VERDICT
    # r8: fuse the four cnt() branches). Stage 0 counts from `d`
    # directly: the rewrite preserves doc membership, so per-source
    # base counts never need the rewritten text. Sources absent from a
    # later stage count 0 via the conditional count (every source has
    # at least its stage-0 rows, so no source can vanish from tmix).
    def stg(df: DataFrame, i: int) -> DataFrame:
        return df.select("source").withColumn("stg", F.lit(i))

    lab = (
        stg(d, 0)
        .unionByName(stg(capped, 1))
        .unionByName(stg(semkept, 2))
        .unionByName(stg(pplkept, 3))
    )

    def n_at(i: int, name: str):
        return (
            F.count(F.when(F.col("stg") == i, F.lit(1)))
            .cast("long")
            .alias(name)
        )

    tmix = (
        lab.groupBy("source")
        .agg(
            n_at(0, "n_docs"),
            n_at(1, "n_capped"),
            n_at(2, "n_semdedup"),
            n_at(3, "n_final"),
        )
        .withColumn(
            "w6",
            F.round(F.sqrt("n_final") * F.lit(1000000.0), 0).cast("long"),
        )
    )
    tot = tmix.agg(
        F.sum("n_final").cast("long").alias("n_total"),
        F.sum("w6").cast("long").alias("w_total"),
    )

    # NULL-propagating divisors (nullif), NOT a bare F.when guard:
    # under ANSI mode codegen evaluates both branches eagerly, so a
    # source whose survivor count hits 0 (possible on replicated
    # scale corpora, where the rewrite empties duplicate copies)
    # would throw DIVIDE_BY_ZERO from the unselected branch.
    w_tot_nz = F.nullif(F.col("w_total"), F.lit(0).cast("long"))
    n_fin_nz = F.nullif(F.col("n_final"), F.lit(0).cast("long"))
    return tmix.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_capped",
        "n_semdedup",
        "n_final",
        N.half_up_ratio(F.col("w6"), w_tot_nz, 1000000).alias("alpha_share"),
        N.half_up_ratio(
            F.col("w6") * F.lit(1.0) / w_tot_nz * F.col("n_total"), n_fin_nz, 1000000
        ).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram LMs)
# ---------------------------------------------------------------------------

# Data Selection with Importance Resampling (Xie et al., NeurIPS 2023):
# fit two bag-of-hashed-ngram unigram models — one on a small TARGET
# domain, one on the RAW pool — and weight every raw document by its
# log-likelihood ratio under the two models. Here the target domain is
# the English slice (standing in for "looks like Wikipedia/books");
# features are unigrams + word-bigrams hashed into 256 buckets, the
# paper's hashing-trick feature space at fixture scale.

DSIR_BUCKETS = 256
DSIR_TARGET_PRED = "lang = 'en'"
DSIR_KEEP_FRAC = 0.25  # per-source top quarter by per-gram log-ratio

# unigrams + bigrams from a pre-materialized token array column t
_DSIR_GRAMS_SPARK = (
    "concat(t, CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
    "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) ELSE array() END)"
)
_DSIR_GRAMS_DUCK = (
    "t || CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i + 1]) ELSE [] END"
)
_DSIR_BUCKET_SPARK = (
    f"CAST(conv(substring(md5(g), 1, 6), 16, 10) AS BIGINT) % {DSIR_BUCKETS}"
)
_DSIR_BUCKET_DUCK = f"CAST('0x' || substring(md5(g), 1, 6) AS BIGINT) % {DSIR_BUCKETS}"

# ln() of an INTEGER argument quantized to micro-nats BEFORE any
# arithmetic — the zipf/bigram-LM exactness pattern: both engines see
# the identical integer, compute the same double, and round to the
# same int64, so every downstream number is integer-exact.
_LN6 = "CAST(round(ln({x}) * 1000000, 0) AS BIGINT)"

# exact floor division (see quality._fdiv): subtracting the
# non-negative remainder first makes the numerator exactly divisible,
# so truncating and flooring division agree in every engine.
_FDIV_SQL = "({a} - ((({a}) % ({b})) + ({b})) % ({b}))"

_TOKS_DUCK_TEXT = H.TOKENS_DUCK.format(col="text")


def _dsir_parts(p: str = "") -> list[str]:
    """The DSIR scoring chain as WITH-parts, CTE names prefixed with
    ``p`` (collision-free composition, the _ppl_parts pattern). Final
    CTE ``{p}scored`` = (doc_id, source, n_grams, w_e6, s_e6)."""
    return [
        f"""{p}t0 AS (
  SELECT doc_id, lang, source, {_TOKS_DUCK_TEXT} AS t FROM documents)""",
        f"""{p}grams AS MATERIALIZED (
  SELECT doc_id, lang, unnest({_DSIR_GRAMS_DUCK}) AS g FROM {p}t0)""",
        f"""{p}feat AS MATERIALIZED (
  SELECT doc_id, {_DSIR_BUCKET_DUCK} AS b, CAST(count(*) AS BIGINT) AS c
  FROM {p}grams GROUP BY 1, 2)""",
        f"""{p}rawb AS MATERIALIZED (
  SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM {p}feat GROUP BY b)""",
        f"""{p}tgtb AS MATERIALIZED (
  SELECT {_DSIR_BUCKET_DUCK} AS b, CAST(count(*) AS BIGINT) AS ct
  FROM {p}grams WHERE {DSIR_TARGET_PRED} GROUP BY 1)""",
        f"""{p}tot AS MATERIALIZED (
  SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM {p}rawb) AS q,
         (SELECT CAST(COALESCE(sum(ct), 0) AS BIGINT) FROM {p}tgtb) AS tt)""",
        f"""{p}lam AS MATERIALIZED (
  SELECT r.b,
         {_LN6.format(x="COALESCE(tg.ct, 0) + 1")}
         - {_LN6.format(x=f"tot.tt + {DSIR_BUCKETS}")}
         - {_LN6.format(x="r.cr + 1")}
         + {_LN6.format(x=f"tot.q + {DSIR_BUCKETS}")} AS lam_e6
  FROM {p}rawb r LEFT JOIN {p}tgtb tg USING (b) CROSS JOIN {p}tot tot)""",
        f"""{p}docw AS (
  SELECT f.doc_id, CAST(sum(f.c) AS BIGINT) AS n_grams,
         CAST(sum(f.c * l.lam_e6) AS BIGINT) AS w_e6
  FROM {p}feat f JOIN {p}lam l USING (b) GROUP BY 1)""",
        f"""{p}scored AS (
  SELECT d.doc_id, d.source, w.n_grams, w.w_e6,
         {_FDIV_SQL.format(a="w.w_e6", b="w.n_grams")} // w.n_grams AS s_e6
  FROM documents d JOIN {p}docw w ON d.doc_id = w.doc_id)""",
    ]


_DSIR_CHAIN_SQL = ",\n".join(_dsir_parts())

_DSIR_ORACLE = f"""
WITH {_DSIR_CHAIN_SQL}, ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY source ORDER BY s_e6 DESC, doc_id) AS rnk,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM scored
)
SELECT doc_id, source, n_grams,
       w_e6 / 1000000.0 AS logratio,
       s_e6 / 1000000.0 AS pergram_logratio,
       CAST(CASE WHEN rnk <= GREATEST(1, CAST(floor(n_src * {DSIR_KEEP_FRAC}) AS BIGINT))
                 THEN 1 ELSE 0 END AS INTEGER) AS selected
FROM ranked
"""


def dsir_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_grams, w_e6, s_e6): the DSIR scoring chain —
    hashed-gram features, broadcast 256-bucket LMs, per-doc log-ratio
    weight and exact-floor per-gram score. Shared by the selection
    query, the Gumbel sampler and the selection-agreement audit (the
    Spark twin of ``_dsir_parts``).

    Aggregation state is tiny BY CONSTRUCTION: the two LMs come from
    ONE 256-group aggregate with conditional sums (the per-task
    partial map can never exceed 256 cells); the λ table folds into a
    single broadcast DENSE array row (array element_at is O(1) —
    element_at on a Spark MAP is a linear entry scan, measured 2× on
    the whole query); and each document's weight aggregates at DOC
    grain — one group per document — via a codegen explode projection
    (NOT an aggregate() lambda fold: higher-order-function lambdas
    evaluate interpreted per element, measured 2.7 s vs 0.7 s for the
    identical md5s). The r7 shape aggregated a (doc, bucket) feature
    table — ~50 M groups at x100 — and joined the LMs back onto it;
    that hash aggregate was the small-heap OOM site, and a
    checkpointed copy of it locked storage memory on top. Σ_g λ[b(g)]
    ≡ Σ_b c_b·λ_b exactly (int64 addition is associative), so scores
    are unchanged. Cost: the corpus is scanned twice (LM pass +
    scoring pass) — at 100 TB two scans beat materializing a
    corpus-sized feature table."""
    from eventstreamer_spark.sources.tables import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    t0 = d.select(
        "doc_id",
        "lang",
        "source",
        F.expr(H.TOKENS_SPARK.format(col="text")).alias("t"),
    ).select("doc_id", "lang", "source", F.expr(_DSIR_GRAMS_SPARK).alias("garr"))
    # explode_outer + isNotNull: see the InferFiltersFromGenerate note
    # in dedup.py — plain explode re-inlines the gram pipeline
    grams = t0.select(
        "lang", F.explode_outer("garr").alias("g")
    ).filter(F.col("g").isNotNull())
    # ONE pass builds both LMs: 256 groups, conditional target sum.
    lmcells = grams.groupBy(F.expr(_DSIR_BUCKET_SPARK).alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("cr"),
        F.sum(F.expr(DSIR_TARGET_PRED).cast("long")).cast("long").alias("ct"),
    )
    tot = lmcells.agg(
        F.sum("cr").cast("long").alias("q"),
        F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("tt"),
    )
    ln6 = lambda x: F.expr(_LN6.format(x=x))  # noqa: E731
    lam = lmcells.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            ln6("ct + 1")
            - ln6(f"tt + {DSIR_BUCKETS}")
            - ln6("cr + 1")
            + ln6(f"q + {DSIR_BUCKETS}")
        ).alias("lam_e6"),
    )
    # 1-row broadcast DENSE λ array indexed by bucket: element_at on a
    # Spark MAP is a linear scan of the entries (256 compares PER GRAM
    # — measured 2× on the whole query), while element_at on an array
    # is O(1). Buckets absent from the corpus zero-fill and are never
    # looked up (every scored gram's bucket exists in lmcells).
    lam_map = lam.agg(
        F.expr(
            "map_from_entries(array_sort(collect_list(struct(b, lam_e6))))"
        ).alias("lmap")
    ).select(
        F.expr(
            f"transform(sequence(0, {DSIR_BUCKETS - 1}), "
            "i -> coalesce(element_at(lmap, CAST(i AS BIGINT)), 0L))"
        ).alias("larr")
    )
    # scoring: explode + codegen projection + per-DOC aggregate — NOT
    # an aggregate() lambda fold (higher-order-function lambdas run
    # interpreted per element: measured 2.7 s vs 0.7 s for the same
    # md5s in a codegen projection). The doc-grain aggregate has one
    # group per document (500 k at x100) — two orders of magnitude
    # smaller state than the r7 (doc, bucket) aggregate that OOMed
    # small heaps.
    scored = (
        t0.select(
            "doc_id", "source", F.explode_outer("garr").alias("g")
        )
        .filter(F.col("g").isNotNull())
        .crossJoin(F.broadcast(lam_map))
        .select(
            "doc_id",
            "source",
            F.expr(
                f"element_at(larr, CAST(({_DSIR_BUCKET_SPARK}) AS INT) + 1)"
            ).alias("lam_g"),
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("lam_g").cast("long").alias("w_e6"),
        )
    )
    return scored.withColumn(
        "s_e6",
        F.expr(_FDIV_SQL.format(a="w_e6", b="n_grams") + " div n_grams").cast(
            "long"
        ),
    )


def dsir_scores_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dsir_doc_scores`` behind a per-(applicationId, sf_dir)
    localCheckpoint (r14 optimization): the THREE consumer queries —
    the selection pipeline, the Gumbel resampler and the
    selection-agreement audit — each re-ran the two-scan DSIR chain
    per invocation for the identical deterministic (doc_id, source,
    n_grams, w_e6, s_e6) table. One build per session now; consumers
    read the checkpointed rows (≤ 5 narrow columns per doc — a bounded
    fraction of one corpus scan). OWNERS-PAY (VERDICT r14 item 1): the
    weights query dsir_importance_weights deliberately bypasses this
    artifact and pays the full two-scan chain every invocation."""
    return artifact(
        spark,
        sf_dir,
        "dsir_scores",
        lambda: dsir_doc_scores(spark, sf_dir).transform(checkpoint),
    )


@query("dsir_importance_weights", oracle=_DSIR_ORACLE)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.,
    NeurIPS 2023), the trained data-SELECTION dimension the classifier
    (quality.py) and heuristics don't cover: two add-1-smoothed
    bag-of-hashed-ngram models (target = the English slice, raw = the
    whole pool) and a per-document log-likelihood-ratio weight
    w(d) = Σ_b c_db·(ln p_target(b) − ln p_raw(b)). Docs rank per
    source by PER-GRAM log-ratio (length-neutral) and the top
    max(1, floor(0.25·n)) are selected — the deterministic analog of
    the paper's Gumbel resampling.

    Plan shape (see dsir_doc_scores): ONE 256-group aggregate builds
    both LMs (conditional target sum — per-task partial state can
    never exceed 256 cells); λ folds into a single broadcast map row;
    each doc's weight is a row-local fold over its own gram array —
    the corpus never shuffles at all before the per-source rank
    window. At 100 TB the model is still 256 cells and the scoring
    pass is a map — model size and aggregation state are independent
    of corpus size, which is the whole point of the hashing trick.

    Cross-engine exactness: bucket counts are integers; each ln() is
    taken on an identical integer and quantized to micro-nats BEFORE
    any arithmetic (the zipf/bigram-LM pattern); per-doc weights are
    int64 sums of count×micro-nat products; the per-gram score uses
    the exact-floor-division identity — so every emitted value is
    bit-identical to the oracle's.

    Reference parity: beyond-reference curation surface (the reference
    pipeline, Function1.cs:1-236, has no data-selection stage);
    SURVEY.md §2.1 extension per the round-7 depth mandate.

    OWNER query (VERDICT r14 item 1, owners-pay restored): this query
    deliberately BYPASSES dsir_scores_memo and re-runs the two-scan
    DSIR chain every invocation — the pq_rerank_np4 pattern — so the
    build appears in every bench pass's steady state; the three
    remaining consumers stay on the session artifact."""
    from pyspark.sql import Window

    scored = dsir_doc_scores(spark, sf_dir)
    w = Window.partitionBy("source")
    ranked = scored.withColumn(
        "rnk", F.row_number().over(w.orderBy(F.col("s_e6").desc(), "doc_id"))
    ).withColumn("n_src", F.count(F.lit(1)).over(w))
    return ranked.select(
        "doc_id",
        "source",
        "n_grams",
        (F.col("w_e6") / F.lit(1000000.0)).alias("logratio"),
        (F.col("s_e6") / F.lit(1000000.0)).alias("pergram_logratio"),
        (
            F.col("rnk")
            <= F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.col("n_src") * F.lit(DSIR_KEEP_FRAC)),
            )
        )
        .cast("int")
        .alias("selected"),
    )


# ---------------------------------------------------------------------------
# Composed selection pipeline: DSIR -> frozen classifier gate -> mixture
# ---------------------------------------------------------------------------


def _selection_pipeline_oracle() -> str:
    """DSIR per-source selection, then the trained classifier as a
    frozen acceptance gate, then temperature mixture over survivors —
    assembled from the shared generators (_dsir_parts unprefixed,
    _qc_parts prefix 'c'), no re-derived SQL."""
    from eventstreamer_spark.operators.quality import _qc_parts

    parts = _qc_parts(p="c") + _dsir_parts()
    parts.append(
        """dranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY source ORDER BY s_e6 DESC, doc_id) AS rnk,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM scored)"""
    )
    parts.append(
        f"""dsel AS MATERIALIZED (
  SELECT doc_id, source FROM dranked
  WHERE rnk <= GREATEST(1, CAST(floor(n_src * {DSIR_KEEP_FRAC}) AS BIGINT)))"""
    )
    parts.append(
        """fin AS MATERIALIZED (
  SELECT s.doc_id, s.source
  FROM dsel s JOIN cscores c ON s.doc_id = c.doc_id
  WHERE c.score_e6 * 2 >= 1000000)"""
    )
    parts.append(
        "f0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs"
        " FROM documents GROUP BY source)"
    )
    parts.append(
        "f1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dsir"
        " FROM dsel GROUP BY source)"
    )
    parts.append(
        "f2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final"
        " FROM fin GROUP BY source)"
    )
    parts.append(
        """tmix AS (
  SELECT f0.source, f0.n_docs,
         COALESCE(f1.n_dsir, 0) AS n_dsir,
         COALESCE(f2.n_final, 0) AS n_final,
         CAST(round(sqrt(COALESCE(f2.n_final, 0)) * 1000000, 0) AS BIGINT) AS w6
  FROM f0 LEFT JOIN f1 USING (source) LEFT JOIN f2 USING (source))"""
    )
    parts.append(
        """stot AS (
  SELECT CAST(sum(n_final) AS BIGINT) AS n_total,
         CAST(sum(w6) AS BIGINT) AS w_total
  FROM tmix)"""
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + """
SELECT source, n_docs, n_dsir, n_final,
       floor(w6 * 1000000.0 / nullif(w_total, 0) + 0.5) / 1000000.0
         AS alpha_share,
       floor(w6 * 1.0 / nullif(w_total, 0) * n_total * 1000000.0
             / nullif(n_final, 0) + 0.5) / 1000000.0 AS effective_epochs
FROM tmix CROSS JOIN stot
"""
    )


@query("selection_pipeline", oracle=_selection_pipeline_oracle())
def q_selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7-continuation operators COMPOSED: DSIR picks each
    source's top quarter by per-gram log-ratio, the TRAINED ridge
    classifier (frozen weights, fit once on the full corpus) gates the
    survivors at predicted == 1, and the temperature mixture (α = 0.5)
    allocates shares + effective epochs over what remains — the
    targeted-pretraining-corpus recipe (select for the target
    distribution, then quality-gate, then mix) as ONE oracle-checked
    plan.

    Driver materialization: ONLY the d×d Gram solve (scale-free); the
    DSIR λ table and the weight vector ride the plan as broadcast/
    literals. Shuffles: the DSIR feature aggregates, one window on
    source, the classifier's feature fold, per-source funnel
    aggregates — every join key-bucketed, no cartesian beyond 1-row
    totals. NULL-propagating divisors (nullif), not when-guards: ANSI
    codegen evaluates unselected branches (see corpus_build_pipeline).

    Oracle assembled from _qc_parts('c') + _dsir_parts() — the same
    generators the standalone queries check against, so composition
    and components cannot drift."""
    from pyspark.sql import Window

    from eventstreamer_spark.operators.quality import (
        classifier_artifacts_memo,
        ridge_scores,
    )
    from eventstreamer_spark.sources.tables import load_table

    scored = dsir_scores_memo(spark, sf_dir)
    w = Window.partitionBy("source")
    dsel = (
        scored.withColumn(
            "rnk", F.row_number().over(w.orderBy(F.col("s_e6").desc(), "doc_id"))
        )
        .withColumn("n_src", F.count(F.lit(1)).over(w))
        .filter(
            F.col("rnk")
            <= F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.col("n_src") * F.lit(DSIR_KEEP_FRAC)),
            )
        )
        .select("doc_id", "source")
        .transform(checkpoint)  # read by the gate join AND the funnel count
    )
    feats, _lab, wts = classifier_artifacts_memo(spark, sf_dir)
    clf = ridge_scores(spark, sf_dir, wts, feats=feats)
    fin = dsel.join(
        clf.filter(F.col("score_e6") * 2 >= F.lit(1000000)).select("doc_id"),
        "doc_id",
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias(name))

    f0 = cnt(
        load_table(spark, sf_dir, "documents").select("doc_id", "source"), "n_docs"
    )
    tmix = (
        f0.join(cnt(dsel, "n_dsir"), "source", "left")
        .join(cnt(fin, "n_final"), "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_dsir", F.lit(0)).cast("long").alias("n_dsir"),
            F.coalesce("n_final", F.lit(0)).cast("long").alias("n_final"),
        )
        .withColumn(
            "w6", F.round(F.sqrt("n_final") * F.lit(1000000.0), 0).cast("long")
        )
    )
    tot = tmix.agg(
        F.sum("n_final").cast("long").alias("n_total"),
        F.sum("w6").cast("long").alias("w_total"),
    )

    w_tot_nz = F.nullif(F.col("w_total"), F.lit(0).cast("long"))
    n_fin_nz = F.nullif(F.col("n_final"), F.lit(0).cast("long"))
    return tmix.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_dsir",
        "n_final",
        N.half_up_ratio(F.col("w6"), w_tot_nz, 1000000).alias("alpha_share"),
        N.half_up_ratio(
            F.col("w6") * F.lit(1.0) / w_tot_nz * F.col("n_total"), n_fin_nz, 1000000
        ).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# Gumbel-top-k resampling: sample K docs per source with P ∝ exp(score)
# ---------------------------------------------------------------------------

# DSIR's paper-faithful selection step is importance-weighted SAMPLING,
# not a hard top-quarter cut (which q_dsir_importance_weights ships as
# the deterministic variant). Gumbel-top-k (Kool et al. 2019) does
# exactly that: adding independent Gumbel noise g = -ln(-ln u) to each
# log-weight and taking the top K per group is a sample WITHOUT
# replacement from the softmax over scores — one pass, merge-friendly,
# no rejection loop, the sampling twin of Efraimidis-Spirakis.
#
# Integer-exact Gumbel: with u = (md5-48-bit + 1)/2^48 and
# ne6 = ln6(u1) - ln6(2^48) <= 0 micro-nats, -ln(-ln u)
# = ln(1e6) - ln(-ne6) — BOTH remaining ln() calls take the identical
# INTEGER argument in the two engines (the _LN6 pattern applied
# twice), so the noisy keys are bit-identical integers.

GUMBEL_K = 10
_GK_LN48E6 = 33271065  # round(ln(2^48) * 1e6)
_GK_LN1E6E6 = 13815511  # round(ln(1e6) * 1e6)

_GK_U1_S = (
    "CAST(conv(substring(md5(concat('gk:', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT) + 1"
)
_GK_U1_D = (
    "CAST('0x' || substring(md5('gk:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) + 1"
)
_GK_NE6 = f"(CAST(round(ln(u1) * 1000000, 0) AS BIGINT) - {_GK_LN48E6})"
_GK_KEY = (
    f"w_e6 + ({_GK_LN1E6E6} - "
    f"CAST(round(ln(greatest(1, -ne6)) * 1000000, 0) AS BIGINT))"
)


def _gumbel_oracle() -> str:
    chain = ",\n".join(_dsir_parts("g"))
    return f"""
WITH {chain}, keyed AS (
  SELECT source, doc_id, w_e6, {_GK_KEY} AS gumbel_key
  FROM (
    SELECT source, doc_id, w_e6, {_GK_NE6.replace("u1", _GK_U1_D)} AS ne6
    FROM gscored
  )
),
ranked AS (
  SELECT source, doc_id,
         w_e6 / 1000000.0 AS logratio,
         gumbel_key,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY gumbel_key DESC, doc_id
         ) AS BIGINT) AS rank
  FROM keyed
)
SELECT source, doc_id, logratio, gumbel_key, rank
FROM ranked WHERE rank <= {GUMBEL_K}
"""


@query("gumbel_topk_resample", oracle=_gumbel_oracle())
def q_gumbel_topk_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k resampling over the DSIR selection surface: per
    source, K=10 docs drawn WITHOUT replacement with probability
    proportional to exp(total DSIR log-ratio weight) — the paper-faithful
    importance-SAMPLING step (softmax sampling), where
    q_dsir_importance_weights ships the deterministic hard-cut
    variant. Adding Gumbel noise -ln(-ln u) to each score and taking
    the per-group top K IS such a sample (Kool et al. 2019); it needs
    one pass and one per-source window — no rejection loop, no
    sampling state — which is what makes softmax sampling tractable
    at 100 TB.

    Cross-engine: both ln() calls in the Gumbel transform take
    identical INTEGER arguments (the _LN6 pattern applied twice: once
    to the md5-derived u, once to the quantized -ln u), so the noisy
    keys are bit-identical int64s; ties break on doc_id. Reuses
    dsir_doc_scores / _dsir_parts('g') — the sampler cannot drift
    from the scorer."""
    from pyspark.sql import Window

    scored = dsir_scores_memo(spark, sf_dir).select(
        "source", "doc_id", "w_e6"
    )
    keyed = (
        scored.withColumn("u1", F.expr(_GK_U1_S))
        .withColumn("ne6", F.expr(_GK_NE6))
        .withColumn("gumbel_key", F.expr(_GK_KEY).cast("long"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("gumbel_key").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= GUMBEL_K)
        .select(
            "source",
            "doc_id",
            (F.col("w_e6") / F.lit(1000000.0)).alias("logratio"),
            "gumbel_key",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Curriculum staging: quality-ordered sources packed into token-budget stages
# ---------------------------------------------------------------------------

# The curriculum-learning assignment every staged pre-training run
# makes: sources ranked by mean quality score, then greedily packed
# into N equal token-budget stages (highest quality trains last in
# the anti-curriculum, first in the curriculum — the ASSIGNMENT is
# the same; only the consumption order flips). Deterministic: the
# rank is (mean quality desc, source) and a source belongs to the
# stage its FIRST token falls in — the sequence_packing rule applied
# at source grain.

N_CURRICULUM_STAGES = 3


def _curriculum_oracle() -> str:
    from eventstreamer_spark.operators.text import QUALITY_DUCK

    toks = H.TOKENS_DUCK.format(col="text")
    n = N_CURRICULUM_STAGES
    return f"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({toks})) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(round({QUALITY_DUCK} * 10, 0) AS BIGINT)) AS BIGINT) AS sq
  FROM documents GROUP BY source
),
o AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sq * 100000.0 / n_docs + 0.5) AS BIGINT) AS meanq_e6
  FROM per
),
c AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (
             ORDER BY meanq_e6 DESC, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n_tokens) OVER () AS BIGINT) AS total
  FROM o
)
SELECT source, n_docs, n_tokens,
       meanq_e6 / 1000000.0 AS mean_quality,
       CAST(LEAST(((cum - n_tokens) * {n}) // total, {n - 1}) + 1 AS BIGINT)
         AS stage,
       floor(cum * 1000000.0 / total + 0.5) / 1000000.0 AS cum_token_share
FROM c
"""


@query("curriculum_stage_assignment", oracle=_curriculum_oracle())
def q_curriculum_stage_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered curriculum staging: per source, mean rule-based
    quality (the shared text.py score), token mass, and the 1..N stage
    the source packs into when sources are consumed in (quality desc,
    source) order against equal token budgets — first-token rule, so
    the assignment is a pure function of the running sum.

    Plan shape: one per-source aggregation over row-local token/quality
    projections (map-side combined), then two window passes over the
    HANDFUL of source rows (the k-row table every mixture query here
    ends in — driver-sized by construction). Quality sums are exact
    integers in the q10 domain; the stage boundary is integer division
    (`DIV`/`//`); only the reported mean/share divide once."""
    from pyspark.sql import Window

    from eventstreamer_spark.operators.text import QUALITY_SPARK
    from eventstreamer_spark.sources.tables import load_table

    n = N_CURRICULUM_STAGES
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            F.size(H.tokens_expr("text")).cast("long").alias("n_tok"),
            F.expr(f"CAST(round({QUALITY_SPARK} * 10, 0) AS BIGINT)").alias("q10"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("q10").cast("long").alias("sq"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            N.half_up_units(F.col("sq") * F.lit(100000.0) / F.col("n_docs"))
            .cast("long")
            .alias("meanq_e6"),
        )
    )
    w_cum = Window.orderBy(F.col("meanq_e6").desc(), "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = per.withColumn("cum", F.sum("n_tokens").over(w_cum).cast("long")).withColumn(
        "total", F.sum("n_tokens").over(w_all).cast("long")
    )
    return c.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("meanq_e6") / F.lit(1000000.0)).alias("mean_quality"),
        F.expr(
            f"CAST(LEAST(((cum - n_tokens) * {n}) DIV total, {n - 1}) + 1 AS BIGINT)"
        ).alias("stage"),
        N.half_up_ratio(F.col("cum"), F.col("total"), 1000000).alias(
            "cum_token_share"
        ),
    )
