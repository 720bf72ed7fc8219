"""Dataset assembly operators for training pipelines: deterministic
splits, per-stratum exemplar sampling, and sequence packing.

These are the operations that turn a curated corpus into training
input, and at 100 TB each must be deterministic (re-runs and
backfills produce the same assignment — no rand()), shuffle-light,
and skew-free:

- **hash split**: md5 of the stable doc key → lexicographic hex
  thresholds give an ~80/10/10 train/val/test split with zero
  coordination (no global count, no sampling state; every executor
  assigns rows independently). The first two hex chars partition the
  key space 256 ways: 'cc' = 204/256 ≈ 79.7 %, 'e6' = 230/256 ≈ 89.8 %.
- **exemplar sample**: top-n per stratum by (md5, id) rank — a
  deterministic stand-in for per-group reservoir sampling; one shuffle
  on the stratum key, rank cut inside the window.
- **sequence packing**: the concat-and-chunk recipe — docs in stable
  order per language shard, running token count, chunk boundary every
  CONTEXT_TOKENS tokens. A per-shard window running sum, which scales
  as wide as there are shards (no global sort, no driver loop).

The reference has no sampling surface at all (SURVEY.md §2.1 —
Tier B, driver-mandated LLM-pipeline extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eventstreamer_spark.functions import hashing as H
from eventstreamer_spark.functions import numeric as N
from eventstreamer_spark.memo import checkpoint
from eventstreamer_spark.operators.ranks import parallel_rank
from eventstreamer_spark.registry import query
from eventstreamer_spark.sources.tables import load_table, load_table_parallel

TRAIN_MAX = "cc"  # first 2 md5 hex chars < 'cc' → train  (204/256)
VAL_MAX = "e6"  # < 'e6' → val (26/256), else test (26/256)

_SPLIT_CASE_SPARK = (
    "CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < '{train}' THEN 'train' "
    "WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < '{val}' THEN 'val' "
    "ELSE 'test' END"
).format(train=TRAIN_MAX, val=VAL_MAX)

_SPLIT_CASE_DUCK = (
    "CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{train}' THEN 'train' "
    "WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{val}' THEN 'val' "
    "ELSE 'test' END"
).format(train=TRAIN_MAX, val=VAL_MAX)

_HASH_SPLIT_ORACLE = f"""
SELECT {_SPLIT_CASE_DUCK} AS split,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       floor(sum(CAST(len({H.TOKENS_DUCK.format(col="text")}) AS BIGINT)) * 10000.0
             / count(*) + 0.5) / 10000.0 AS avg_tokens
FROM documents
GROUP BY 1, 2
"""


@query("dataset_hash_split", oracle=_HASH_SPLIT_ORACLE)
def q_dataset_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 split with per-(split, lang) size and
    mean length. The split is a pure row-local expression — at 100 TB
    it costs nothing beyond the one aggregation shuffle, and re-runs
    assign every document identically (md5 of the stable key, never
    rand())."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.expr(_SPLIT_CASE_SPARK).alias("split"),
            "lang",
            F.size(H.tokens_expr("text")).cast("long").alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            N.half_up_ratio(F.sum("n_tokens"), F.count(F.lit(1)), 10000).alias(
                "avg_tokens"
            ),
        )
    )


EXEMPLARS_PER_STRATUM = 3

_EXEMPLAR_ORACLE = f"""
SELECT lang, source, doc_id, rank
FROM (
  SELECT lang, source, doc_id,
         CAST(row_number() OVER (
             PARTITION BY lang, source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
  FROM documents
)
WHERE rank <= {EXEMPLARS_PER_STRATUM}
"""


@query("stratified_exemplar_sample", oracle=_EXEMPLAR_ORACLE)
def q_stratified_exemplar_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-per-stratum sample: rank by (md5(key), key)
    inside each (lang, source) stratum, keep the first n. The md5
    order is uniform over the stratum — the fixed-seed equivalent of
    reservoir sampling, one shuffle on the stratum key."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        d.select("lang", "source", "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= EXEMPLARS_PER_STRATUM)
    )


CONTEXT_TOKENS = 2048

_PACKING_ORACLE = f"""
WITH sized AS (
  SELECT lang, doc_id,
         CAST(len({H.TOKENS_DUCK.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT lang, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
             / {CONTEXT_TOKENS}) AS BIGINT) AS bin
  FROM sized
)
SELECT lang, bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM packed
GROUP BY lang, bin
"""


@query("sequence_packing", oracle=_PACKING_ORACLE)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents in stable doc_id
    order per language shard, a running token count, and a chunk
    boundary every CONTEXT_TOKENS tokens (a doc starting before a
    boundary belongs to the bin its first token falls in — the
    GPT-style pack-then-slice recipe, minus the intra-doc split).

    Plan shape: one shuffle on the shard key, one window running sum
    inside each shard, one aggregate — all integer arithmetic. Packing
    parallelism = number of shards; no global sort and no driver-side
    loop, which is what makes this form viable at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "lang", "doc_id", F.size(H.tokens_expr("text")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "bin",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / CONTEXT_TOKENS).cast(
            "long"
        ),
    )
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Packing efficiency audit: what pack-then-slice costs per shard
# ---------------------------------------------------------------------------

# The two losses every packer trades between: the final chunk's
# padding (tail waste) and documents straddling a context boundary
# (whose attention gets truncated mid-doc by the slice). Both are
# exact integer functions of the same per-shard running sum
# sequence_packing already computes, reported per language shard so a
# shard-count decision can read them directly.

_PACK_AUDIT_ORACLE = f"""
WITH sized AS (
  SELECT lang, doc_id,
         CAST(len({H.TOKENS_DUCK.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents
),
pos AS (
  SELECT lang, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS BIGINT) AS start_tok
  FROM sized
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(ceil(sum(n_tokens) * 1.0 / {CONTEXT_TOKENS}) AS BIGINT) AS n_chunks,
       CAST(ceil(sum(n_tokens) * 1.0 / {CONTEXT_TOKENS}) * {CONTEXT_TOKENS}
            - sum(n_tokens) AS BIGINT) AS tail_waste_tokens,
       floor((CAST(ceil(sum(n_tokens) * 1.0 / {CONTEXT_TOKENS}) AS BIGINT)
              * {CONTEXT_TOKENS} - sum(n_tokens)) * 1000000.0
             / (CAST(ceil(sum(n_tokens) * 1.0 / {CONTEXT_TOKENS}) AS BIGINT)
                * {CONTEXT_TOKENS}) + 0.5) / 1000000.0 AS waste_share,
       CAST(sum(CASE WHEN n_tokens > 0
                      AND start_tok // {CONTEXT_TOKENS}
                          != (start_tok + n_tokens - 1) // {CONTEXT_TOKENS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle_docs,
       floor(sum(CASE WHEN n_tokens > 0
                       AND start_tok // {CONTEXT_TOKENS}
                           != (start_tok + n_tokens - 1) // {CONTEXT_TOKENS}
                      THEN 1 ELSE 0 END) * 1000000.0 / count(*) + 0.5)
         / 1000000.0 AS straddle_share
FROM pos
GROUP BY lang
"""


@query("packing_efficiency_audit", oracle=_PACK_AUDIT_ORACLE)
def q_packing_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing losses for the sequence_packing recipe: the
    final chunk's padding (tail waste = chunks·C − tokens) and the
    count/share of documents straddling a context boundary (split
    across training sequences by the slice — the attention-truncation
    cost that decides between pack-then-slice and padded batching).

    Plan shape: sequence_packing's plan exactly — one shuffle on the
    shard key, one window running sum, one aggregate. Straddle tests
    are integer division (`DIV`/`//`, never float-divide-then-cast:
    DuckDB's CAST(double AS BIGINT) rounds where Spark's truncates);
    shares floor-round at 1e-6 from exact integer numerators."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "lang", "doc_id", F.size(H.tokens_expr("text")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = sized.withColumn(
        "start_tok", (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    )
    straddle = F.expr(
        f"CASE WHEN n_tokens > 0 AND start_tok DIV {CONTEXT_TOKENS} "
        f"!= (start_tok + n_tokens - 1) DIV {CONTEXT_TOKENS} THEN 1 ELSE 0 END"
    )
    chunks = F.ceil(F.sum("n_tokens") * F.lit(1.0) / F.lit(CONTEXT_TOKENS)).cast(
        "long"
    )

    return pos.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        chunks.alias("n_chunks"),
        (chunks * CONTEXT_TOKENS - F.sum("n_tokens")).cast("long").alias(
            "tail_waste_tokens"
        ),
        N.half_up_ratio(
            chunks * CONTEXT_TOKENS - F.sum("n_tokens"),
            chunks * CONTEXT_TOKENS,
            1000000,
        ).alias("waste_share"),
        F.sum(straddle).cast("long").alias("n_straddle_docs"),
        N.half_up_ratio(F.sum(straddle), F.count(F.lit(1)), 1000000).alias(
            "straddle_share"
        ),
    )


# ---------------------------------------------------------------------------
# Source mixture weights (data-mixing recipe)
# ---------------------------------------------------------------------------

_MIX_ORACLE = f"""
WITH per AS (
  SELECT source, lang,
         count(*) AS n_docs,
         sum(CAST(len({H.TOKENS_DUCK.format(col="text")}) AS BIGINT)) AS n_tokens
  FROM documents
  GROUP BY source, lang
), tot AS (
  SELECT sum(n_tokens) AS total_tokens, count(*) AS n_groups FROM per
)
SELECT source, lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       floor(n_tokens * 1000000.0 / total_tokens + 0.5) / 1000000.0 AS token_share,
       floor((total_tokens * 1000000.0 / n_groups) / n_tokens + 0.5) / 1000000.0
         AS uniform_weight
FROM per CROSS JOIN tot
"""


@query("source_mixture_weights", oracle=_MIX_ORACLE)
def q_source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing recipe: per (source, lang) token counts, corpus
    share, and the up/down-sampling weight that would flatten the
    mixture to uniform — the numbers a training-mixture config is
    written from.

    One aggregation shuffle keyed by (source, lang); the grand totals
    are a broadcast-joined single row, so the plan is two small
    aggregates regardless of corpus size.
    """
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.expr(H.TOKENS_SPARK.format(col="text"))).cast("long")).alias(
                "n_tokens"
            ),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"), F.count(F.lit(1)).alias("n_groups")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        N.half_up_ratio(F.col("n_tokens"), F.col("total_tokens"), 1000000).alias(
            "token_share"
        ),
        N.half_up(
            F.col("total_tokens") * F.lit(1000000.0) / F.col("n_groups")
            / F.col("n_tokens"),
            1000000,
        ).alias("uniform_weight"),
    )


# ---------------------------------------------------------------------------
# Mixture resampling (execute the mixing recipe, deterministically)
# ---------------------------------------------------------------------------

HEX_DEN = 16_777_216  # 16^6: first 6 md5 hex chars as a uniform int

_RESAMPLE_ORACLE = f"""
WITH counts AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
), mn AS (
  SELECT min(n) AS min_n FROM counts
), kept AS (
  SELECT d.lang, c.n, m.min_n,
         CASE WHEN CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS BIGINT)
                   * c.n < m.min_n * {HEX_DEN}
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN counts c USING (lang) CROSS JOIN mn m
)
SELECT lang,
       CAST(n AS BIGINT) AS n_orig,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       CAST(min_n * 1000000 // n AS BIGINT) AS accept_ppm
FROM kept
GROUP BY lang, n, min_n
"""


@query("mixture_resample", oracle=_RESAMPLE_ORACLE)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute a balancing recipe: downsample every language to the
    smallest language's size with a deterministic per-row accept test
    (first 6 md5 hex chars of the stable key as a uniform draw).

    The accept decision is pure integer arithmetic
    (``hash24 * n < min_n * 16^6``) — no float, no rand(), so re-runs
    and backfills keep exactly the same rows, and the two engines
    cannot diverge on a boundary draw. The per-lang counts are one
    tiny aggregate broadcast back over the corpus: at 100 TB the scan
    assigns keep/drop row-locally; the only shuffle is the final
    per-lang report (production would write the kept rows instead).
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mn = counts.agg(F.min("n").alias("min_n"))
    hash24 = F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT)")
    kept = (
        d.select("lang", "doc_id")
        .join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(mn))
        .withColumn("keep", (hash24 * F.col("n") < F.col("min_n") * F.lit(HEX_DEN)).cast("int"))
    )
    return kept.groupBy("lang", "n", "min_n").agg(F.sum("keep").alias("kept")).select(
        "lang",
        F.col("n").cast("long").alias("n_orig"),
        F.col("kept").cast("long").alias("n_kept"),
        F.expr("CAST(min_n * 1000000 DIV n AS BIGINT)").alias("accept_ppm"),
    )


# ---------------------------------------------------------------------------
# Document chunking (fixed context windows with overlap)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks

_N_CHUNKS_SPARK = (
    f"CASE WHEN size(toks) > {CHUNK_TOKENS} "
    f"THEN ((size(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) DIV {CHUNK_STRIDE}) + 1 "
    "ELSE 1 END"
)

_CHUNKING_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {H.TOKENS_DUCK.format(col="text")} AS toks FROM documents
), nc AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) > {CHUNK_TOKENS}
              THEN ((len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}) + 1
              ELSE 1 END AS n_chunks
  FROM tk
), ch AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM nc
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, 1 + chunk_idx * {CHUNK_STRIDE},
                           chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT)
         AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, 1 + chunk_idx * {CHUNK_STRIDE},
                                      chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '))
         AS chunk_md5
FROM ch
"""


@query("document_chunking", oracle=_CHUNKING_ORACLE)
def q_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document becomes ⌈(n−C)/S⌉+1
    overlapping chunks of C=64 tokens at stride S=48 (16-token
    overlap), identified by (doc_id, chunk_idx) and fingerprinted for
    downstream dedup — the standard long-document → model-context
    preparation step.

    Row-local: tokenization, the chunk-count arithmetic (pure integer,
    identical in both engines), the sequence explode, and the slice
    all happen inside one projection — no shuffle at all, so the
    operator scales with scan bandwidth exactly like the decode path.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", H.tokens_expr("text").alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode_outer(F.expr(f"sequence(0, {_N_CHUNKS_SPARK} - 1)")).alias("chunk_idx"),
        )
        .filter(F.col("chunk_idx").isNotNull())
    )
    sliced = f"slice(toks, 1 + chunk_idx * {CHUNK_STRIDE}, {CHUNK_TOKENS})"
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.expr(f"size({sliced})").cast("long").alias("n_chunk_tokens"),
        F.md5(F.expr(f"concat_ws(' ', {sliced})").cast("binary")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Temperature-smoothed mixture weights (alpha sampling)
# ---------------------------------------------------------------------------

# alpha = 0.5: w_s ∝ n_s^0.5 — the standard temperature smoothing that
# up-weights small sources relative to natural sampling (alpha = 1)
# without going uniform (alpha = 0). sqrt(n) is integer-scaled to 1e6
# units and summed as int64, so the normalizing total is exact and
# order-free in both engines (IEEE sqrt is correctly rounded, so the
# pre-scaling doubles are already identical).
_TEMP_MIX_ORACLE = """
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), t AS (
  SELECT source, n_docs,
         CAST(round(sqrt(n_docs) * 1000000, 0) AS BIGINT) AS w6
  FROM s
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         CAST(sum(w6) AS BIGINT) AS w_total
  FROM t
)
SELECT source, n_docs,
       floor(n_docs * 1000000.0 / n_total + 0.5) / 1000000.0 AS natural_share,
       floor(w6 * 1000000.0 / w_total + 0.5) / 1000000.0 AS alpha_share,
       floor(w6 * 1.0 / w_total * n_total * 1000000.0 / n_docs + 0.5) / 1000000.0
         AS effective_epochs
FROM t CROSS JOIN tot
"""


@query("mixture_temperature_weights", oracle=_TEMP_MIX_ORACLE)
def q_mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed (alpha = 0.5) source sampling weights —
    the mixing-recipe step that balances small vs large sources:
    alpha_share_s = n_s^alpha / Σ n_t^alpha, with effective_epochs =
    alpha_share · N_total / n_s showing how many times each source
    repeats under the smoothed recipe. One aggregation shuffle to the
    per-source counts; the 1-row totals broadcast back. The oracle
    mirrors the integer-scaled sqrt normalization exactly."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    t = per.withColumn(
        "w6", F.round(F.sqrt("n_docs") * F.lit(1000000.0), 0).cast("long")
    )
    tot = t.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("w6").cast("long").alias("w_total"),
    )

    return t.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        N.half_up_ratio(F.col("n_docs"), F.col("n_total"), 1000000).alias(
            "natural_share"
        ),
        N.half_up_ratio(F.col("w6"), F.col("w_total"), 1000000).alias("alpha_share"),
        N.half_up_ratio(
            F.col("w6") * F.lit(1.0) / F.col("w_total") * F.col("n_total"),
            F.col("n_docs"),
            1000000,
        ).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# Token-budget mixture (token-grain data-mixing recipe)
# ---------------------------------------------------------------------------

# mixture_temperature_weights mixes at DOC grain; real pretraining
# recipes allocate a global TOKEN budget across sources. Token counts
# come from the learned BPE segmentation (bpe_apply_segmentation's
# per-word-type symbol counts, applied per source), so the budget is
# denominated in the tokenizer's own units.
TOKEN_BUDGET = 1_000_000  # global training-token budget
MIX_ALPHA_SCALE = 1_000_000  # sqrt weights in 1e-6 units (exact int sums)


def _token_budget_oracle() -> str:
    from eventstreamer_spark.operators.text import _bpe_segall_ctes

    parts = _bpe_segall_ctes()
    from eventstreamer_spark.operators.text import BPE_MERGES, _TOKS_D

    parts = list(parts)
    parts.append(
        f"""syms AS MATERIALIZED (
  SELECT word, len(list_filter(string_split(seg, ' '), x -> x != '')) AS n_syms
  FROM segall{BPE_MERGES})"""
    )
    parts.append(
        f"""wordsrc AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT source, unnest({_TOKS_D}) AS word FROM documents)
  GROUP BY source, word)"""
    )
    parts.append(
        """pertok AS (
  SELECT w.source, CAST(sum(w.freq * s.n_syms) AS BIGINT) AS n_tokens
  FROM wordsrc w JOIN syms s ON w.word = s.word
  GROUP BY w.source)"""
    )
    parts.append(
        """ndocs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)"""
    )
    parts.append(
        f"""tmix AS (
  SELECT p.source, d.n_docs, p.n_tokens,
         CAST(round(sqrt(p.n_tokens) * {MIX_ALPHA_SCALE}, 0) AS BIGINT) AS w6
  FROM pertok p JOIN ndocs d ON p.source = d.source)"""
    )
    parts.append(
        """tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_total,
         CAST(sum(w6) AS BIGINT) AS w_total
  FROM tmix)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT source, n_docs, n_tokens,
       floor(n_tokens * 1000000.0 / tok_total + 0.5) / 1000000.0 AS token_share,
       floor(w6 * 1000000.0 / w_total + 0.5) / 1000000.0 AS alpha_share,
       CAST(({TOKEN_BUDGET} * w6) // w_total AS BIGINT) AS target_tokens,
       floor((({TOKEN_BUDGET} * w6) // w_total) * 1000000.0 / n_tokens + 0.5)
         / 1000000.0 AS effective_epochs
FROM tmix CROSS JOIN tot
"""
    )


@query("token_budget_mixture", oracle=_token_budget_oracle())
def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual pretraining data-mixing computation at TOKEN grain:
    given a global token budget and temperature alpha = 0.5, emit each
    source's token count (under the LEARNED BPE segmentation), its
    natural token share, temperature-smoothed share, integer-exact
    target token allocation, and effective epochs (how many passes
    over the source the allocation implies — > 1 means upsampling).

    Composition: per-(source, word) counts join the per-word-type BPE
    symbol table (bpe_seg_col over the learned merges — row-local
    replace chain, no UDF); one aggregation to per-source token
    totals; the 1-row totals broadcast back. No global sort anywhere.

    Exactness: token counts are integer sums; sqrt(n_tokens) is
    correctly rounded IEEE on identical integers, scaled to 1e-6
    units and summed as int64 (the mixture_temperature_weights
    discipline); target_tokens uses INTEGER division (budget·w6 //
    w_total — exact in both engines, no float rounding at the
    boundary); shares/epochs are half-up-quantized ratios of
    identical integers."""
    from eventstreamer_spark.operators.text import bpe_seg_col, learn_bpe_merges

    merges = learn_bpe_merges(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    from eventstreamer_spark.functions import hashing as _H

    wordsrc = (
        d.select("source", F.explode(_H.tokens_expr("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    vocab = wordsrc.groupBy("word").agg(F.sum("freq").alias("tot_freq"))
    syms = vocab.withColumn("seg", bpe_seg_col(merges)).select(
        "word",
        F.size(F.expr("filter(split(seg, ' '), x -> x != '')")).alias("n_syms"),
    )
    pertok = (
        wordsrc.join(syms, "word")
        .groupBy("source")
        .agg(F.sum(F.col("freq") * F.col("n_syms")).cast("long").alias("n_tokens"))
    )
    ndocs = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tmix = pertok.join(ndocs, "source").withColumn(
        "w6",
        F.round(F.sqrt("n_tokens") * F.lit(float(MIX_ALPHA_SCALE)), 0).cast("long"),
    )
    tot = tmix.agg(
        F.sum("n_tokens").cast("long").alias("tok_total"),
        F.sum("w6").cast("long").alias("w_total"),
    )

    target = F.expr(f"CAST(({TOKEN_BUDGET} * w6) div w_total AS BIGINT)")
    return tmix.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        N.half_up_ratio(F.col("n_tokens"), F.col("tok_total"), 1000000).alias(
            "token_share"
        ),
        N.half_up_ratio(F.col("w6"), F.col("w_total"), 1000000).alias("alpha_share"),
        target.alias("target_tokens"),
        N.half_up_ratio(target, F.col("n_tokens"), 1000000).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------

# The distributed-canonical weighted sampler: draw u ~ U(0,1] per row,
# rank by u^(1/w), keep the per-group top K — equivalently rank by
# ln(u)/w, which is what we compute. Deterministic twist: u comes from
# md5(doc_id) (48-bit integer + 1), ln() is taken of that IDENTICAL
# integer and quantized to micro-nats before any arithmetic (the
# zipf/DSIR _LN6 pattern), and the division by the weight is the
# exact floor division (_fdiv), so both engines produce bit-identical
# priorities. Re-runs, backfills, and the oracle all select the same
# rows. The weight here is n_chars; any positive integer weight
# (e.g. DSIR importance weights) slots in unchanged.

WS_K = 10
_LN48E6 = 33271065  # round(ln(2^48) * 1e6): the u <= 1 normalizer

_WS_U1_S = (
    "CAST(conv(substring(md5(concat('ws:', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT) + 1"
)
_WS_U1_D = (
    "CAST('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) + 1"
)
_WS_FDIV = "({a} - ((({a}) % ({b})) + ({b})) % ({b}))"
_WS_NE9 = f"(CAST(round(ln(u1) * 1000000, 0) AS BIGINT) - {_LN48E6}) * 1000"

_WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         {_WS_FDIV.format(a="ne9", b="n_chars")} // n_chars AS priority
  FROM (
    SELECT source, doc_id, n_chars, {_WS_NE9} AS ne9
    FROM (
      SELECT source, doc_id, n_chars, {_WS_U1_D} AS u1
      FROM documents WHERE n_chars > 0
    )
  )
),
ranked AS (
  SELECT source, doc_id, n_chars AS weight, priority,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY priority DESC, doc_id
         ) AS BIGINT) AS rank
  FROM keyed
)
SELECT source, doc_id, weight, priority, rank
FROM ranked WHERE rank <= {WS_K}
"""


@query("weighted_sample_topk", oracle=_WEIGHTED_SAMPLE_ORACLE)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement:
    per source, the K=10 docs with the largest u^(1/w) keys — i.e. a
    sample where selection probability scales with the weight
    (n_chars here; any positive integer weight, e.g. DSIR importance
    weights, slots in unchanged). The A-ES key is the one-pass,
    merge-friendly formulation: every executor keys rows
    independently, a per-group top-K merge finishes the job — no
    sampling state, no second pass, which is what makes it THE
    weighted sampler at 100 TB.

    Determinism/cross-engine: u = md5-derived 48-bit integer + 1;
    ln() of that identical integer quantized to micro-nats (_LN6
    pattern) before the exact floor division by the weight (_fdiv
    pattern) — priorities are bit-identical integers in both engines,
    ties broken by doc_id. One shuffle (the per-source window);
    everything before it is row-local."""
    keyed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.expr(_WS_U1_S).alias("u1"),
        )
        .withColumn("ne9", F.expr(_WS_NE9))
        .withColumn(
            "priority",
            F.expr(
                _WS_FDIV.format(a="ne9", b="n_chars") + " DIV n_chars"
            ).cast("long"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= WS_K)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").alias("weight"),
            "priority",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Cluster-balanced diversity sampling (SSL-prototype pruning)
# ---------------------------------------------------------------------------

# Sorscher et al. (NeurIPS 2022, "Beyond neural scaling laws"): when
# data is abundant, prune the EASY examples — the ones closest to
# their cluster prototype — and keep the hard/diverse tail; selecting
# per cluster keeps the sample balanced across modes instead of
# collapsing onto the densest region. Composed entirely from verified
# kernels: the adaptive-⌈√n⌉ Lloyd prototypes are the session-memoized
# sqrt-k build (shared with ivf_adaptive_topk / SemDeDup), assignment
# is the broadcast int64-matmul pass, and the keep decision is one
# window per cluster key.

CLUSTER_SAMPLE_FRAC = 0.3  # keep the hardest 30% of each cluster


def _cluster_sample_oracle() -> str:
    from eventstreamer_spark.operators.similarity import (
        _ADAPTIVE_SEED_DUCK,
        _ivf_centroids_duck,
    )

    return f"""
WITH {_ivf_centroids_duck(seed=_ADAPTIVE_SEED_DUCK)},
centq2 AS (
  SELECT c_label, {H.quantized_unit_duck("centroid")} AS cq FROM cent
),
sc AS (
  SELECT e.vec_id, c.c_label,
         round({H.qcosine_duck("e.uq", "c.cq")}, 5) AS cosine,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({H.qcosine_duck("e.uq", "c.cq")}, 5) DESC,
                                     c.c_label) AS rn
  FROM embq e CROSS JOIN centq2 c
),
asg AS (SELECT vec_id, c_label, cosine FROM sc WHERE rn = 1),
cranked AS (
  SELECT c_label, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY c_label
                                 ORDER BY cosine, vec_id) AS BIGINT) AS hard_rank,
         CAST(count(*) OVER (PARTITION BY c_label) AS BIGINT) AS n_cluster
  FROM asg
)
SELECT CAST(c_label AS INTEGER) AS c_label, vec_id, cosine, hard_rank, n_cluster
FROM cranked
WHERE hard_rank <= GREATEST(1, CAST(floor(n_cluster * {CLUSTER_SAMPLE_FRAC}) AS BIGINT))
"""


@query("cluster_balanced_sample", oracle=_cluster_sample_oracle())
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling by prototype distance (Sorscher et al.):
    every embedding is assigned to its nearest adaptive-⌈√n⌉ Lloyd
    prototype, and each cluster keeps its HARDEST
    max(1, floor({frac}·n)) members — lowest cosine to the prototype,
    vec_id tiebreak — so the sample stays balanced across clusters
    while dropping the redundant easy core of each mode. The
    data-pruning complement of SemDeDup: that removes near-identical
    PAIRS, this removes the prototypical MASS.

    Plan: memoized sqrt-k centroid table (shared with
    ivf_adaptive_topk / semantic_dedup) broadcasts into the
    mapInPandas int64-matmul assignment — the corpus never shuffles
    to be scored — then ONE window over the cluster key ranks members
    by hardness. At 100 TB: same plan; clusters are ~√n wide so no
    window partition is ever corpus-sized. Exactness: integer-dot
    cosines rounded half-up to 5, integer rank/threshold
    arithmetic.""".format(frac=CLUSTER_SAMPLE_FRAC)
    from eventstreamer_spark.operators.similarity import (
        _score_centroids,
        sqrt_k_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    embq = (
        H.with_quantized_unit(e, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq")
        .transform(checkpoint)
    )
    _, _, cent = sqrt_k_centroids(spark, sf_dir, e, embq)
    asg = _score_centroids(embq, cent).select("vec_id", "c_label", "cosine")
    w = Window.partitionBy("c_label")
    ranked = asg.withColumn(
        "hard_rank",
        F.row_number().over(w.orderBy("cosine", "vec_id")).cast("long"),
    ).withColumn("n_cluster", F.count(F.lit(1)).over(w).cast("long"))
    return ranked.filter(
        F.col("hard_rank")
        <= F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.col("n_cluster") * F.lit(CLUSTER_SAMPLE_FRAC)),
        )
    ).select(
        F.col("c_label").cast("int").alias("c_label"),
        "vec_id",
        "cosine",
        "hard_rank",
        "n_cluster",
    )


# ---------------------------------------------------------------------------
# Hash-sharded writer skew audit
# ---------------------------------------------------------------------------

# The writer-balance question every sharded output answers before a
# 1000-executor run: hash docs into W shards and measure how uneven
# the shard token totals come out — max/mean is the straggler factor
# (the slowest writer's overwork), CV the overall dispersion (theory
# for iid docs: CV ≈ sqrt((1 + cv_len²) / docs_per_shard), so a
# measured CV far above that means hot keys, not bad luck). Exact
# integer shard totals in both engines; the derived ratios use one
# fixed double-formula order so they match bit-for-bit.

SHARD_W = 64


def _shard_id(engine: str) -> str:
    if engine == "spark":
        return (
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)"
            f" AS BIGINT) % {SHARD_W}"
        )
    return (
        "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)"
        f" % {SHARD_W}"
    )


_SHARD_SKEW_ORACLE = f"""
WITH sh AS (
  SELECT {_shard_id("duck")} AS shard,
         CAST(len({H.TOKENS_DUCK.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents
),
per AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS toks
  FROM sh GROUP BY shard
)
SELECT CAST(count(*) AS BIGINT) AS n_shards,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(min(toks) AS BIGINT) AS min_shard_tokens,
       CAST(max(toks) AS BIGINT) AS max_shard_tokens,
       CAST(floor(CAST(sum(toks) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mean_shard_tokens,
       floor(CAST(max(toks) AS DOUBLE) * count(*) * 1000000
             / CAST(sum(toks) AS DOUBLE) + 0.5) / 1000000.0 AS straggler_ratio,
       floor(sqrt(sum(CAST(toks AS DOUBLE) * CAST(toks AS DOUBLE)) / count(*)
                  - (CAST(sum(toks) AS DOUBLE) / count(*))
                    * (CAST(sum(toks) AS DOUBLE) / count(*)))
             * count(*) * 1000000 / CAST(sum(toks) AS DOUBLE) + 0.5)
         / 1000000.0 AS cv
FROM per
"""


@query("shard_skew_audit", oracle=_SHARD_SKEW_ORACLE)
def q_shard_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-shard skew for an md5 hash split into 64 shards:
    one row with shard token extrema, the straggler factor
    (max/mean), and the CV of shard totals — the balance report read
    before committing to a shard count at scale.

    Scale shape: one 64-key aggregation with map-side combine,
    then a 1-group reduce over 64 rows. All shard totals are
    exact integers; the ratio/CV doubles use a single fixed formula
    order (population variance from Σx and Σx², with toks cast to
    DOUBLE before squaring in BOTH engines — int64 x*x would wrap
    silently in Spark past ~3e9 tokens/shard while DuckDB raises;
    below 2^53 the double terms and the 64-row sum are still exact)
    so the engines agree exactly."""
    d = load_table_parallel(spark, sf_dir, "documents")
    per = (
        d.select(
            F.expr(_shard_id("spark")).alias("shard"),
            F.size(H.tokens_expr("text")).cast("long").alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("toks"),
        )
    )
    cnt = F.count(F.lit(1))
    stoks = F.sum("toks").cast("double")
    mean = stoks / cnt
    toks_d = F.col("toks").cast("double")
    var = F.sum(toks_d * toks_d) / cnt - mean * mean
    return per.agg(
        cnt.cast("long").alias("n_shards"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.min("toks").cast("long").alias("min_shard_tokens"),
        F.max("toks").cast("long").alias("max_shard_tokens"),
        N.half_up_units(mean).cast("long").alias("mean_shard_tokens"),
        N.half_up(
            F.max("toks").cast("double") * cnt * 1000000 / stoks, 1000000
        ).alias("straggler_ratio"),
        N.half_up(F.sqrt(var) * cnt * 1000000 / stoks, 1000000).alias("cv"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed dynamic batching: the padding/bucket-count Pareto
# ---------------------------------------------------------------------------

# The OTHER standard answer to variable-length training batches —
# packing_efficiency_audit prices pack-then-slice (tail waste +
# boundary straddles); this prices PADDED batching under length
# bucketing (the fairseq/T5 "bucket by length, pad to the batch max"
# recipe): docs split by length rank into k equal-count buckets, then
# batch in SHUFFLED order inside each bucket (training needs random
# batch composition — a length-sorted batch order would correlate
# batch statistics with position in the epoch), and every batch pads
# to its own max length. k = 1 is plain random batching (maximum
# padding); more buckets -> tighter per-batch length homogeneity ->
# less padding at unchanged randomness WITHIN a bucket; the table
# reports the Pareto a training pipeline reads before picking its
# bucket count. Deterministic and integer-exact end-to-end: token
# counts are integers, the global length rank ties-break by doc_id,
# bucket = rank*k DIV n (equal-count integer split), the in-bucket
# shuffle is the house md5(doc_id) pseudo-random order (bit-identical
# in both engines), batch = in-bucket rank DIV LB_BATCH, pad =
# Σ_batches (max_len*batch_rows - batch_tokens).

LB_BATCH = 32  # docs per batch
_LB_CONFIGS = (1, 2, 4, 8)

_LB_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, CAST(len({H.TOKENS_DUCK.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS rn,
         count(*) OVER () AS n
  FROM sized
),
cfg AS (
  SELECT r.doc_id, r.n_tokens, c.k, (r.rn * c.k) // r.n AS bucket
  FROM ranked r CROSS JOIN (VALUES {", ".join(f"({k})" for k in _LB_CONFIGS)}) AS c(k)
),
batched AS (
  SELECT k, bucket, n_tokens,
         (row_number() OVER (PARTITION BY k, bucket
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          - 1) // {LB_BATCH} AS batch
  FROM cfg
),
per_batch AS (
  SELECT k, bucket, batch,
         CAST(max(n_tokens) * count(*) AS BIGINT) AS padded_toks,
         CAST(sum(n_tokens) AS BIGINT) AS toks
  FROM batched GROUP BY 1, 2, 3
)
SELECT CAST(k AS BIGINT) AS n_buckets,
       CAST(count(*) AS BIGINT) AS n_batches,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(sum(padded_toks) - sum(toks) AS BIGINT) AS pad_tokens,
       floor((sum(padded_toks) - sum(toks)) * 1000000.0
             / sum(padded_toks) + 0.5) / 1000000.0 AS pad_share
FROM per_batch GROUP BY k
"""


@query("length_bucket_batching", oracle=_LB_ORACLE)
def q_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The length-bucketed dynamic-batching Pareto (see section
    comment): per bucket count k = 1 / 2 / 4 / 8, the number of
    32-doc batches, total real tokens, padding tokens (each batch
    pads to its own max length) and the padded share — the measured
    trade a training pipeline reads against
    packing_efficiency_audit's pack-then-slice losses.

    Scale shape: ONE tokenize/count pass; the global length rank is
    parallel_rank's one lazy plan — the production range-partitioner
    write shape, exact, with no single-task sort; the global count n
    is its ``_n`` column, from the same broadcast partition offsets. The
    4-config fanout multiplies doc-COUNT rows (id + int), never text;
    per-batch stats aggregate at (cfg, bucket, batch) grain with
    map-side combine, the final table is 4 rows.
    Exactness: integer token counts, rank*k DIV n bucket split,
    md5-ordered in-bucket shuffle (bit-identical in both engines),
    DIV-based batch grouping, integer pad sums, 1e-6 floor-rounded
    share."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.size(H.tokens_expr("text")).cast("long").alias("n_tokens")
    )
    ranked = parallel_rank(sized, ["n_tokens", "doc_id"])
    cfgs = "array({})".format(", ".join(str(k) for k in _LB_CONFIGS))
    cfg = ranked.select(
        "doc_id",
        "n_tokens",
        F.explode(F.expr(cfgs)).alias("k"),
        (F.col("_rank") - F.lit(1)).cast("long").alias("rn"),
        "_n",
    ).withColumn("bucket", F.expr("(rn * k) DIV _n").cast("long"))
    wb = Window.partitionBy("k", "bucket").orderBy(
        F.expr("md5(CAST(doc_id AS STRING))"), "doc_id"
    )
    batched = cfg.withColumn(
        "brn", (F.row_number().over(wb) - F.lit(1)).cast("long")
    ).withColumn("batch", F.expr(f"brn DIV {LB_BATCH}"))
    per_batch = batched.groupBy("k", "bucket", "batch").agg(
        (F.max("n_tokens") * F.count(F.lit(1))).cast("long").alias("padded_toks"),
        F.sum("n_tokens").cast("long").alias("toks"),
    )
    return per_batch.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("toks").cast("long").alias("total_tokens"),
        (F.sum("padded_toks") - F.sum("toks")).cast("long").alias("pad_tokens"),
        N.half_up_ratio(
            F.sum("padded_toks") - F.sum("toks"), F.sum("padded_toks"), 1000000
        ).alias("pad_share"),
    ).select(
        F.col("k").cast("long").alias("n_buckets"),
        "n_batches",
        "total_tokens",
        "pad_tokens",
        "pad_share",
    )
