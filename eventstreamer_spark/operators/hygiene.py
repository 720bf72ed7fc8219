"""Training-data hygiene: benchmark decontamination and PII redaction.

Two governance operators every large-scale training-data pipeline
runs before a corpus ships:

- **decontamination**: find training documents that overlap an
  evaluation/benchmark set (n-gram collision against the benchmark's
  shingle index). The benchmark side is tiny by nature, so its
  inverted index broadcasts and the corpus never shuffles — the same
  asymmetry a 100 TB run exploits.
- **PII redaction**: regex scrub of emails / phone numbers / SSNs /
  card numbers, counting hits per category. Pure JVM-side regex
  (whole-stage codegen), row-local, no shuffle — embarrassingly
  parallel at any scale. Patterns stay in the Java∩RE2 common subset
  so the DuckDB oracle executes them identically.

The synthetic corpus contains no real PII (verified: zero digits in
any text), so the redaction query deterministically decorates a
subset of docs with synthetic PII inside the query — the oracle
applies the same decoration, keeping the check non-vacuous (the same
trick exact_dedup uses for its duplicate-bearing input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstreamer_spark.functions import hashing as H
from eventstreamer_spark.functions import numeric as N
from eventstreamer_spark.registry import query
from eventstreamer_spark.sources.tables import load_table, load_table_parallel

# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out set)
# ---------------------------------------------------------------------------

BENCH_FILTER = "doc_id % 50 = 0"  # deterministic stand-in benchmark subset
CONTAM_MIN_SHARED = 5  # shared distinct 3-grams ⇒ contaminated

_DECONTAM_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {H.TOKENS_DUCK.format(col="text")} AS toks FROM documents
), sh AS (
  SELECT doc_id, {H.shingles_from_tokens_duck("toks")} AS sh FROM tk
), inv AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh
), bench AS (
  SELECT doc_id AS bench_id, shingle FROM inv WHERE {BENCH_FILTER}
), train AS (
  SELECT doc_id, shingle FROM inv WHERE NOT ({BENCH_FILTER})
), shared AS (
  SELECT t.doc_id, b.bench_id, count(*) AS n_shared
  FROM train t JOIN bench b ON t.shingle = b.shingle
  GROUP BY t.doc_id, b.bench_id
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bench_docs,
       CAST(max(n_shared) AS BIGINT) AS max_shared,
       CAST(CASE WHEN max(n_shared) >= {CONTAM_MIN_SHARED} THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM shared
GROUP BY doc_id
"""


@query("benchmark_decontamination", oracle=_DECONTAM_ORACLE)
def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training doc: how many benchmark docs it collides with, the
    deepest overlap (distinct shared 3-grams), and a contamination
    flag at ≥ CONTAM_MIN_SHARED.

    On this corpus the threshold separates cleanly: template noise
    shares 1-4 shingles, a true benchmark leak shares 20+. The
    benchmark shingle index is broadcast — benchmark suites are tiny
    relative to a training corpus, so the corpus-side scan never
    shuffles; this is the plan shape that holds at 100 TB (production
    would use 8-13-gram exact collision; the corpus' 3-gram templates
    make count-thresholding the faithful analog).
    """
    d = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", H.tokens_expr("text").alias("toks")
    ).select("doc_id", H.shingles_from_tokens_expr("toks").alias("sh"))
    # explode_outer + isNotNull: see the InferFiltersFromGenerate note
    # in dedup.py — plain explode re-inlines the shingle pipeline
    inv = d.select("doc_id", F.explode_outer("sh").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    bench = inv.filter(F.expr(BENCH_FILTER)).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    train = inv.filter(~F.expr(BENCH_FILTER))
    shared = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return shared.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bench_docs"),
        F.max("n_shared").alias("max_shared"),
        (F.max("n_shared") >= CONTAM_MIN_SHARED).cast("int").alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# PII redaction (regex scrub, counted by category)
# ---------------------------------------------------------------------------

# Java∩RE2-safe patterns (no lookaround, no backrefs). Ordered:
# email first (its local part could contain digit runs), then SSN
# (3-2-4 shape), then card (13-16 digit run), then phone.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "[SSN]"),
    ("card", r"[0-9]{13,16}", "[CARD]"),
    ("phone", r"555-[0-9]{4}", "[PHONE]"),
]

_DECORATE_DUCK = """
CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                                     '@example.com or call 555-0199')
     WHEN doc_id % 7 = 3 THEN concat(text, ' ssn 123-45-6789 card 4111111111111111')
     ELSE text END
"""


def _pii_oracle() -> str:
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(decorated, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    redacted = "decorated"
    for _, pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
WITH decorated_docs AS (
  SELECT doc_id, {_DECORATE_DUCK} AS decorated FROM documents
)
SELECT doc_id,
       {counts},
       md5({redacted}) AS redacted_md5
FROM decorated_docs
"""


@query("pii_redaction", oracle=_pii_oracle())
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails / SSNs / card numbers / phone numbers, reporting
    per-category hit counts and the md5 of the redacted text (the
    fingerprint a downstream writer would carry).

    Entirely built-in regex expressions — row-local, zero shuffle,
    whole-stage codegen; the scrub scales with scan bandwidth.
    Replacements apply in a fixed order so overlapping patterns
    resolve identically in both engines.
    """
    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    decorated = d.withColumn(
        "decorated",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call 555-0199"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.col("text"), F.lit(" ssn 123-45-6789 card 4111111111111111")),
        )
        .otherwise(F.col("text")),
    )
    counts = [
        F.size(F.regexp_extract_all("decorated", F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = F.col("decorated")
    for _, pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return decorated.select(
        "doc_id",
        *counts,
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Boilerplate detection (corpus-frequent shingles, CCNet-style)
# ---------------------------------------------------------------------------

BOILER_MIN_DF = 5  # a 3-gram in >= this many docs is boilerplate
BOILER_FLAG_NUM = 1  # flag docs whose boilerplate share >= 1/10
BOILER_FLAG_DEN = 10

_BOILER_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {H.shingles_duck("text")} AS sh FROM documents
), inv AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh
), boiler AS (
  SELECT shingle FROM inv GROUP BY shingle HAVING count(*) >= {BOILER_MIN_DF}
), per_doc AS (
  SELECT i.doc_id,
         count(*) AS n_shingles,
         count(b.shingle) AS n_boiler
  FROM inv i LEFT JOIN boiler b ON i.shingle = b.shingle
  GROUP BY i.doc_id
)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       floor(n_boiler * 1000000.0 / n_shingles + 0.5) / 1000000.0 AS boiler_frac,
       CAST(CASE WHEN n_boiler * {BOILER_FLAG_DEN} >= n_shingles * {BOILER_FLAG_NUM}
                 THEN 1 ELSE 0 END AS INTEGER) AS flagged
FROM per_doc
"""


@query("boilerplate_detection", oracle=_BOILER_ORACLE)
def q_boilerplate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate share: the fraction of a document's
    distinct 3-gram shingles that are corpus-frequent (document
    frequency >= BOILER_MIN_DF), flagging docs above a 10% share —
    the CCNet/C4 repeated-paragraph removal signal, on shingles.

    Plan shape: one explode, one aggregation shuffle to build the
    frequent-shingle set, which is then broadcast back against the
    exploded corpus (the frequent set is tiny relative to the corpus
    by construction — Zipf: few shingles clear an absolute DF bar),
    and one per-doc aggregation. The corpus itself never joins
    shuffle-to-shuffle. Production note: at web scale the bar is a
    DF *ratio* over hashed paragraphs; this corpus' templates have
    ~constant absolute DF, so an absolute bar is the faithful analog
    (a ratio bar empirically selects zero shingles at sf0.1).
    Flag compare is integer (n_boiler*10 >= n_shingles), so the
    keep/flag decision never touches float rounding.
    """
    d = (
        load_table_parallel(spark, sf_dir, "documents")
        .select("doc_id", H.tokens_expr("text").alias("toks"))
        .select("doc_id", H.shingles_from_tokens_expr("toks").alias("sh"))
    )
    # explode_outer + isNotNull: see the InferFiltersFromGenerate note
    # in dedup.py — plain explode re-inlines the shingle pipeline
    inv = d.select("doc_id", F.explode_outer("sh").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    boiler = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DF)
        .select("shingle")
    )
    per_doc = (
        inv.join(F.broadcast(boiler.withColumn("is_b", F.lit(1))), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("is_b").alias("n_boiler"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_boiler").cast("long").alias("n_boiler"),
        N.half_up_ratio(F.col("n_boiler"), F.col("n_shingles"), 1000000).alias(
            "boiler_frac"
        ),
        (F.col("n_boiler") * BOILER_FLAG_DEN >= F.col("n_shingles") * BOILER_FLAG_NUM)
        .cast("int")
        .alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Cross-lingual contamination (shared rare shingles across languages)
# ---------------------------------------------------------------------------

XLING_MAX_DF = 8  # only rare shingles generate candidates
XLING_MIN_SHARED = 3  # shared rare 3-grams ⇒ cross-lingual leak

_XLING_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, lang, {H.shingles_duck("text")} AS sh FROM documents
), inv AS (
  SELECT doc_id, lang, unnest(sh) AS shingle FROM sh
), dfc AS (
  SELECT shingle, count(*) AS df FROM inv GROUP BY shingle
), rare AS (
  SELECT i.doc_id, i.lang, i.shingle
  FROM inv i JOIN dfc d USING (shingle) WHERE d.df < {XLING_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.lang AS lang_a, b.lang AS lang_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM rare a JOIN rare b
  ON a.shingle = b.shingle AND a.doc_id < b.doc_id AND a.lang != b.lang
GROUP BY a.doc_id, b.doc_id, a.lang, b.lang
HAVING count(*) >= {XLING_MIN_SHARED}
"""


@query("cross_lingual_contamination", oracle=_XLING_ORACLE)
def q_cross_lingual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs in DIFFERENT languages sharing ≥ 3 rare 3-gram
    shingles — the translation-leak / copy-paste-across-locales signal
    a multilingual curation pass flags (same-language near-dups are the
    dedup family's job; this catches what they skip by construction).

    The inverted-index self-join is candidate-bounded the same way the
    jaccard AllPairs path is: only RARE shingles (df < {XLING_MAX_DF})
    generate pairs, so each shingle contributes at most df² ≤ 49
    candidates and corpus-frequent boilerplate contributes none —
    without the prune a single template shingle would emit a quadratic
    candidate block at web scale. One shuffle for the df counts, one
    equi-join on shingle, one pair aggregate.
    """
    d = (
        load_table_parallel(spark, sf_dir, "documents")
        .select("doc_id", "lang", H.tokens_expr("text").alias("toks"))
        .select("doc_id", "lang", H.shingles_from_tokens_expr("toks").alias("sh"))
    )
    inv = d.select("doc_id", "lang", F.explode_outer("sh").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    dfc = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = inv.join(dfc.filter(F.col("df") < XLING_MAX_DF).select("shingle"), "shingle")
    a = rare.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), "shingle"
    )
    b = rare.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), "shingle"
    )
    return (
        a.join(b, "shingle")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("lang_a") != F.col("lang_b")))
        .groupBy("doc_a", "doc_b", "lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= XLING_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (embedding-space overlap vs a held-out set)
# ---------------------------------------------------------------------------

# The embedding twin of benchmark_decontamination: n-gram collision
# only catches VERBATIM leakage — a paraphrased or re-worded benchmark
# item shares no 3-grams but sits next to the original in embedding
# space. The held-out set here is the embeddings-table analog of the
# benchmark subset (vec_id % 50 = 0), and the WHO-prune is the shared
# SemDeDup clustering: a training vector is only scored against
# held-out vectors in its OWN adaptive-⌈√n⌉ cluster, so the pair work
# is Σ(cluster × bench-in-cluster), never bench × corpus. The bench
# side additionally broadcasts (benchmark suites are tiny relative to
# a training corpus — the same asymmetry the n-gram twin exploits).

SEM_BENCH_FILTER = "vec_id % 50 = 0"


def _sem_decontam_oracle() -> str:
    from eventstreamer_spark.operators.similarity import (
        SEMDEDUP_T,
        _semdedup_assign_duck,
    )

    return f"""
WITH {_semdedup_assign_duck()},
bench AS (
  SELECT vec_id AS bench_id, uq AS b_uq, c_label FROM assign
  WHERE {SEM_BENCH_FILTER}
),
train AS (
  SELECT vec_id, uq, c_label FROM assign WHERE NOT ({SEM_BENCH_FILTER})
),
spairs AS (
  SELECT t.vec_id, b.bench_id,
         floor({H.qcosine_duck("t.uq", "b.b_uq")} * 100000 + 0.5) / 100000.0
           AS cosine
  FROM train t JOIN bench b ON t.c_label = b.c_label
)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_bench_same_cluster,
       max(cosine) AS max_cosine,
       CAST(CASE WHEN max(cosine) >= {SEMDEDUP_T} THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM spairs GROUP BY vec_id
"""


@query("semantic_decontamination", oracle=_sem_decontam_oracle())
def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: per training vector, how many
    held-out vectors share its SemDeDup cluster, the deepest cosine
    overlap, and a contamination flag at the SemDeDup threshold —
    catching the near-semantic leakage (paraphrase, re-wording) that
    benchmark_decontamination's n-gram collision cannot see.

    Pure composition of verified kernels: the adaptive-⌈√n⌉ cluster
    assignment is semdedup_assign (session-memoized centroids shared
    with ivf_adaptive_topk / semantic_dedup), the cosine is the exact
    quantized integer dot, the held-out subset is deterministic
    (vec_id % 50). Plan: held-out rows BROADCAST onto the corpus's
    cluster-key equi-join — the corpus never shuffles for scoring and
    only same-cluster pairs are ever scored (the SemDeDup ~n^1.5
    bound with the bench fraction on top). At 100 TB: identical, with
    the benchmark index materialized per cluster."""
    from eventstreamer_spark.operators.similarity import (
        SEMDEDUP_T,
        semdedup_assign_memo,
    )

    # consumer-side session memo (already checkpointed); the owner
    # semantic_dedup re-runs its own build each invocation
    assign = semdedup_assign_memo(spark, sf_dir)
    bench = assign.filter(F.expr(SEM_BENCH_FILTER)).select(
        F.col("vec_id").alias("bench_id"),
        F.col("uq").alias("b_uq"),
        "c_label",
    )
    train = assign.filter(~F.expr(SEM_BENCH_FILTER))
    cos5 = N.half_up(H.qcosine_expr("uq", "b_uq") * 100000, 100000)
    spairs = train.join(F.broadcast(bench), "c_label").select(
        "vec_id", "bench_id", cos5.alias("cosine")
    )
    return spairs.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bench_same_cluster"),
        F.max("cosine").alias("max_cosine"),
        (F.max("cosine") >= F.lit(SEMDEDUP_T)).cast("int").alias("contaminated"),
    )
