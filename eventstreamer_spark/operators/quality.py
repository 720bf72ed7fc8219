"""Trained model-based quality classifier (the fineweb-edu / DCLM
filter shape): closed-form ridge regression on hashed n-gram features,
solved from exact-integer normal equations, scoring every document
with broadcast weights.

This is the one curation dimension the heuristic scorers
(``text_stats_quality``, ``bigram_perplexity``) do not cover: a
*trained* linear model. The production shape at 100 TB:

- **Features**: hashed token-unigram counts (63 md5 buckets) plus an
  intercept — the fastText/DCLM hashing-trick feature space, d = 64.
  Feature extraction is row-local (no shuffle).
- **Labels**: deterministic, derived from existing integer-exact
  signals (length band × top-token repetition share), standing in for
  the LLM/human labels a real deployment plugs in. Integer
  comparisons only, so both engines label identically.
- **Normal equations**: X'X and X'y accumulate as map-side partial
  sums of integer products (per-doc outer products of the sparse
  feature vector, ≤ d² rows per partition after combine); the ONLY
  driver materialization is the d×d Gram matrix + d-vector
  (≤ 4 160 longs) — scale-free, because d is fixed while n grows.
- **Solve**: Gauss–Seidel sweeps on (X'X + λI) w = X'y in PURE
  INTEGER arithmetic (weights in 1e-6 units, exact floor division):
  GS converges for any symmetric positive-definite system, and the
  all-integer recurrence makes the learned weights bit-identical in
  any engine — the DuckDB oracle replays the same sweeps in a
  recursive CTE over HUGEINTs and must land on the same weights.
- **Scoring**: weights embedded as a 64-literal array in the plan
  (broadcast-by-literal); each doc's score is a row-local dot
  product — the full-corpus scoring pass shuffles nothing.

The reference (avodovnik/eventstreamer, Function1.cs:1-236) has no
model-based scoring; this extends SURVEY.md §2.1's beyond-reference
curation surface per VERDICT r6 item 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstreamer_spark.functions import hashing as H
from eventstreamer_spark.functions import numeric as N
from eventstreamer_spark.memo import artifact, checkpoint
from eventstreamer_spark.registry import query
from eventstreamer_spark.scratch import drip_stream
from eventstreamer_spark.session import shuffle_partitions
from eventstreamer_spark.sources.tables import load_table_parallel

N_BUCKETS = 63  # hashed unigram buckets; feature 63 is the intercept
D_FEAT = N_BUCKETS + 1
RIDGE_LAMBDA = 100  # in count² units, added to every Gram diagonal
GS_SWEEPS = 48
W_SCALE = 1_000_000  # weights live in exact 1e-6 units

# Label rule (integer-exact in both engines): a doc is "quality" when
# its token count sits in the 40..300 band AND no single token exceeds
# a 10% share (max_cnt * 10 <= n_toks). ~53% positive on the fixture.
_LABEL_CASE = (
    "CASE WHEN n_toks BETWEEN 40 AND 300 AND max_cnt * 10 <= n_toks "
    "THEN 1 ELSE 0 END"
)

_BUCKET_SPARK = (
    f"CAST(conv(substring(md5(tok), 1, 6), 16, 10) AS BIGINT) % {N_BUCKETS}"
)
_BUCKET_DUCK = f"CAST('0x' || substring(md5(tok), 1, 6) AS BIGINT) % {N_BUCKETS}"


def _fdiv(a: int, b: int) -> int:
    """Exact floor division shared with the oracle: subtracting the
    non-negative remainder first makes the quotient exact, so DuckDB's
    truncating ``//`` and Python's flooring ``//`` agree bit-for-bit."""
    return (a - ((a % b) + b) % b) // b


def solve_ridge_gs(
    gram: dict[tuple[int, int], int], bvec: dict[int, int]
) -> list[int]:
    """Gauss–Seidel on (X'X + λI) w = X'y in pure integer arithmetic
    (arbitrary-precision Python ints ↔ the oracle's HUGEINTs). Returns
    the weight vector in W_SCALE units after GS_SWEEPS full sweeps —
    deterministic regardless of convergence, and convergent because
    the ridge-regularized Gram is symmetric positive definite."""
    w = [0] * D_FEAT
    for _ in range(GS_SWEEPS):
        for i in range(D_FEAT):
            s = sum(
                gram[(i, j)] * w[j]
                for j in range(D_FEAT)
                if j != i and (i, j) in gram
            )
            den = gram.get((i, i), 0) + RIDGE_LAMBDA
            w[i] = _fdiv(W_SCALE * bvec.get(i, 0) - s, den)
    return w


def _gs_oracle_cte(p: str = "") -> str:
    """The recursive-CTE twin of solve_ridge_gs: one coordinate update
    per step, GS_SWEEPS*D_FEAT steps, state = the length-d HUGEINT
    weight list. All arithmetic integer; the floor-division identity
    matches _fdiv exactly. CTE names (and the gram/bvec inputs it
    reads) are prefixed with ``p`` for collision-free composition.

    The Gram matrix enters the recursion as a DENSE row-major HUGEINT
    list (λ already on the diagonal) cross-joined from 1-row
    materialized CTEs — deliberately NOT as correlated subqueries over
    the sparse gram CTE: DuckDB 1.x mis-evaluates correlated
    aggregates over inline-computed CTEs inside a recursive term
    (temp-table-backed runs of the identical SQL were correct; the
    dense-list form avoids the bug class entirely)."""
    steps = GS_SWEEPS * D_FEAT
    d = D_FEAT
    return f"""{p}cells AS (
  SELECT p.p AS pos,
         COALESCE(g.a, CAST(0 AS HUGEINT))
           + CASE WHEN ((p.p - 1) // {d}) = ((p.p - 1) % {d})
                  THEN {RIDGE_LAMBDA} ELSE 0 END AS a
  FROM (SELECT unnest(generate_series(1, {d * d})) AS p) p
  LEFT JOIN {p}gram g ON g.i = (p.p - 1) // {d} AND g.j = (p.p - 1) % {d}
),
{p}gmat AS MATERIALIZED (SELECT list(a ORDER BY pos) AS am FROM {p}cells),
{p}bcells AS (
  SELECT p.p AS pos, COALESCE(b.bv, CAST(0 AS HUGEINT)) AS bv
  FROM (SELECT unnest(generate_series(1, {d})) AS p) p
  LEFT JOIN {p}bvec b ON b.i = p.p - 1
),
{p}bmat AS MATERIALIZED (SELECT list(bv ORDER BY pos) AS bm FROM {p}bcells),
{p}gs AS (
  SELECT 0 AS step,
         list_transform(generate_series(1, {d}), k -> CAST(0 AS HUGEINT)) AS w
  UNION ALL
  SELECT step + 1,
         list_transform(generate_series(1, {d}), k ->
           CASE WHEN k = ci + 1
                THEN (num - ((num % den) + den) % den) // den
                ELSE w[k] END)
  FROM (
    SELECT step, w, ci,
           {W_SCALE} * bm[ci + 1]
             - list_sum(list_transform(generate_series(1, {d}), j ->
                 CASE WHEN j = ci + 1 THEN CAST(0 AS HUGEINT)
                      ELSE am[ci * {d} + j] * w[j] END)) AS num,
           am[ci * {d} + ci + 1] AS den
    FROM (SELECT step, w, step % {d} AS ci, am, bm FROM {p}gs, {p}gmat, {p}bmat) sub
  ) s
  WHERE step < {steps}
)"""


_TOKS_D = H.TOKENS_DUCK.format(col="text")

def _qc_parts(p: str = "") -> list[str]:
    """The classifier train+score chain as WITH-parts (CTE names
    prefixed with ``p``; requires WITH RECURSIVE at the head). Final
    CTEs: ``{p}lab`` = (doc_id, y) and ``{p}scores`` =
    (doc_id, score_e6)."""
    return [
        f"""{p}tokcnt AS MATERIALIZED (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest({_TOKS_D}) AS tok FROM documents)
  GROUP BY doc_id, tok
)""",
        f"""{p}stats AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_toks,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM {p}tokcnt GROUP BY doc_id
)""",
        f"""{p}lab AS MATERIALIZED (
  SELECT d.doc_id, {_LABEL_CASE} AS y
  FROM documents d LEFT JOIN {p}stats s ON d.doc_id = s.doc_id
)""",
        f"""{p}feat AS MATERIALIZED (
  SELECT doc_id, {_BUCKET_DUCK} AS b, CAST(sum(cnt) AS BIGINT) AS x
  FROM {p}tokcnt GROUP BY doc_id, {_BUCKET_DUCK}
  UNION ALL
  SELECT doc_id, {N_BUCKETS}, 1 FROM documents
)""",
        f"""{p}gram AS MATERIALIZED (
  SELECT fa.b AS i, fb.b AS j, CAST(sum(fa.x * fb.x) AS HUGEINT) AS a
  FROM {p}feat fa JOIN {p}feat fb ON fa.doc_id = fb.doc_id
  GROUP BY fa.b, fb.b
)""",
        f"""{p}bvec AS MATERIALIZED (
  SELECT f.b AS i, CAST(sum(f.x) AS HUGEINT) AS bv
  FROM {p}feat f JOIN {p}lab l ON f.doc_id = l.doc_id AND l.y = 1
  GROUP BY f.b
)""",
        _gs_oracle_cte(p),
        f"{p}wfinal AS MATERIALIZED "
        f"(SELECT w FROM {p}gs WHERE step = {GS_SWEEPS * D_FEAT})",
        f"""{p}scores AS (
  SELECT f.doc_id,
         CAST(sum(f.x * (SELECT w FROM {p}wfinal)[f.b + 1]) AS BIGINT) AS score_e6
  FROM {p}feat f GROUP BY f.doc_id
)""",
    ]


_QC_CHAIN_SQL = ",\n".join(_qc_parts())

_QC_ORACLE = f"""
WITH RECURSIVE {_QC_CHAIN_SQL}
SELECT l.doc_id, l.y AS label,
       s.score_e6 / 1000000.0 AS score,
       CASE WHEN s.score_e6 * 2 >= 1000000 THEN 1 ELSE 0 END AS predicted
FROM lab l JOIN scores s ON l.doc_id = s.doc_id
"""


def _doc_features(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(per-doc sparse feature list, per-doc label): the shared front
    half of training and scoring. feats: (doc_id, fs: array<struct<b,x>>)
    including the intercept; lab: (doc_id, y).

    Both outputs (and the token-count table they branch from) are
    localCheckpointed so the corpus is tokenized ONCE per invocation no
    matter how many consumers evaluate them — training's gram + bvec,
    the scoring pass, and the final label join previously re-derived
    the tokenize→groupBy chain ~3× (VERDICT r7 "repeated-subtree"
    finding). localCheckpoint, not persist(): Spark's plan-matching
    CacheManager would let a persist() from one bench run serve the
    next run's identical plan — a cross-invocation memo; a checkpoint
    is invocation-scoped by construction."""
    docs = load_table_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    tokcnt = (
        docs.select("doc_id", F.explode(H.tokens_expr("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(checkpoint)
    )
    stats = tokcnt.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_toks"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    lab = (
        docs.select("doc_id")
        .join(stats, "doc_id", "left")
        .select("doc_id", F.expr(_LABEL_CASE).cast("int").alias("y"))
        .transform(checkpoint)
    )
    feat = (
        tokcnt.groupBy("doc_id", F.expr(_BUCKET_SPARK).alias("b"))
        .agg(F.sum("cnt").cast("long").alias("x"))
        .unionByName(
            docs.select(
                "doc_id",
                F.lit(N_BUCKETS).cast("bigint").alias("b"),
                F.lit(1).cast("long").alias("x"),
            )
        )
    )
    # repartition before the checkpoint: AQE coalesces the aggregate
    # output to 1 partition, which would serialize the training pass's
    # interpreted per-pair outer-product transforms onto one core.
    feats = (
        feat.groupBy("doc_id")
        .agg(F.collect_list(F.struct("b", "x")).alias("fs"))
        .repartition(shuffle_partitions(spark), "doc_id")
        .transform(checkpoint)
    )
    return feats, lab


def train_ridge_weights(
    spark: SparkSession,
    sf_dir: str,
    feats: DataFrame | None = None,
    lab: DataFrame | None = None,
) -> list[int]:
    """Fit the ridge classifier from exact-integer normal equations:
    distributed X'X/X'y partials (≤ d² aggregate keys), driver-side
    integer Gauss–Seidel. The ONE training implementation shared by
    the batch scorer and the streaming serving twin — weights are in
    W_SCALE (1e-6) units and bit-identical across engines.

    Callers that also score (the batch classifier, the selection
    pipelines) pass precomputed ``feats``/``lab`` so the feature
    extraction runs once for the whole train+score chain."""
    if feats is None or lab is None:
        feats, lab = _doc_features(spark, sf_dir)
    # Per-doc outer products, exploded row-locally, collapsed to ≤ d²
    # keys. X'X is symmetric, so only the UPPER TRIANGLE (p2.b >= p1.b)
    # is generated/shuffled/aggregated — half the explode rows and half
    # the aggregate keys for the same exact matrix; the driver mirrors
    # (i,j) -> (j,i) below, so solve_ridge_gs sees the identical dense
    # gram the full-product form produced (optimization guide §1.2
    # per-task work, §2.3 shuffle fewer bytes).
    pairs = feats.select(
        F.explode(
            F.expr(
                "flatten(transform(fs, p1 -> transform("
                "filter(fs, p2 -> p2.b >= p1.b), "
                "p2 -> struct(p1.b AS i, p2.b AS j, p1.x * p2.x AS v))))"
            )
        ).alias("p")
    )
    gram_rows = (
        pairs.groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .agg(F.sum("p.v").cast("long").alias("a"))
        .collect()
    )
    bvec_rows = (
        feats.join(lab.filter(F.col("y") == 1), "doc_id")
        .select(F.explode("fs").alias("p"))
        .groupBy(F.col("p.b").alias("i"))
        .agg(F.sum("p.x").cast("long").alias("bv"))
        .collect()
    )
    gram = {(int(r.i), int(r.j)): int(r.a) for r in gram_rows}
    # symmetric mirror of the upper triangle (diagonal stays single)
    gram.update(
        {(j, i): a for (i, j), a in list(gram.items()) if i != j}
    )
    bvec = {int(r.i): int(r.bv) for r in bvec_rows}
    return solve_ridge_gs(gram, bvec)


def classifier_artifacts_memo(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, list[int]]:
    """(feats, lab, weights) for the trained ridge quality classifier,
    built ONCE per (applicationId, sf_dir) and shared by the FIVE
    classifier CONSUMERS (r14 optimization, guide §2.4 "remove
    shuffles outright"): the streaming serving twin, the calibration
    audit, the isotonic map, the selection pipeline and the
    selection-agreement audit — which through round 13 each re-ran
    the identical tokenize → feature fold → Gram collect → integer
    Gauss–Seidel chain per invocation for bit-identical weights (the
    training is deterministic integer arithmetic, so every rebuild
    HAD to produce the same vector). Consumers reuse the checkpointed
    feature/label frames and the driver-side weight list.
    OWNERS-PAY (VERDICT r14 item 1): the batch scorer
    quality_classifier_scores deliberately bypasses this artifact and
    pays the full training chain every invocation, so the bench's
    min-of-N steady state always contains the deepest build."""

    def build() -> tuple[DataFrame, DataFrame, list[int]]:
        feats, lab = _doc_features(spark, sf_dir)
        return feats, lab, train_ridge_weights(spark, sf_dir, feats=feats, lab=lab)

    return artifact(spark, sf_dir, "classifier_artifacts", build)


def ridge_scores(
    spark: SparkSession,
    sf_dir: str,
    w: list[int],
    feats: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score_e6) under weight vector ``w`` (W_SCALE units):
    the row-local literal-broadcast scoring pass, shared by the batch
    scorer and the selection-agreement audit so the two can never
    score differently. Pass the ``feats`` used for training to avoid a
    second feature-extraction scan."""
    if feats is None:
        feats, _ = _doc_features(spark, sf_dir)
    w_arr = F.array(*[F.lit(int(v)).cast("long") for v in w])
    return feats.select(
        "doc_id",
        F.aggregate(
            "fs",
            F.lit(0).cast("long"),
            lambda acc, p: acc + p["x"] * F.element_at(w_arr, p["b"].cast("int") + 1),
        ).alias("score_e6"),
    )


@query("quality_classifier_scores", oracle=_QC_ORACLE)
def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier end-to-end: hashed-unigram ridge
    regression fit via exact-integer normal equations, then a
    full-corpus scoring pass with the learned weights embedded as plan
    literals. Output: (doc_id, label, score, predicted) for every doc.

    Scale shape: X'X/X'y accumulate through ONE aggregation whose key
    space is ≤ d² = 4096 (map-side combine collapses each partition's
    partials first — the classic distributed normal-equations trick);
    the d×d solve is driver-side and scale-free; scoring is a
    row-local dot product against a literal weight array — no join,
    no shuffle beyond the per-doc feature fold. The exponent is the
    feature-extraction scan's: linear.

    Cross-engine exactness: every training number is an integer (count
    products, integer GS in 1e-6 weight units with exact floor
    division), so the learned weights — and therefore every score —
    are bit-identical between this plan and the DuckDB oracle's
    recursive-CTE replay of the same sweeps.

    OWNER query (VERDICT r14 item 1, owners-pay restored): this query
    deliberately BYPASSES classifier_artifacts_memo and re-runs the
    full tokenize → Gram → Gauss–Seidel chain every invocation — the
    pq_rerank_np4 pattern — so the training build appears in every
    bench pass's steady state; the five remaining consumers stay on
    the session artifact."""
    feats, lab = _doc_features(spark, sf_dir)
    w = train_ridge_weights(spark, sf_dir, feats=feats, lab=lab)
    scored = ridge_scores(spark, sf_dir, w, feats=feats)
    return lab.join(scored, "doc_id").select(
        "doc_id",
        F.col("y").alias("label"),
        (F.col("score_e6") / F.lit(1000000.0)).alias("score"),
        (F.col("score_e6") * 2 >= F.lit(1000000)).cast("int").alias("predicted"),
    )


# ---------------------------------------------------------------------------
# Streaming model serving: score a live document stream with the
# offline-trained classifier
# ---------------------------------------------------------------------------

_STREAM_QC_CHUNKS = 3


@query("stream_classifier_scores", oracle=_QC_ORACLE)
def q_stream_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-offline / score-online: the ridge classifier is fit on
    the static corpus (shared ``train_ridge_weights`` — the batch
    twin's exact training path), then documents arrive as a LIVE
    STREAM in three micro-batches and every doc is scored in-flight
    with the learned weights embedded as plan literals.

    The serving plan is COMPLETELY STATELESS — scoring is a row-local
    integer fold over the token array (Σ_tok w[bucket(tok)] plus the
    intercept, which equals the batch twin's Σ_b c_b·w_b bucket-count
    dot product exactly, since int64 addition is associative), and the
    label/prediction are row-local expressions too. No aggregation, no
    state store, no watermark: append mode, one output row per input
    row. That is the 100 TB serving shape — a broadcast-weight map
    over the stream, horizontally scalable to any throughput, while
    training stays a bounded d×d problem offline.

    Oracle: the batch classifier's oracle VERBATIM — same labels, same
    weights, same scores — so the offline and online paths can never
    drift. Micro-batch boundaries cannot change results (stateless
    per-row map)."""
    from eventstreamer_spark.sources.tables import load_table
    from eventstreamer_spark.streaming.pipeline import run_stream

    _feats, _lab, w = classifier_artifacts_memo(spark, sf_dir)
    w_lits = ", ".join(f"{int(v)}L" for v in w)
    toks = H.TOKENS_SPARK.format(col="text")
    bucket_of = (
        f"CAST(conv(substring(md5(tok), 1, 6), 16, 10) AS BIGINT) % {N_BUCKETS}"
    )
    score_expr = (
        f"aggregate({toks}, CAST({int(w[N_BUCKETS])} AS BIGINT), "
        f"(acc, tok) -> acc + element_at(array({w_lits}), "
        f"CAST({bucket_of} AS INT) + 1))"
    )
    # row-local label twin of _LABEL_CASE: n_toks/max_cnt from array
    # expressions instead of the batch twin's token aggregate
    stats_expr = (
        f"named_struct('n_toks', size({toks}), "
        f"'max_cnt', array_max(transform(array_distinct({toks}), "
        f"d -> size(filter({toks}, x -> x = d)))))"
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with drip_stream(
        spark, docs, F.col("doc_id") % _STREAM_QC_CHUNKS, _STREAM_QC_CHUNKS
    ) as stream:
        scored = (
            stream.withColumn("st", F.expr(stats_expr))
            .withColumn("score_e6", F.expr(score_expr))
            .select(
                "doc_id",
                F.expr(
                    _LABEL_CASE.replace("n_toks", "st.n_toks").replace(
                        "max_cnt", "st.max_cnt"
                    )
                )
                .cast("int")
                .alias("label"),
                (F.col("score_e6") / F.lit(1000000.0)).alias("score"),
                (F.col("score_e6") * 2 >= F.lit(1000000))
                .cast("int")
                .alias("predicted"),
            )
        )
        sink, _ = run_stream(scored)
    return sink


# ---------------------------------------------------------------------------
# Calibration audit: is the trained classifier's score a probability?
# ---------------------------------------------------------------------------

# The house measure-the-estimator pattern applied to the trained
# quality filter itself: reliability-diagram bins + the per-bin ECE
# contributions. A ridge score is NOT a calibrated probability — the
# audit quantifies by how much, which is what decides whether a
# pipeline can threshold it directly or must recalibrate (Platt /
# isotonic) before using it as a sampling weight.

_CALIB_BINS = 10

_CALIB_ORACLE = f"""
WITH RECURSIVE {_QC_CHAIN_SQL},
j AS (
  SELECT l.y, s.score_e6 FROM lab l JOIN scores s ON l.doc_id = s.doc_id
),
binned AS (
  SELECT CAST(LEAST((GREATEST(score_e6, 0) * 10) // 1000000, {_CALIB_BINS - 1})
              AS BIGINT) AS bin,
         score_e6, y
  FROM j
),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(score_e6) AS BIGINT) AS ss, CAST(sum(y) AS BIGINT) AS sy
  FROM binned GROUP BY bin
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM binned),
r AS (
  SELECT bin, n_docs, total,
         floor(CAST(ss AS DOUBLE) / n_docs + 0.5) / 1000000.0 AS mean_pred,
         floor(CAST(sy AS DOUBLE) * 1000000 / n_docs + 0.5) / 1000000.0 AS frac_pos
  FROM per, tot
)
SELECT bin, n_docs, mean_pred, frac_pos,
       abs(mean_pred - frac_pos) AS abs_gap,
       floor(abs(mean_pred - frac_pos) * n_docs * 1000000 / total + 0.5)
         / 1000000.0 AS weighted_gap
FROM r
"""


@query("classifier_calibration_audit", oracle=_CALIB_ORACLE)
def q_classifier_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration audit of the trained ridge
    quality classifier: scores clamped to [0,1] and decile-binned
    (integer bin edges in the exact 1e-6 score domain), each bin
    reporting mean predicted score vs observed positive rate plus its
    |gap| and n/N-weighted gap — SUM(weighted_gap) IS the expected
    calibration error.

    Scale shape: reuses the classifier's one-tokenize-pass
    checkpointed features and literal-broadcast scoring
    (quality_classifier_scores' plan); the audit itself adds one
    10-key aggregation and a broadcast 1-row total join — nothing
    corpus-sized beyond the scoring scan it already shares."""
    feats, lab, w = classifier_artifacts_memo(spark, sf_dir)
    scored = ridge_scores(spark, sf_dir, w, feats=feats)
    binned = lab.join(scored, "doc_id").select(
        F.expr(
            f"CAST(LEAST((GREATEST(score_e6, 0) * 10) DIV 1000000, "
            f"{_CALIB_BINS - 1}) AS BIGINT)"
        ).alias("bin"),
        "score_e6",
        "y",
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("score_e6").cast("long").alias("ss"),
        F.sum("y").cast("long").alias("sy"),
    )
    tot = binned.agg(F.count(F.lit(1)).cast("long").alias("total"))
    r = per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_docs",
        "total",
        N.half_up(F.col("ss").cast("double") / F.col("n_docs"), 1000000).alias(
            "mean_pred"
        ),
        N.half_up(
            F.col("sy").cast("double") * 1000000 / F.col("n_docs"), 1000000
        ).alias("frac_pos"),
    )
    return r.select(
        "bin",
        "n_docs",
        "mean_pred",
        "frac_pos",
        F.abs(F.col("mean_pred") - F.col("frac_pos")).alias("abs_gap"),
        N.half_up(
            F.abs(F.col("mean_pred") - F.col("frac_pos"))
            * F.col("n_docs")
            * 1000000
            / F.col("total"),
            1000000,
        ).alias("weighted_gap"),
    )


# ---------------------------------------------------------------------------
# Isotonic recalibration: the monotone probability map PAV would fit
# ---------------------------------------------------------------------------

# The remediation the calibration audit calls for: fit the isotonic
# (monotone nondecreasing) regression of observed label rate on score
# bin. Computed via the minimax closed form of PAV (Robertson/Wright/
# Dykstra: iso(b) = max_{i<=b} min_{j>=b} pooled_rate(i..j)), which is
# PURELY relational — interval aggregates + a min and a max pass over
# the fixed {B}-bin table — so no sequential pool-merging loop exists
# to replay, and both engines compute the identical map from identical
# integer (sum_y, sum_n) interval sums. Everything after the scoring
# scan runs on <= B rows: the fit itself is scale-free by construction
# (B is fixed while n grows), which is exactly why production
# recalibration is cheap at 100 TB.


def _iso_parts() -> str:
    """WITH-parts appended after the classifier chain: decile bins →
    interval pooled rates → minimax isotonic fit."""
    return f"""
binagg AS (
  SELECT CAST(LEAST((GREATEST(s.score_e6, 0) * 10) // 1000000, {_CALIB_BINS - 1})
              AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS sn, CAST(sum(l.y) AS BIGINT) AS sy
  FROM lab l JOIN scores s ON l.doc_id = s.doc_id
  GROUP BY 1
),
iv AS (
  SELECT a.bin AS i, b.bin AS j
  FROM binagg a JOIN binagg b ON a.bin <= b.bin
),
pooled AS (
  SELECT iv.i, iv.j,
         CAST(sum(g.sy) AS DOUBLE) / CAST(sum(g.sn) AS DOUBLE) AS rate
  FROM iv JOIN binagg g ON g.bin BETWEEN iv.i AND iv.j
  GROUP BY iv.i, iv.j
),
mn AS (
  SELECT b.bin, p.i, min(p.rate) AS mrate
  FROM pooled p JOIN binagg b ON p.i <= b.bin AND p.j >= b.bin
  GROUP BY b.bin, p.i
),
iso AS (SELECT bin, max(mrate) AS c FROM mn GROUP BY bin)
"""


_ISO_ORACLE = f"""
WITH RECURSIVE {_QC_CHAIN_SQL},
{_iso_parts()}
SELECT g.bin, g.sn AS n_docs,
       floor(CAST(g.sy AS DOUBLE) * 1000000 / g.sn + 0.5) / 1000000.0 AS frac_pos,
       floor(i.c * 1000000 + 0.5) / 1000000.0 AS calibrated
FROM binagg g JOIN iso i ON g.bin = i.bin
"""


@query("isotonic_calibration_map", oracle=_ISO_ORACLE)
def q_isotonic_calibration_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic recalibration map for the trained ridge classifier:
    per decile bin, the monotone-nondecreasing calibrated probability
    PAV would assign, via the minimax identity
    iso(b) = max over i<=b of min over j>=b of pooled rate(i..j) —
    closed-form, loop-free, and exact from integer interval sums.

    Scale shape: one scoring scan (the classifier's shared
    checkpointed features + literal weights), one 10-key aggregation,
    then every remaining operator touches at most B^2 = 100 rows —
    the fit is O(B^3) on a constant B regardless of corpus size. The
    interval build is a bounded non-equi self-join of the 10-row bin
    table (BroadcastNestedLoop on purpose — there is nothing to hash
    on and the sides are constant-size)."""
    feats, lab, w = classifier_artifacts_memo(spark, sf_dir)
    scored = ridge_scores(spark, sf_dir, w, feats=feats)
    binagg = (
        lab.join(scored, "doc_id")
        .select(
            F.expr(
                f"CAST(LEAST((GREATEST(score_e6, 0) * 10) DIV 1000000, "
                f"{_CALIB_BINS - 1}) AS BIGINT)"
            ).alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sn"),
            F.sum("y").cast("long").alias("sy"),
        )
        .transform(checkpoint)  # <= B rows; feeds 3 tiny consumers
    )
    a = binagg.select(F.col("bin").alias("i"))
    b = binagg.select(F.col("bin").alias("j"))
    iv = a.join(F.broadcast(b), F.col("i") <= F.col("j"))
    pooled = (
        iv.join(F.broadcast(binagg), F.col("bin").between(F.col("i"), F.col("j")))
        .groupBy("i", "j")
        .agg(
            (F.sum("sy").cast("double") / F.sum("sn").cast("double")).alias("rate")
        )
    )
    mn = (
        pooled.join(
            F.broadcast(binagg.select(F.col("bin"))),
            (F.col("i") <= F.col("bin")) & (F.col("j") >= F.col("bin")),
        )
        .groupBy("bin", "i")
        .agg(F.min("rate").alias("mrate"))
    )
    iso = mn.groupBy("bin").agg(F.max("mrate").alias("c"))
    return binagg.join(iso, "bin").select(
        "bin",
        F.col("sn").alias("n_docs"),
        N.half_up(F.col("sy").cast("double") * 1000000 / F.col("sn"), 1000000).alias(
            "frac_pos"
        ),
        N.half_up(F.col("c") * 1000000, 1000000).alias("calibrated"),
    )
