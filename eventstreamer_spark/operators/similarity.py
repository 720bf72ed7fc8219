"""Similarity search over the ``embeddings`` table.

Two tiers, as a real 100 TB pipeline would have:

- **brute-force cosine top-k** — the exact baseline. Query set ×
  corpus via broadcast of the (small) query set, dot products JVM-side
  in whole-stage codegen, per-query top-k via window rank (the
  groupBy-key top-k shape, shuffles only (query, candidate-rank) pairs).
- **SRP-LSH bucketed top-k** — the scale path: sign-random-projection
  buckets (8 fixed hyperplanes, functions/hashing.py) shrink the
  candidate set to one bucket per query before the exact re-rank.
  Recall is tunable with multi-probe/bands; the bucket assignment is
  deterministic so this variant is still oracle-checked.
- **IVF assignment** — k-means-style inverted-file scaffolding with
  label centroids: computes per-label centroids and assigns every
  vector to its nearest centroid. The centroid build + assign is the
  training loop body of IVF/k-means at scale (fits entirely in two
  shuffles).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eventstreamer_spark.functions import hashing as H
from eventstreamer_spark.functions import numeric as N
from eventstreamer_spark.memo import artifact, checkpoint
from eventstreamer_spark.registry import query
from eventstreamer_spark.scratch import drip_stream
from eventstreamer_spark.sources.tables import load_table, load_table_parallel

TOP_K = 10
QUERY_FILTER = "vec_id % 100 = 0"  # deterministic query subset at every sf


def _ranked_topk(pairs: DataFrame) -> DataFrame:
    """Per-query top-k by (cosine desc, neighbor id) — rounded before
    ranking so float ties order identically across engines."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_BRUTE_ORACLE = f"""
WITH u AS (SELECT * FROM (
  SELECT vec_id, {H.quantized_unit_duck("embedding")} AS uq FROM embeddings
) WHERE uq[1] IS NOT NULL),
q AS (SELECT vec_id, uq FROM u WHERE {QUERY_FILTER}),
pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round({H.qcosine_duck("q.uq", "e.uq")}, 5) AS cosine
  FROM q JOIN u e ON q.vec_id != e.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


def brute_topk(e: DataFrame) -> DataFrame:
    """Exact cosine top-k over a prepared (vec_id, uq) corpus.

    The query side is broadcast (it is always tiny relative to the
    corpus), so the corpus never shuffles for the scoring pass."""
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("uq").alias("q_uq")
    )
    pairs = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
        )
    )
    return _ranked_topk(pairs)


# Session artifact: the CHECKPOINTED exact ground truth for CONSUMER
# queries (the pq_recall_at_k grid — VERDICT r10 item 4, the
# semdedup_assign_memo pattern): the truth table is a fixed artifact
# of (corpus, QUERY_FILTER, TOP_K), identical for every recall/eval
# grid that reads it. The OWNER, ann_bruteforce_topk, calls
# brute_topk() directly and re-runs its own build every invocation
# (the bench-honesty rule: artifacts are for consumers, never a
# query's own build).
def brute_truth_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-facing exact ANN ground truth (query_id, neighbor_id,
    rank): first call per (app, sf_dir) materializes brute_topk over
    the zero-norm-dropped quantized corpus behind an eager
    localCheckpoint; later calls reuse the handle."""

    def build() -> DataFrame:
        prepared = H.with_quantized_unit(
            load_table_parallel(spark, sf_dir, "embeddings"),
            "embedding",
            "uq",
            drop_zero_norm=True,
        ).select("vec_id", "uq")
        return (
            brute_topk(prepared)
            .select("query_id", "neighbor_id", "rank")
            .transform(checkpoint, eager=True)
        )

    return artifact(spark, sf_dir, "brute_truth", build)


@query("ann_bruteforce_topk", oracle=_BRUTE_ORACLE)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a deterministic query subset (see
    brute_topk for the plan shape)."""
    return brute_topk(
        H.with_quantized_unit(
            load_table_parallel(spark, sf_dir, "embeddings"),
            "embedding",
            "uq",
            drop_zero_norm=True,
        ).select("vec_id", "uq")
    )


_LSH_ORACLE = f"""
WITH b AS (
  SELECT * FROM (
    SELECT vec_id, {H.quantized_unit_duck("embedding")} AS uq,
           {H.srp_bucket_duck("embedding")} AS bucket FROM embeddings
  ) WHERE uq[1] IS NOT NULL
), q AS (SELECT * FROM b WHERE {QUERY_FILTER}),
probes AS (
  SELECT vec_id, uq, unnest({H.srp_probe_buckets_duck("bucket")}) AS pb FROM q
), pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round({H.qcosine_duck("q.uq", "e.uq")}, 5) AS cosine
  FROM probes q JOIN b e ON q.pb = e.bucket AND q.vec_id != e.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


def lsh_topk(e: DataFrame) -> DataFrame:
    """Multi-probe SRP-LSH top-k over a prepared
    (vec_id, uq, bucket) corpus: each query probes its own sign
    bucket plus every Hamming-1 neighbor bucket (one hyperplane's sign
    flipped) — the standard recall lift at ~(planes+1)× candidate
    cost.

    The probe explode happens on the (tiny, broadcast) query side
    only; the corpus keeps one bucket per vector and the candidate
    pass stays a single bucket equi-join — the plan shape that
    survives a 10^9-vector corpus. A corpus vector lives in exactly
    one bucket and probe buckets are distinct, so no candidate pair
    duplicates. Exact cosine re-ranks within the probed buckets."""
    q = (
        e.filter(F.expr(QUERY_FILTER))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("uq").alias("q_uq"),
            F.explode(H.srp_probe_buckets_expr("bucket")).alias("pb"),
        )
    )
    pairs = (
        F.broadcast(q)
        .join(e, (F.col("pb") == F.col("bucket")) & (F.col("query_id") != F.col("vec_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
        )
    )
    return _ranked_topk(pairs)


@query("ann_lsh_topk", oracle=_LSH_ORACLE)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH top-k (see lsh_topk for the plan shape)."""
    return lsh_topk(
        H.with_quantized_unit(
            load_table_parallel(spark, sf_dir, "embeddings"),
            "embedding",
            "uq",
            drop_zero_norm=True,
        ).select("vec_id", "uq", H.srp_bucket_expr("embedding").alias("bucket"))
    )


# Fixed Lloyd iterations AFTER the label-seeded build: assign every
# vector to its nearest centroid, recompute centroids as member means,
# repeat. Deterministic across engines because centroid components are
# integer-scaled half-up-rounded means and assignments use rounded
# cosines with a c_label tie-break — an iteration can only diverge if
# an assignment flips, and no rounding boundary can flip differently.
IVF_ITERS = 2

# integer-scaled mean with explicit floor(x+0.5) half-up: both engines
# see identical integer sums, and an average landing exactly on a
# rounding boundary cannot tie-break differently
_MEAN_SCALED_DUCK = (
    "floor(sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) * 1.0"
    " / count(*) + 0.5) / 1000000.0"
)


def _assemble_centroids(comp: DataFrame) -> DataFrame:
    """(c_label, pos, c) component rows → (c_label, centroid array)."""
    return (
        comp.groupBy("c_label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("c_label", F.expr("transform(pc, x -> x.c)").alias("centroid"))
    )


_BLAS_PINNED = False


def _mapped_openblas() -> set[str]:
    """Paths of every OpenBLAS shared object mapped into this process."""
    libs = set()
    with open("/proc/self/maps") as f:
        for line in f:
            part = line.rsplit(" ", 1)[-1].strip()
            if "openblas" in part.lower() and ".so" in part:
                libs.add(part)
    return libs


def _blas_single_thread() -> None:
    """Pin the in-process BLAS to ONE thread (idempotent, per worker).

    The f64 kernel matmuls here are small and run from MANY concurrent
    Spark Python workers; a multi-threaded OpenBLAS spin-waits after
    every call and oversubscribes the host — measured at 32-process
    saturation on this host: f64 gemm wall 6.0 s multi-threaded vs
    0.6 s single-threaded (vs 3.4 s for the old non-BLAS int64 path).
    Env vars only work if set before the worker's numpy import, which
    an externally-launched driver does not guarantee — so this pins
    every already-loaded copy directly via its control symbol, and
    latches only once a pin succeeded.
    Best-effort: failure leaves the default threading (the old
    behavior), never raises."""
    global _BLAS_PINNED
    if _BLAS_PINNED:
        return
    try:
        import ctypes

        for lib in _mapped_openblas():
            h = ctypes.CDLL(lib)
            for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
                fn = getattr(h, sym, None)
                if fn is not None:
                    fn(1)
                    _BLAS_PINNED = True
                    break
    except Exception:
        pass


def _score_centroids(embq: DataFrame, cent: DataFrame, max_rank: int = 1) -> DataFrame:
    """Per-vector top-``max_rank`` nearest centroids, MLlib-style.

    The quantized centroid table is k×dim — driver-sized by
    construction (this is the one collect a distributed k-means always
    does; Spark MLlib's KMeans collects centers every iteration too).
    Each Arrow batch of the corpus then scores against the centroid
    matrix with ONE exact int64 matmul — no crossJoin row explosion
    and no n·k window shuffle, and the corpus never moves.

    Output: (vec_id, uq, c_label, cosine, rn) with rn 1..max_rank by
    (cosine desc, c_label) — identical ordering to the SQL
    row_number() the oracle uses, via a unique integer sort key.
    """
    import numpy as np
    import pandas as pd

    # k-row table: a 1-partition barrier avoids 32 near-empty tasks
    centq = H.with_quantized_unit(cent, "centroid", "cq", barrier_partitions=1).select(
        "c_label", "cq"
    )
    crows = centq.collect()
    # a degenerate all-zero centroid quantizes to NULL elements and
    # cannot be scored — drop it (its members reassign elsewhere)
    crows = [r for r in crows if r.cq is not None and len(r.cq) and r.cq[0] is not None]
    labels = np.asarray([r.c_label for r in crows], dtype="int64")
    cmat = np.asarray([list(r.cq) for r in crows], dtype="int64")
    cmatf = cmat.T.astype("float64")
    r = min(max_rank, len(labels))

    def score(batches):
        _blas_single_thread()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            amat = np.array([np.asarray(u, dtype="int64") for u in pdf["uq"]])
            # f64 BLAS matmul, bit-exact: |component| <= 1e6, so every
            # product <= 1e12 and every partial sum <= 64*1e12 = 6.4e13
            # — far below 2^53, so float64 carries the integers intact
            # while using the BLAS path NumPy's int64 matmul lacks
            # (measured 10-70x on k x n x 64 shapes; pinned by
            # test_f64_matmul_exact_at_quantization_bound).
            dots = amat.astype("float64") @ cmatf
            cos = np.floor(dots / 1e12 * 1e5 + 0.5) / 1e5  # round half-up to 5
            # unique integer key = (cosine desc, c_label asc); rint
            # because cos*1e5 can sit an ulp under the integer
            key = np.rint(-cos * 1e5).astype("int64") * 10**7 + labels[None, :]
            order = np.argsort(key, axis=1)[:, :r]
            rows_idx = np.repeat(np.arange(len(pdf)), r)
            sel = order.ravel()
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64")[rows_idx],
                    "uq": pdf["uq"].to_numpy()[rows_idx],
                    "c_label": labels[sel].astype("int32"),
                    "cosine": cos[rows_idx, sel],
                    "rn": np.tile(np.arange(1, r + 1), len(pdf)).astype("int32"),
                }
            )

    return embq.mapInPandas(
        score, "vec_id bigint, uq array<bigint>, c_label int, cosine double, rn int"
    )


def _lloyd_mean_partials(itbl: DataFrame, cent: DataFrame) -> DataFrame:
    """ONE map-side pass per Lloyd iteration: assign each vector to
    its nearest centroid with ``_score_centroids``' exact argmin key
    and emit per-batch int64 PARTIAL SUMS (c_label, pos, psum, pcnt)
    for the member means — the r14-optimization replacement for the
    old assign-then-join shape, which shuffled the n×64 component
    table through a SortMergeJoin every iteration (optimization guide
    §2.3 "aggregate before you shuffle"). The reduce side now sees
    ≤ k×dim×partitions partial rows instead of n×dim component rows.

    Exactness: identical to the join+groupBy form by construction —
    the assignment kernel is the same rounded-cosine integer argsort
    key (unique per row: ties break to the smallest c_label), int64
    addition is associative so partition partials sum to the same
    totals, and the floor(+0.5) mean below divides identical
    integers. A centroid that loses every member emits no partial
    row anywhere, preserving the inner-join dropout semantics."""
    import numpy as np
    import pandas as pd

    centq = H.with_quantized_unit(cent, "centroid", "cq", barrier_partitions=1).select(
        "c_label", "cq"
    )
    crows = centq.collect()
    crows = [r for r in crows if r.cq is not None and len(r.cq) and r.cq[0] is not None]
    labels = np.asarray([r.c_label for r in crows], dtype="int64")
    cmat = np.asarray([list(r.cq) for r in crows], dtype="int64")
    cmatf = cmat.T.astype("float64")

    def partials(batches):
        _blas_single_thread()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            amat = np.array([np.asarray(u, dtype="int64") for u in pdf["uq"]])
            # f64 BLAS matmul, bit-exact: |component| <= 1e6, so every
            # product <= 1e12 and every partial sum <= 64*1e12 = 6.4e13
            # — far below 2^53, so float64 carries the integers intact
            # while using the BLAS path NumPy's int64 matmul lacks
            # (measured 10-70x on k x n x 64 shapes; pinned by
            # test_f64_matmul_exact_at_quantization_bound).
            dots = amat.astype("float64") @ cmatf
            cos = np.floor(dots / 1e12 * 1e5 + 0.5) / 1e5  # round half-up to 5
            # same unique integer key as _score_centroids; argmin ==
            # argsort()[:, 0] because keys are unique within a row
            key = np.rint(-cos * 1e5).astype("int64") * 10**7 + labels[None, :]
            sel = np.argmin(key, axis=1)
            vmat = np.array([np.asarray(v, dtype="int64") for v in pdf["v6"]])
            k, dim = len(labels), vmat.shape[1]
            sums = np.zeros((k, dim), dtype="int64")
            np.add.at(sums, sel, vmat)
            cnts = np.bincount(sel, minlength=k).astype("int64")
            nz = np.flatnonzero(cnts)
            yield pd.DataFrame(
                {
                    "c_label": np.repeat(labels[nz], dim).astype("int32"),
                    "pos": np.tile(np.arange(dim, dtype="int32"), len(nz)),
                    "psum": sums[nz].ravel(),
                    "pcnt": np.repeat(cnts[nz], dim),
                }
            )

    return itbl.mapInPandas(
        partials, "c_label int, pos int, psum bigint, pcnt bigint"
    )


# the exact v6 = round(x·1e6) integer components the seed centroid mean sums,
# gathered as an array so the Lloyd partials pass reads them row-locally
_V6_ARR_S = (
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
)


def ivf_centroids_iterated(
    e: DataFrame, iters: int = IVF_ITERS, embq: DataFrame | None = None
) -> DataFrame:
    """Label-seeded centroids + ``iters`` full Lloyd iterations.

    Each iteration is ONE pass over the (vec_id, uq, v6) table: the
    scoring kernel assigns every vector row-locally against the
    broadcast-collected k×dim centroid matrix AND emits the member
    means' int64 partial sums in the same mapInPandas
    (_lloyd_mean_partials) — the canonical distributed k-means step
    with map-side combine. The old shape shuffled the n×64 exploded
    component table through a join per iteration; now only
    ≤ k×dim×partitions partial rows move (optimization guide §2.3).
    Iterated a fixed number of times so the plan is static and the
    oracle can replay it as a CTE chain. Clusters that lose every
    member drop out (no partial row — identical to the former
    inner-join semantics in both engines)."""
    expl = e.select("vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
    comp0 = expl.groupBy(F.col("label").alias("c_label"), F.col("pos")).agg(
        N.mean6_spark(F.col("v").cast("double")).alias("c")
    )
    cent = _assemble_centroids(comp0)
    if iters == 0:
        return cent
    if embq is None:
        embq = (
            H.with_quantized_unit(e, "embedding", "uq")
            .select("vec_id", "uq")
            .transform(checkpoint)
        )
    # The iteration table: embq's exact row set (filters/samples the
    # caller applied stay binding) joined back to the raw components —
    # one bounded join, materialized once, then every iteration is a
    # single scan of the checkpointed blocks.
    itbl = (
        embq.select("vec_id", "uq")
        .join(e.select("vec_id", F.expr(_V6_ARR_S).alias("v6")), "vec_id")
        .transform(checkpoint)
    )
    mean_c = N.scaled_mean(F.sum("psum"), F.sum("pcnt"), 1000000).alias("c")
    for _ in range(iters):
        comp = _lloyd_mean_partials(itbl, cent).groupBy("c_label", "pos").agg(mean_c)
        cent = _assemble_centroids(comp)
    return cent


def ivf_centroids_for(
    spark: SparkSession,
    sf_dir: str,
    iters: int = IVF_ITERS,
    e: DataFrame | None = None,
    embq: DataFrame | None = None,
    variant: str = "label",
) -> DataFrame:
    """Lloyd-iterated centroids as a session artifact. The three IVF
    consumers (ivf_centroid_assign, ivf_topk_search, ann_recall_at_k's
    ivf branch) otherwise each replay the identical Lloyd iterations
    from scratch. The artifact is the COLLECTED rows: the table is
    k×dim — driver-sized by construction (the same k rows
    _score_centroids collects anyway). First call per (app, sf_dir,
    iters, variant) runs the full distributed build; later calls
    rebuild the k-row DataFrame from the stored rows without touching
    the cluster. ``variant`` names the seeding scheme so
    differently-seeded builds (label seeds vs adaptive mod-⌈√n⌉ seeds)
    never share an artifact."""

    def build() -> tuple[list, object]:
        cent = ivf_centroids_iterated(
            load_table(spark, sf_dir, "embeddings") if e is None else e,
            iters=iters,
            embq=embq,
        )
        return cent.collect(), cent.schema

    rows, schema = artifact(spark, sf_dir, f"centroids:{variant}:{iters}", build)
    return spark.createDataFrame(rows, schema)


def sqrt_k(counted: DataFrame) -> int:
    """The adaptive IVF cell count ⌈√n⌉ for the n rows of ``counted``:
    one driver job, which also materializes ``counted`` when it is an
    eager=False checkpoint."""
    return int(math.ceil(math.sqrt(counted.count())))


def mod_k_seeded(e: DataFrame, k: int) -> DataFrame:
    """``e`` with the adaptive build's seed cell ``label = vec_id % k``."""
    return e.withColumn("label", F.col("vec_id") % F.lit(k))


def sqrt_k_centroids(
    spark: SparkSession,
    sf_dir: str,
    e: DataFrame,
    embq: DataFrame,
    counted: DataFrame | None = None,
) -> tuple[int, DataFrame, DataFrame]:
    """The adaptive ⌈√n⌉ IVF build every consumer shares: k =
    ``sqrt_k(counted)`` (``e`` by default), cells seeded by
    ``mod_k_seeded(e, k)`` and Lloyd-iterated from ``embq`` as the one
    ``sqrt-k{k}`` centroid artifact. Returns (k, seeded e, centroids)."""
    k = sqrt_k(e if counted is None else counted)
    seeded = mod_k_seeded(e, k)
    cent = ivf_centroids_for(spark, sf_dir, e=seeded, embq=embq, variant=f"sqrt-k{k}")
    return k, seeded, cent


def _ivf_centroids_duck(
    iters: int = IVF_ITERS,
    seed: str = "label",
    pref: str = "",
    src: str = "embeddings",
) -> str:
    """DuckDB twin of ivf_centroids_iterated as a WITH-clause body;
    the final centroid table is named ``{pref}cent`` (c_label,
    centroid). ``seed`` is the cluster-seed expression — the data's
    label column by default, or a computed seed (adaptive-k: vec_id
    mod ⌈√n⌉). ``pref``/``src`` let a second independently-trained
    chain (e.g. the fixed-rate SAMPLED training twin) compose in the
    same WITH block without CTE-name collisions; defaults emit the
    historical names so existing oracles are byte-identical."""
    parts = [
        f"{pref}expl AS (SELECT vec_id, {seed} AS label, unnest(embedding) AS v,"
        f" generate_subscripts(embedding, 1) AS pos FROM {src})",
        f"{pref}comp0 AS (SELECT label AS c_label, pos, {_MEAN_SCALED_DUCK} AS c"
        f" FROM {pref}expl GROUP BY label, pos)",
        f"{pref}cent0 AS (SELECT c_label, list(c ORDER BY pos) AS centroid"
        f" FROM {pref}comp0 GROUP BY c_label)",
        f"{pref}embq AS (SELECT * FROM (SELECT vec_id, label,"
        f" {H.quantized_unit_duck('embedding')} AS uq"
        f" FROM {src}) WHERE uq[1] IS NOT NULL)",
    ]
    for t in range(1, iters + 1):
        prev = f"{pref}cent{t - 1}"
        parts += [
            f"{pref}centq{t - 1} AS (SELECT c_label, {H.quantized_unit_duck('centroid')} AS cq"
            f" FROM {prev})",
            f"{pref}scored{t} AS (SELECT e.vec_id, c.c_label,"
            f" round({H.qcosine_duck('e.uq', 'c.cq')}, 5) AS cosine"
            f" FROM {pref}embq e CROSS JOIN {pref}centq{t - 1} c)",
            f"{pref}assign{t} AS (SELECT vec_id, c_label FROM"
            f" (SELECT vec_id, c_label, row_number() OVER"
            f" (PARTITION BY vec_id ORDER BY cosine DESC, c_label) AS rn"
            f" FROM {pref}scored{t}) WHERE rn = 1)",
            f"{pref}comp{t} AS (SELECT a.c_label, x.pos, {_MEAN_SCALED_DUCK} AS c"
            f" FROM {pref}expl x JOIN {pref}assign{t} a ON x.vec_id = a.vec_id"
            f" GROUP BY a.c_label, x.pos)",
            f"{pref}cent{t} AS (SELECT c_label, list(c ORDER BY pos) AS centroid"
            f" FROM {pref}comp{t} GROUP BY c_label)",
        ]
    parts.append(f"{pref}cent AS (SELECT * FROM {pref}cent{iters})")
    return ",\n".join(parts)


_IVF_ORACLE = f"""
WITH {_ivf_centroids_duck()},
centq AS (
  SELECT c_label, {H.quantized_unit_duck("centroid")} AS cq FROM cent
), scored AS (
  SELECT e.vec_id, e.label,
         c.c_label,
         round({H.qcosine_duck("e.uq", "c.cq")}, 5) AS cosine
  FROM embq e CROSS JOIN centq c
), best AS (
  SELECT vec_id, label, c_label, cosine,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, c_label) AS rn
  FROM scored
)
SELECT CAST(label AS INTEGER) AS true_label,
       CAST(c_label AS INTEGER) AS assigned_label,
       CAST(count(*) AS BIGINT) AS n,
       floor(sum(CAST(round(cosine * 100000, 0) AS BIGINT)) * 10.0 / count(*) + 0.5) / 1000000.0 AS avg_cosine
FROM best WHERE rn = 1
GROUP BY label, c_label
"""


@query("ivf_centroid_assign", oracle=_IVF_ORACLE)
def q_ivf_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated distributed k-means (label-seeded + IVF_ITERS Lloyd
    steps) and the final nearest-centroid assignment confusion.

    Each Lloyd step is two shuffles — broadcast-scored assignment and
    the (cluster, dim) partial-sum aggregate (see
    ivf_centroids_iterated). The output compares converged clusters
    against the generating labels."""
    e = load_table(spark, sf_dir, "embeddings")
    embq = (
        H.with_quantized_unit(e, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq")
        .transform(checkpoint)
    )
    cent = ivf_centroids_for(spark, sf_dir, e=e, embq=embq)
    best = _score_centroids(embq, cent).join(e.select("vec_id", "label"), "vec_id")
    return best.groupBy(
        F.col("label").cast("int").alias("true_label"),
        F.col("c_label").cast("int").alias("assigned_label"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        N.half_up(
            F.sum(F.round(F.col("cosine") * 100000, 0).cast("long"))
            * F.lit(10.0)
            / F.count(F.lit(1)),
            1000000,
        ).alias("avg_cosine"),
    )


# ---------------------------------------------------------------------------
# IVF top-k probe search (the ANN scale path, end to end)
# ---------------------------------------------------------------------------

NPROBE = 2

def _ivf_search_sql(centroids_body: str) -> str:
    """The IVF probe-search oracle over any centroid WITH-body."""
    return f"""
WITH {centroids_body},
centq AS (
  SELECT c_label, {{quant_cent}} AS cq FROM cent
), fscored AS (
  SELECT e.vec_id, e.uq, c.c_label,
         round({{qcos_cent}}, 5) AS cosine,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({{qcos_cent}}, 5) DESC, c.c_label) AS rn
  FROM embq e CROSS JOIN centq c
), assigned AS (
  SELECT vec_id, uq, c_label FROM fscored WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, uq AS q_uq, c_label
  FROM fscored WHERE {QUERY_FILTER} AND rn <= {NPROBE}
), pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({{qcos_pair}}, 5) AS cosine
  FROM probes p JOIN assigned a
    ON p.c_label = a.c_label AND a.vec_id != p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
""".format(
        quant_cent=H.quantized_unit_duck("centroid"),
        qcos_cent=H.qcosine_duck("e.uq", "c.cq"),
        qcos_pair=H.qcosine_duck("p.q_uq", "a.uq"),
    )


_IVF_SEARCH_ORACLE = _ivf_search_sql(_ivf_centroids_duck())


@query("ivf_topk_search", oracle=_IVF_SEARCH_ORACLE)
def q_ivf_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search end to end: build centroids, invert the corpus into
    per-centroid lists, then answer each query by probing only its
    ``NPROBE`` nearest centroids' lists with an exact cosine re-rank.

    This is the ANN plan that survives a 10^9-vector corpus: the
    centroid table is tiny and broadcasts for both the assignment and
    the probe pass; a query touches nprobe/k of the corpus instead of
    all of it, and recall is tuned by nprobe without changing the plan
    shape. Deduplicated against the same determinism machinery as the
    other ANN queries (quantized unit vectors, rounded cosines, id
    tie-breaks) so the full pipeline is oracle-checked. Centroids are
    the Lloyd-iterated set from ivf_centroids_iterated."""
    e = load_table(spark, sf_dir, "embeddings")
    embq = (
        H.with_quantized_unit(e, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq")
        # feeds the centroid iterations AND the final probe/assign pass
        .transform(checkpoint)
    )
    return ivf_topk(e, embq, cent=ivf_centroids_for(spark, sf_dir, e=e, embq=embq))


def ivf_topk(e: DataFrame, embq: DataFrame, cent: DataFrame | None = None) -> DataFrame:
    """IVF probe search over a prepared raw corpus ``e`` (vec_id,
    label, embedding) and quantized twin ``embq`` (vec_id, uq); see
    q_ivf_topk_search for the plan rationale. Pass ``cent`` to reuse
    an already-built (e.g. memoized) centroid table."""
    if cent is None:
        cent = ivf_centroids_iterated(e, embq=embq)
    scored = _score_centroids(embq, cent, max_rank=NPROBE).transform(checkpoint)
    assigned = scored.filter(F.col("rn") == 1).select("vec_id", "uq", "c_label")
    probes = scored.filter(F.expr(QUERY_FILTER) & (F.col("rn") <= NPROBE)).select(
        F.col("vec_id").alias("query_id"), F.col("uq").alias("q_uq"), "c_label"
    )
    pairs = (
        F.broadcast(probes)
        .join(assigned, (probes["c_label"] == assigned["c_label"]) & (F.col("query_id") != F.col("vec_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
        )
    )
    return _ranked_topk(pairs)


# ---------------------------------------------------------------------------
# Graded retrieval evaluation: nDCG@k + MRR over the ANN retrievers
# ---------------------------------------------------------------------------

# Recall@k treats every exact-top-k member as equally valuable; the
# standard graded measure weights POSITION on both sides: a retrieved
# item's gain is (k+1 − exact_rank) — 10 for the true nearest
# neighbor down to 1 for the k-th — and its contribution discounts by
# 1/log2(retrieved_rank + 1) (Järvelin & Kekäläinen 2002). MRR adds
# the navigational read: the reciprocal rank of the FIRST relevant
# hit. Together they complete the eval story the recall grids start:
# recall says WHETHER the retriever finds truth, nDCG says WHERE it
# puts it.

# Discount table round(1e6 / log2(rank+1)) for ranks 1..TOP_K — the
# SAME integer literals inlined in both engines, so no transcendental
# function enters the cross-engine contract. IDCG is a constant
# (every query has a full exact top-k): sum of gain·discount over the
# ideal ordering.
_NDCG_DISC_E6 = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)
_NDCG_IDCG_E6 = sum(
    (TOP_K + 1 - i) * _NDCG_DISC_E6[i - 1] for i in range(1, TOP_K + 1)
)

_NDCG_TAIL = f"""
m AS (
  SELECT 'exact' AS method, query_id, neighbor_id, rank FROM brute
  UNION ALL
  SELECT 'srp_lsh' AS method, query_id, neighbor_id, rank FROM lsh
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id, rank FROM ivf
  UNION ALL
  SELECT 'pq_rerank' AS method, query_id, neighbor_id, rank FROM rerank
),
per AS (
  SELECT m.method, m.query_id,
         CAST(sum(COALESCE({TOP_K} + 1 - b.rank, 0)
                  * ([{", ".join(str(d) for d in _NDCG_DISC_E6)}])[m.rank])
              AS BIGINT) AS dcg_e6,
         min(CASE WHEN b.rank IS NOT NULL THEN m.rank END) AS first_rel
  FROM m LEFT JOIN brute b
    ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
  GROUP BY 1, 2
),
pq AS (
  SELECT method, query_id,
         CAST(floor(dcg_e6 * 1000000.0 / {_NDCG_IDCG_E6} + 0.5) AS BIGINT)
           AS ndcg_e6,
         CAST(CASE WHEN first_rel IS NULL THEN 0
                   ELSE floor(1000000.0 / first_rel + 0.5) END AS BIGINT)
           AS rr_e6
  FROM per
),
nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM brute)
SELECT method, n AS n_queries,
       floor(sum(ndcg_e6) * 1.0 / n + 0.5) / 1000000.0 AS mean_ndcg_at_k,
       floor(sum(rr_e6) * 1.0 / n + 0.5) / 1000000.0 AS mean_mrr
FROM pq, nq GROUP BY method, n
"""

def _graded_eval_oracle() -> str:
    """Lazy oracle (resolved at oracle_sql() time): the pq_rerank row
    reuses audit's shared residual-chain rerank oracle verbatim, and
    audit imports THIS module at load — hence the deferred compose
    (registry's callable-oracle form)."""
    from eventstreamer_spark.operators.audit import _PQ_RERANK_ORACLE

    return f"""
WITH brute AS ({_BRUTE_ORACLE}),
lsh AS ({_LSH_ORACLE}),
ivf AS ({_IVF_SEARCH_ORACLE}),
rerank AS MATERIALIZED ({_PQ_RERANK_ORACLE}),
{_NDCG_TAIL}
"""


@query("graded_retrieval_eval", oracle=_graded_eval_oracle)
def q_graded_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@k and MRR for the approximate ANN retrievers against the
    exact cosine top-k, plus the 'exact' sanity row (nDCG = MRR = 1 by
    construction — the anchor that pins the metric itself). Round 11
    adds the 'pq_rerank' row (VERDICT r10 item 7): the refinement
    stage's WHERE-does-it-rank read alongside its recall read —
    audit's shared residual chain + exact re-rank at nprobe=2, scored
    on this grid verbatim. Graded gain = (k+1 − exact_rank); discount
    = the inlined integer 1e6/log2(rank+1) table; IDCG is the constant
    ideal sum since every query has a full exact top-k.

    Scale shape: same as ann_recall_at_k — ONE prepared corpus
    (quantized + SRP buckets, checkpointed) feeds the brute truth and
    the SRP/IVF retrievers; the pq_rerank row consumes the
    residual_artifacts_memo session artifact (VERDICT r11 item 1 —
    shared with pq_recall_at_k's grid; the residual *_topk owners
    still pay their own builds) and level-cuts it to the nprobe=2
    top-M shortlist; per-query DCG is one aggregation over
    ≤ 4·q·k joined rows (the bounded retrieved lists, never a corpus
    term); the exact truth is the audit-tier O(q·n) contract shared by
    every recall/eval report. Exactness: gains, discounts, DCG and the
    1e-6-scaled nDCG/RR are integers in both engines; only the final
    fixed-order mean divides."""
    from eventstreamer_spark.operators.audit import (
        RERANK_M,
        _pq_exact_rerank,
        residual_artifacts_memo,
    )

    raw = load_table_parallel(spark, sf_dir, "embeddings")
    prepared = (
        H.with_quantized_unit(raw, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq", H.srp_bucket_expr("embedding").alias("bucket"))
        .transform(checkpoint)
    )
    # the exact truth comes from the consumer-side session artifact
    # (r14 optimization — built from the IDENTICAL prepared expression;
    # the owner, ann_bruteforce_topk, still pays its own build)
    brute = brute_truth_memo(spark, sf_dir)
    methods = (
        brute.select(F.lit("exact").alias("method"), "query_id", "neighbor_id", "rank")
        .unionByName(
            lsh_topk(prepared).select(
                F.lit("srp_lsh").alias("method"), "query_id", "neighbor_id", "rank"
            )
        )
        .unionByName(
            ivf_topk(
                raw,
                prepared.select("vec_id", "uq"),
                cent=ivf_centroids_for(
                    spark, sf_dir, e=raw, embq=prepared.select("vec_id", "uq")
                ),
            ).select(F.lit("ivf").alias("method"), "query_id", "neighbor_id", "rank")
        )
    )
    # nprobe=2 coarse top-M derived from the shared deepest-level
    # artifact by level cut (probe_rn <= NPROBE, rank <= RERANK_M) —
    # value-identical to the native nprobe=2 chain, the same cut
    # pq_recall_at_k's 'pq_rerank' row makes against the same memo.
    sp, fullv = residual_artifacts_memo(spark, sf_dir)
    wl = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    short = (
        sp.filter(F.col("probe_rn") <= NPROBE)
        .withColumn("rank", F.row_number().over(wl).cast("long"))
        .filter(F.col("rank") <= RERANK_M)
    )
    methods = methods.unionByName(
        _pq_exact_rerank(short, fullv).select(
            F.lit("pq_rerank").alias("method"), "query_id", "neighbor_id", "rank"
        )
    )
    disc = "array({})".format(", ".join(f"{d}L" for d in _NDCG_DISC_E6))
    truth = brute.select(
        "query_id", "neighbor_id", F.col("rank").alias("truth_rank")
    )
    per = (
        methods.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("method", "query_id")
        .agg(
            F.sum(
                F.coalesce(F.lit(TOP_K + 1) - F.col("truth_rank"), F.lit(0))
                * F.expr(f"element_at({disc}, CAST(rank AS INT))")
            )
            .cast("long")
            .alias("dcg_e6"),
            F.min(
                F.when(F.col("truth_rank").isNotNull(), F.col("rank"))
            ).alias("first_rel"),
        )
    )
    pq = per.select(
        "method",
        "query_id",
        N.half_up_units(F.col("dcg_e6") * F.lit(1000000.0) / F.lit(_NDCG_IDCG_E6))
        .cast("long")
        .alias("ndcg_e6"),
        F.when(F.col("first_rel").isNull(), F.lit(0).cast("long"))
        .otherwise(
            N.half_up_units(F.lit(1000000.0) / F.col("first_rel")).cast("long")
        )
        .alias("rr_e6"),
    )
    nq = brute.agg(F.countDistinct("query_id").cast("long").alias("n"))

    return (
        pq.crossJoin(F.broadcast(nq))
        .groupBy("method", F.col("n").alias("n_queries"))
        .agg(
            N.scaled_mean(F.sum("ndcg_e6"), F.col("n"), 1000000).alias(
                "mean_ndcg_at_k"
            ),
            N.scaled_mean(F.sum("rr_e6"), F.col("n"), 1000000).alias("mean_mrr"),
        )
    )


# ---------------------------------------------------------------------------
# Adaptive-k IVF (k = ⌈√n⌉ — the scale rule the fixed-k build documents)
# ---------------------------------------------------------------------------

# The seed expression both engines share: cluster j = vec_id mod k with
# k = ⌈√(corpus size)⌉ — so centroid count, bucket size and probe cost
# all grow as √n instead of bucket size growing linearly (the
# ivf_topk_search limitation measured in SCALING.md: fixed k ⇒ probed
# candidates ∝ n²/k across a 10× scale-up). ⌈√n⌉ from an exact int64
# count is bit-identical across engines.
_ADAPTIVE_SEED_DUCK = (
    "vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"
)

_IVF_ADAPTIVE_ORACLE = _ivf_search_sql(
    _ivf_centroids_duck(seed=_ADAPTIVE_SEED_DUCK)
)


@query("ivf_adaptive_topk", oracle=_IVF_ADAPTIVE_ORACLE)
def q_ivf_adaptive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search with corpus-adaptive cluster count k = ⌈√n⌉.

    Identical machinery to ivf_topk_search (Lloyd iterations,
    broadcast centroid scoring, nprobe probing, exact re-rank) with
    one change: seeds are ``vec_id mod ⌈√n⌉`` instead of the data's
    labels, so k — and with it the probe-list length — scales as √n.
    This is the standard IVF sizing rule (bucket ≈ n/k ≈ √n, probe
    cost ≈ nprobe·√n per query) and the concrete answer to the fixed-k
    scaling note in SCALING.md; the label-seeded variant remains the
    cluster-quality diagnostic, this one is the search-cost path.
    The driver-side count() that sizes k is a metadata-cheap action
    (the same count every auto-sizing index build performs) and the
    SQL twin computes the identical ⌈√n⌉ from the identical int."""
    e = load_table(spark, sf_dir, "embeddings")
    embq = (
        H.with_quantized_unit(e, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq")
        .transform(checkpoint)
    )
    _, seeded, cent = sqrt_k_centroids(spark, sf_dir, e, embq)
    return ivf_topk(seeded, embq, cent=cent)


# ---------------------------------------------------------------------------
# Sampled centroid training: train on a fixed-rate sample, audit drift
# ---------------------------------------------------------------------------

# At 100 TB nobody trains Lloyd on the full corpus: k-means sees a
# fixed-rate sample and only the ASSIGNMENT pass touches every vector
# (the standard IVF build recipe — Jégou et al. train codebooks on a
# learning subset). The house discipline is to MEASURE the estimator
# it replaces, so this audit trains the adaptive-⌈√n⌉ centroids twice
# — full corpus vs the deterministic 25% sample — assigns the FULL
# corpus to both, and reports assignment agreement plus the mean
# vector→centroid cosine under each (the quantization-quality drop a
# deployment actually pays for sampling).
_SAMPLED_TRAIN_PRED = "vec_id % 4 = 0"  # fixed-rate 25%, engine-exact

_SAMPLED_CENT_ORACLE = f"""
WITH {_ivf_centroids_duck(seed=_ADAPTIVE_SEED_DUCK)},
{_ivf_centroids_duck(seed=_ADAPTIVE_SEED_DUCK, pref="s",
                     src=f"(SELECT * FROM embeddings WHERE {_SAMPLED_TRAIN_PRED})")},
fq AS (SELECT c_label, {H.quantized_unit_duck("centroid")} AS cq FROM cent),
sq AS (SELECT c_label, {H.quantized_unit_duck("centroid")} AS cq FROM scent),
bf AS (
  SELECT vec_id, c_label, CAST(round(cosine * 100000, 0) AS BIGINT) AS cos5
  FROM (
    SELECT e.vec_id, c.c_label,
           round({H.qcosine_duck("e.uq", "c.cq")}, 5) AS cosine,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({H.qcosine_duck("e.uq", "c.cq")}, 5) DESC,
                      c.c_label) AS rn
    FROM embq e CROSS JOIN fq c
  ) WHERE rn = 1
),
bs AS (
  SELECT vec_id, c_label, CAST(round(cosine * 100000, 0) AS BIGINT) AS cos5
  FROM (
    SELECT e.vec_id, c.c_label,
           round({H.qcosine_duck("e.uq", "c.cq")}, 5) AS cosine,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({H.qcosine_duck("e.uq", "c.cq")}, 5) DESC,
                      c.c_label) AS rn
    FROM embq e CROSS JOIN sq c
  ) WHERE rn = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        WHERE {_SAMPLED_TRAIN_PRED}) AS n_train,
       CAST(count(DISTINCT f.c_label) AS BIGINT) AS cells_full,
       CAST(count(DISTINCT s.c_label) AS BIGINT) AS cells_sampled,
       CAST(sum(CASE WHEN f.c_label = s.c_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       floor(sum(CASE WHEN f.c_label = s.c_label THEN 1 ELSE 0 END)
             * 1000000.0 / count(*) + 0.5) / 1000000.0 AS agree_share,
       floor(sum(f.cos5) * 10.0 / count(*) + 0.5) / 1000000.0 AS mean_cos_full,
       floor(sum(s.cos5) * 10.0 / count(*) + 0.5) / 1000000.0 AS mean_cos_sampled
FROM bf f JOIN bs s ON f.vec_id = s.vec_id
"""


@query("sampled_centroid_training", oracle=_SAMPLED_CENT_ORACLE)
def q_sampled_centroid_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-vs-full centroid-training drift audit (VERDICT r9 item
    5): adaptive-⌈√n⌉ Lloyd centroids trained (a) on the full corpus
    and (b) on the deterministic 25% sample (vec_id % 4 = 0, k still
    sized by the FULL count); the FULL corpus is assigned to both
    centroid sets and one row reports cell counts, assignment
    agreement share, and the mean vector→nearest-centroid cosine
    under each training regime — the measured cost of the sampling
    shortcut every 100 TB IVF/SemDeDup build takes (train on a
    subset, assign everything).

    The full build is the session-memoized sqrt-k table every IVF
    consumer shares; the SAMPLED build is this query's own and
    re-runs every invocation (ivf_centroids_iterated directly, never
    the memo — the bench-honesty rule). Both assignment passes are
    the broadcast-matmul mapInPandas kernel: the corpus never
    shuffles, each pass reads it once. Exactness: cosines are the
    rounded-to-5 integer-domain kernel; means are floor-6 of integer
    sums; agreement is an integer compare — the oracle replays both
    chains via the prefix-parameterized centroid CTE generator."""
    e = load_table(spark, sf_dir, "embeddings")
    # quantize WITHOUT the zero-norm drop so the checkpointed count
    # equals the raw count the oracle's ceil(sqrt(count(*))) uses; the
    # count() sizes k in the same action that materializes the lazy
    # checkpoint (the former separate e.count() parquet-scan job), and
    # the sampled slice filters the SAME checkpoint instead of paying a
    # second tokenize/quantize pass (row-local quantization commutes
    # with the filter; the Lloyd TRAINING still re-runs in full — the
    # bench-honesty line covers training, not re-quantization)
    embq_all = (
        H.with_quantized_unit(e, "embedding", "uq")
        .select("vec_id", "uq")
        .transform(checkpoint)
    )
    embq = embq_all.filter(F.expr("uq[0] IS NOT NULL"))
    k, _, cent_f = sqrt_k_centroids(spark, sf_dir, e, embq, counted=embq_all)
    train = e.filter(F.expr(_SAMPLED_TRAIN_PRED))
    embq_s = embq.filter(F.expr(_SAMPLED_TRAIN_PRED))
    seeded_s = mod_k_seeded(train, k)
    cent_s = ivf_centroids_iterated(seeded_s, embq=embq_s)
    cos5 = F.expr("CAST(round(cosine * 100000, 0) AS BIGINT)")
    bf = _score_centroids(embq, cent_f).select(
        "vec_id", F.col("c_label").alias("cf"), cos5.alias("c5f")
    )
    bs = _score_centroids(embq, cent_s).select(
        "vec_id", F.col("c_label").alias("cs"), cos5.alias("c5s")
    )
    # train-slice count from the checkpoint, not a fresh parquet scan
    # (embq_all keeps every raw row, so the counts agree exactly)
    tr = embq_all.filter(F.expr(_SAMPLED_TRAIN_PRED)).agg(
        F.count(F.lit(1)).cast("long").alias("n_train")
    )

    return (
        bf.join(bs, "vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.countDistinct("cf").cast("long").alias("cells_full"),
            F.countDistinct("cs").cast("long").alias("cells_sampled"),
            F.sum((F.col("cf") == F.col("cs")).cast("long"))
            .cast("long")
            .alias("n_agree"),
            F.sum("c5f").alias("_sf"),
            F.sum("c5s").alias("_ss"),
        )
        .crossJoin(F.broadcast(tr))
        .select(
            "n_vectors",
            "n_train",
            "cells_full",
            "cells_sampled",
            "n_agree",
            N.half_up_ratio(F.col("n_agree"), F.col("n_vectors"), 1000000).alias(
                "agree_share"
            ),
            N.half_up(F.col("_sf") * F.lit(10.0) / F.col("n_vectors"), 1000000).alias(
                "mean_cos_full"
            ),
            N.half_up(F.col("_ss") * F.lit(10.0) / F.col("n_vectors"), 1000000).alias(
                "mean_cos_sampled"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ANN recall report (measured quality of the approximate paths)
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH brute AS ({_BRUTE_ORACLE}),
lsh AS ({_LSH_ORACLE}),
ivf AS ({_IVF_SEARCH_ORACLE})
SELECT method,
       CAST(hits AS BIGINT) AS hits,
       CAST(total AS BIGINT) AS brute_total,
       floor(hits * 1000000.0 / total + 0.5) / 1000000.0 AS recall_at_k,
       CAST(hits_at_1 AS BIGINT) AS hits_at_1,
       CAST(total_at_1 AS BIGINT) AS total_at_1,
       floor(hits_at_1 * 1000000.0 / total_at_1 + 0.5) / 1000000.0 AS recall_at_1
FROM (
  SELECT 'srp_lsh' AS method,
         (SELECT count(*) FROM lsh l JOIN brute b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id) AS hits,
         (SELECT count(*) FROM lsh l JOIN brute b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
            AND b.rank = 1) AS hits_at_1,
         (SELECT count(*) FROM brute) AS total,
         (SELECT count(*) FROM brute WHERE rank = 1) AS total_at_1
  UNION ALL
  SELECT 'ivf' AS method,
         (SELECT count(*) FROM ivf i JOIN brute b
            ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id) AS hits,
         (SELECT count(*) FROM ivf i JOIN brute b
            ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
            AND b.rank = 1) AS hits_at_1,
         (SELECT count(*) FROM brute) AS total,
         (SELECT count(*) FROM brute WHERE rank = 1) AS total_at_1
)
"""


def recall_report(truth: DataFrame, methods: list[tuple]) -> DataFrame:
    """Recall@k and recall@1 of each method's top-k against the exact
    top-k ``truth`` (query_id, neighbor_id, rank), one row per method
    in ``methods`` order.

    ``methods`` holds ``(name, topk)`` or ``(name, topk, tags)`` items:
    ``topk`` has query_id and neighbor_id, ``tags`` maps extra report
    columns (placed after ``method``) to their per-method values.
    Columns: method, *tags, hits, brute_total, recall_at_k, hits_at_1,
    total_at_1, recall_at_1, the recalls rounded half-up to 6
    decimals."""
    total = truth.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("rank") == 1).cast("long")).alias("total_at_1"),
    )
    rows = None
    for name, topk, *tags in methods:
        tag_cols = [c.alias(t) for t, c in dict(*tags).items()]
        part = (
            topk.select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"])
            .agg(
                F.count(F.lit(1)).alias("hits"),
                F.coalesce(F.sum((F.col("rank") == 1).cast("long")), F.lit(0)).alias(
                    "hits_at_1"
                ),
            )
            .select(
                F.lit(name).alias("method"),
                *tag_cols,
                "hits",
                "hits_at_1",
            )
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows.crossJoin(total).select(
        *rows.columns[:-2],  # method and the tags
        "hits",
        F.col("total").alias("brute_total"),
        N.half_up_ratio(F.col("hits"), F.col("total"), 1000000).alias("recall_at_k"),
        "hits_at_1",
        "total_at_1",
        N.half_up_ratio(F.col("hits_at_1"), F.col("total_at_1"), 1000000).alias(
            "recall_at_1"
        ),
    )


@query("ann_recall_at_k", oracle=_RECALL_ORACLE)
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the two approximate ANN paths against the exact
    brute-force top-k — the quality of the bucketed searches as a
    measured number instead of a docstring claim.

    recall = |approx top-k ∩ exact top-k| / |exact top-k|, aggregated
    over the whole query set, reported both at full k and at k=1.

    Read the numbers against the corpus geometry, which is hostile by
    construction: the synthetic embeddings are near-isotropic
    (measured intra-label mean cosine 0.005 vs inter 0.000 — labels
    carry almost no geometry) and the query subset's true top-1
    neighbors sit at cosine ≈ 0.40. For SRP that angle (θ ≈ 66°)
    flips each sign bit with p = θ/π ≈ 0.37, so the Hamming-≤1
    multiprobe can find P(ham ≤ 1 | 8 bits) ≈ 0.22 of true top-1s —
    the measured 0.20 recall@1 IS the SRP information-theoretic
    envelope for this data, not an implementation gap (verified
    directly: top-1 bucket Hamming distances are 1–6, mean 3, exactly
    binomial(8, 0.37)). Recall rises only by scanning more (more
    probe bits → Hamming-2 ≈ 14% of buckets) or hashing longer
    codes; on embeddings with real cluster structure the same code
    buys far higher recall at the same scan fraction. recall@k for
    the deeper ranks (cosine ≈ 0.3, p ≈ 0.40) tracks the scanned
    corpus fraction for the same reason.

    The three pipelines share ONE prepared corpus (quantized vectors +
    SRP buckets, localCheckpointed) — the quantization pass runs once,
    not three times; the brute-force result feeds the plan branches
    and is likewise materialized once.
    """
    raw = load_table_parallel(spark, sf_dir, "embeddings")
    prepared = (
        H.with_quantized_unit(raw, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq", H.srp_bucket_expr("embedding").alias("bucket"))
        .transform(checkpoint)
    )
    # the exact truth comes from the consumer-side session artifact
    # (r14 optimization — built from the IDENTICAL prepared expression;
    # the owner, ann_bruteforce_topk, still pays its own build)
    return recall_report(
        brute_truth_memo(spark, sf_dir),
        [
            ("srp_lsh", lsh_topk(prepared)),
            (
                "ivf",
                ivf_topk(
                    raw,
                    prepared.select("vec_id", "uq"),
                    cent=ivf_centroids_for(
                        spark, sf_dir, e=raw, embq=prepared.select("vec_id", "uq")
                    ),
                ),
            ),
        ],
    )


# ---------------------------------------------------------------------------
# Fixed-probe recall check (the O(n) production form)
# ---------------------------------------------------------------------------

N_FIXED_PROBES = 32

_FIXED_ORACLE = f"""
WITH u AS (SELECT * FROM (
  SELECT vec_id, {H.quantized_unit_duck("embedding")} AS uq,
         {H.srp_bucket_duck("embedding")} AS bucket FROM embeddings
) WHERE uq[1] IS NOT NULL),
q AS (
  SELECT vec_id, uq, bucket FROM u
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_FIXED_PROBES}
),
bpairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round({H.qcosine_duck("q.uq", "e.uq")}, 5) AS cosine
  FROM q JOIN u e ON q.vec_id != e.vec_id
), brute AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM bpairs
  ) WHERE rank <= {TOP_K}
),
probes AS (
  SELECT vec_id, uq, unnest({H.srp_probe_buckets_duck("bucket")}) AS pb FROM q
), lpairs AS (
  SELECT p.vec_id AS query_id, e.vec_id AS neighbor_id,
         round({H.qcosine_duck("p.uq", "e.uq")}, 5) AS cosine
  FROM probes p JOIN u e ON p.pb = e.bucket AND p.vec_id != e.vec_id
), lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM lpairs
  ) WHERE rank <= {TOP_K}
)
SELECT method,
       CAST(hits AS BIGINT) AS hits,
       CAST(total AS BIGINT) AS brute_total,
       floor(hits * 1000000.0 / total + 0.5) / 1000000.0 AS recall_at_k,
       CAST(hits_at_1 AS BIGINT) AS hits_at_1,
       CAST(total_at_1 AS BIGINT) AS total_at_1,
       floor(hits_at_1 * 1000000.0 / total_at_1 + 0.5) / 1000000.0 AS recall_at_1
FROM (
  SELECT 'srp_lsh' AS method,
         (SELECT count(*) FROM lsh l JOIN brute b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id) AS hits,
         (SELECT count(*) FROM lsh l JOIN brute b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
            AND b.rank = 1) AS hits_at_1,
         (SELECT count(*) FROM brute) AS total,
         (SELECT count(*) FROM brute WHERE rank = 1) AS total_at_1
)
"""


@query("ann_recall_fixed_probes", oracle=_FIXED_ORACLE)
def q_ann_recall_fixed_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH recall against exact top-k for a FIXED-SIZE probe set —
    the O(n) production form of the recall check.

    ``ann_recall_at_k`` probes a fixed *fraction* of the corpus
    (vec_id % 100 = 0), so its brute-force ground truth is O(n²/100)
    and its measured scaling exponent is honestly ~1.1 (SCALING.md).
    A production index health-check samples a CONSTANT number of
    probes: here the 32 (N_FIXED_PROBES) first vectors by
    (md5(vec_id), vec_id) — deterministic, size-independent, and
    uniformly spread over the corpus because md5 order is unrelated to
    insertion order. Ground truth is then 32·n exact dot products —
    linear in corpus size, the check you can afford at every scale.

    Plan shape: probe set is TakeOrdered (O(n) scan, no full sort),
    then broadcast; both the exact pass and the bucketed pass stream
    the corpus once. Output is one audit row (hits, recall@k,
    recall@1) for the SRP path; the IVF path's quality is measured in
    ann_recall_at_k."""
    raw = load_table_parallel(spark, sf_dir, "embeddings")
    prepared = (
        H.with_quantized_unit(raw, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq", H.srp_bucket_expr("embedding").alias("bucket"))
        .transform(checkpoint)
    )
    probes = (
        prepared.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id"
        )
        .limit(N_FIXED_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("uq").alias("q_uq"),
            F.col("bucket").alias("q_bucket"),
        )
        .transform(checkpoint)
    )
    brute = (
        _ranked_topk(
            F.broadcast(probes.drop("q_bucket"))
            .join(prepared, F.col("query_id") != F.col("vec_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
            )
        )
        .select("query_id", "neighbor_id", "rank")
        .transform(checkpoint)
    )
    lsh = _ranked_topk(
        F.broadcast(
            probes.select(
                "query_id",
                "q_uq",
                F.explode(H.srp_probe_buckets_expr("q_bucket")).alias("pb"),
            )
        )
        .join(
            prepared,
            (F.col("pb") == F.col("bucket")) & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
        )
    )
    return recall_report(brute, [("srp_lsh", lsh)])


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
WITH u AS (
  SELECT vec_id, label, {H.quantized_unit_duck("embedding")} AS uq FROM embeddings
), q AS (
  SELECT vec_id, label, uq FROM u WHERE {QUERY_FILTER}
), pairs AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         e.vec_id AS neighbor_id,
         CASE WHEN e.label = q.label THEN 'positive' ELSE 'hard_negative' END AS pair_type,
         round({H.qcosine_duck("q.uq", "e.uq")}, 5) AS cosine
  FROM q JOIN u e ON q.vec_id != e.vec_id
), ranked AS (
  SELECT query_id, CAST(query_label AS INTEGER) AS query_label, pair_type, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id, pair_type
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM pairs
)
SELECT query_id, query_label, pair_type, neighbor_id, cosine
FROM ranked WHERE rn = 1
"""


@query("hard_negative_mining", oracle=_HARDNEG_ORACLE)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining: for each query vector, the nearest
    same-label neighbor (the positive) and the nearest *other*-label
    neighbor (the hard negative) by exact quantized cosine — the pair
    selection step of contrastive embedding training.

    Same plan shape as brute_topk: the query subset broadcasts, the
    corpus never shuffles for scoring, and the per-(query, pair_type)
    argmax is a two-key window over the scored pairs. At real scale
    the scoring join swaps to the IVF probe path (ivf_topk) with the
    same downstream argmax — the pair-typing logic is unchanged.
    """
    e = H.with_quantized_unit(
        load_table_parallel(spark, sf_dir, "embeddings"), "embedding", "uq"
    ).select("vec_id", F.col("label").cast("int").alias("label"), "uq")
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("uq").alias("q_uq"),
    )
    pairs = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neighbor_id"),
            F.when(F.col("label") == F.col("query_label"), "positive")
            .otherwise("hard_negative")
            .alias("pair_type"),
            F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id", "pair_type").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "query_label", "pair_type", "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup inside IVF clusters (composition query)
# ---------------------------------------------------------------------------

SEMDEDUP_T = 0.35  # corpus-calibrated; real embedding corpora run ~0.9+

# Adaptive ⌈√n⌉ clustering (not the fixed label seeds): cluster sizes
# stay ~√n so the within-cluster pair work totals ~n^1.5 — the scale
# property SemDeDup exists for. Fixed-k seeding would make clusters
# grow as n/k and the pair stage quadratic again.
def semdedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, uq, c_label): every embedding assigned to its nearest
    adaptive-⌈√n⌉ centroid (session-memoized centroid table shared
    with ivf_adaptive_topk) — the clustering front half of SemDeDup,
    reused by corpus_build_pipeline."""
    e = load_table(spark, sf_dir, "embeddings")
    embq = (
        H.with_quantized_unit(e, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq")
        .transform(checkpoint)
    )
    _, _, cent = sqrt_k_centroids(spark, sf_dir, e, embq)
    return _score_centroids(embq, cent).select("vec_id", "uq", "c_label")


# Session artifact: the CHECKPOINTED assignment table for CONSUMER
# queries (corpus_build_pipeline, semantic_decontamination) — the
# owner, semantic_dedup, calls semdedup_assign() directly and re-runs
# its own build every invocation. The value is a localCheckpointed
# DataFrame, n rows executor-side — only the handle lives on the
# driver. Mirrors the production shape where the cluster assignment is
# a prebuilt artifact the downstream pipelines read.
def semdedup_assign_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-facing semdedup_assign: first call per (app, sf_dir)
    materializes the assignment behind an eager localCheckpoint;
    later calls reuse it (measured ~1.1 s/invocation at sf0.1)."""
    return artifact(
        spark,
        sf_dir,
        "semdedup_assign",
        lambda: semdedup_assign(spark, sf_dir).transform(checkpoint, eager=True),
    )


def semdedup_cluster_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Within-cluster exact pair scoring (applyInPandas kernel): int64
    matmul of quantized unit vectors, half-up 1e-5 cosine, pairs with
    cosine >= SEMDEDUP_T and vec_a < vec_b."""
    import numpy as np
    import pandas as pd

    _blas_single_thread()
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy(dtype="int64")
    if len(ids) < 2:
        return pd.DataFrame(
            {
                "c_label": pd.Series(dtype="int32"),
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
    mat = np.array([np.asarray(u, dtype="int64") for u in pdf["uq"]])
    # f64 BLAS matmul, bit-exact: |component| <= 1e6, so every
    # product <= 1e12 and every partial sum <= 64*1e12 = 6.4e13
    # — far below 2^53, so float64 carries the integers intact
    # while using the BLAS path NumPy's int64 matmul lacks
    # (measured 10-70x on k x n x 64 shapes; pinned by
    # test_f64_matmul_exact_at_quantization_bound).
    matf = mat.astype("float64")
    dots = matf @ matf.T
    cos = np.floor(dots / 1e12 * 1e5 + 0.5) / 1e5  # round half-up to 5
    ai, bi = np.nonzero(np.triu(cos >= SEMDEDUP_T, k=1))
    return pd.DataFrame(
        {
            "c_label": np.full(len(ai), pdf["c_label"].iloc[0], dtype="int32"),
            "vec_a": ids[ai],  # sorted ids → a < b by construction
            "vec_b": ids[bi],
            "cosine": cos[ai, bi],
        }
    )


def _semdedup_assign_duck() -> str:
    """Adaptive-⌈√n⌉ centroid chain + quantized nearest-centroid
    assignment as a WITH-clause body; final CTE ``assign`` =
    (vec_id, uq, c_label). Shared by _SEMDEDUP_ORACLE and the composed
    corpus_build_pipeline oracle (curation.py)."""
    return f"""{_ivf_centroids_duck(seed=_ADAPTIVE_SEED_DUCK)},
centq AS (
  SELECT c_label, {H.quantized_unit_duck("centroid")} AS cq FROM cent
), scored AS (
  SELECT e.vec_id, e.uq, c.c_label,
         round({H.qcosine_duck("e.uq", "c.cq")}, 5) AS ccos
  FROM embq e CROSS JOIN centq c
), assign AS (
  SELECT vec_id, uq, c_label FROM (
    SELECT vec_id, uq, c_label,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_label) AS rn
    FROM scored
  ) WHERE rn = 1
)"""


_SEMDEDUP_ORACLE = f"""
WITH {_semdedup_assign_duck()}, pairs AS (
  SELECT a.c_label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         floor({H.qcosine_duck("a.uq", "b.uq")} * 100000 + 0.5) / 100000.0 AS cosine
  FROM assign a JOIN assign b
    ON a.c_label = b.c_label AND a.vec_id < b.vec_id
  WHERE floor({H.qcosine_duck("a.uq", "b.uq")} * 100000 + 0.5) / 100000.0
        >= {SEMDEDUP_T}
), ranked AS (
  SELECT c_label, vec_b AS vec_id, vec_a, cosine,
         row_number() OVER (PARTITION BY vec_b ORDER BY cosine DESC, vec_a) AS rn,
         CAST(count(*) OVER (PARTITION BY vec_b) AS BIGINT) AS n_lower_partners
  FROM pairs
)
SELECT CAST(c_label AS INTEGER) AS c_label, vec_id,
       vec_a AS keeper_id, cosine, n_lower_partners
FROM ranked WHERE rn = 1
"""


@query("semantic_dedup", oracle=_SEMDEDUP_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al.): cluster the corpus with k-means, then
    deduplicate SEMANTICALLY inside each cluster — a vector is dropped
    when its cluster holds a lower-id vector with cosine ≥
    {SEMDEDUP_T}; the output lists each dropped vector with its
    best keeper (max cosine, then lowest id) and how many lower-id
    partners it had.

    Pure composition of verified pieces: the converged adaptive-k
    centroid table comes from the session memo (ivf_centroids_for,
    sqrt-k variant — built once, shared with ivf_adaptive_topk),
    assignment is the same mapInPandas int64 matmul
    (_score_centroids), and the within-cluster pair scoring is the
    exact quantized-cosine kernel grouped BY CLUSTER — the whole point
    of SemDeDup's design: the O(n²) pair work shrinks to Σ|cluster|²,
    and with k = ⌈√n⌉ each cluster stays ~√n so the total is ~n^1.5 —
    the plan a 100 TB run uses (clusters are independent applyInPandas
    groups; nothing global materializes). Drop decisions ride one
    window over the pair table keyed by the dropped vector."""
    assign = semdedup_assign(spark, sf_dir)
    pairs = assign.groupBy("c_label").applyInPandas(
        semdedup_cluster_pairs, "c_label int, vec_a long, vec_b long, cosine double"
    )
    w = Window.partitionBy("vec_b")
    return (
        pairs.withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.col("cosine").desc(), F.col("vec_a"))),
        )
        .withColumn("n_lower_partners", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_label",
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("keeper_id"),
            "cosine",
            "n_lower_partners",
        )
    )


# ---------------------------------------------------------------------------
# Two-stage funnel retrieval: truncated-prefix coarse pass + exact re-rank
# ---------------------------------------------------------------------------

# Matryoshka-style funnel: a coarse pass scores every corpus vector on
# only the FIRST 16 of 64 components (4x less data read — at scale the
# truncated prefix is its own columnar projection), keeps CAND_K
# candidates per query, and only those ids are re-joined for the exact
# full-dimension cosine. Cost: O(q·n·d/4) coarse + O(q·CAND_K·d)
# exact, vs brute force's O(q·n·d) — with exact scores on everything
# that survives.

PREFIX_DIMS = 16
CAND_K = 50

def _twostage_sql(prefix_dims: int = PREFIX_DIMS) -> str:
    """The funnel oracle parameterized on the coarse prefix width, so
    the recall audit can rank several read-fraction operating points
    with the identical machinery."""
    coarse_dot = (
        f"list_sum(list_transform(generate_series(1, {prefix_dims}), "
        "i -> {a}[i] * {b}[i]))"
    )
    return f"""
WITH u AS (SELECT * FROM (
  SELECT vec_id, {H.quantized_unit_duck("embedding")} AS uq FROM embeddings
) WHERE uq[1] IS NOT NULL),
q AS (SELECT vec_id, uq FROM u WHERE {QUERY_FILTER}),
coarse AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {coarse_dot.format(a="q.uq", b="e.uq")} AS cdot
  FROM q JOIN u e ON q.vec_id != e.vec_id
), cr AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cdot DESC, neighbor_id) AS crank
  FROM coarse
), cand AS (
  SELECT query_id, neighbor_id FROM cr WHERE crank <= {CAND_K}
), exact AS (
  SELECT c.query_id, c.neighbor_id,
         round({H.qcosine_duck("q.uq", "e.uq")}, 5) AS cosine
  FROM cand c
  JOIN q ON q.vec_id = c.query_id
  JOIN u e ON e.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


_TWOSTAGE_ORACLE = _twostage_sql()


@query("twostage_rerank_topk", oracle=_TWOSTAGE_ORACLE)
def q_twostage_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel retrieval (the matryoshka/truncated-embedding recipe):
    stage 1 scores the whole corpus on the first {pd} of {d} quantized
    components (a pure int64 prefix dot — at 100 TB the prefix is a
    separate columnar projection, so this pass reads 4× less data);
    stage 2 re-joins ONLY the {ck} surviving candidate ids per query
    against the full vectors and re-ranks by exact quantized cosine.

    The stage-2 join is the load-bearing honesty: candidates flow as
    bare (query_id, neighbor_id) pairs and the full 64-dim vectors are
    fetched by id — never carried through the coarse pass — which is
    exactly how a deployment keeps the coarse scan narrow. Both dots
    are exact integer folds, so the two engines rank identically
    everywhere including ties.

    Complements the existing ANN family: SRP multi-probe and IVF
    prune WHO gets scored; the funnel prunes HOW MUCH of each vector
    the first pass reads. Reference has no vector ops (SURVEY §2.1);
    beyond-reference similarity surface.""".format(
        pd=PREFIX_DIMS, d=H.EMB_DIM, ck=CAND_K
    )
    e = H.with_quantized_unit(
        load_table_parallel(spark, sf_dir, "embeddings"),
        "embedding",
        "uq",
        drop_zero_norm=True,
    ).select("vec_id", "uq")
    return funnel_topk(e)


def funnel_topk(e: DataFrame, prefix_dims: int = PREFIX_DIMS) -> DataFrame:
    """Two-stage funnel top-k over a prepared (vec_id, uq) corpus,
    parameterized on the coarse prefix width (see q_twostage_rerank_topk
    for the plan rationale; the recall audit runs several widths)."""
    qv = e.filter(F.expr(QUERY_FILTER))
    q_prefix = qv.select(
        F.col("vec_id").alias("query_id"),
        F.expr(f"slice(uq, 1, {prefix_dims})").alias("q_pre"),
    )
    corpus_prefix = e.select(
        "vec_id", F.expr(f"slice(uq, 1, {prefix_dims})").alias("e_pre")
    )
    coarse = (
        F.broadcast(q_prefix)
        .join(corpus_prefix, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(q_pre, e_pre, (x, y) -> x * y), "
                "0L, (acc, v) -> acc + v)"
            ).alias("cdot"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cdot").desc(), F.col("neighbor_id")
    )
    cand = (
        coarse.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= CAND_K)
        .select("query_id", "neighbor_id")
    )
    exact = (
        cand.join(
            F.broadcast(
                qv.select(
                    F.col("vec_id").alias("query_id"), F.col("uq").alias("q_uq")
                )
            ),
            "query_id",
        )
        .join(e.select(F.col("vec_id").alias("neighbor_id"), "uq"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
        )
    )
    return _ranked_topk(exact)


# ---------------------------------------------------------------------------
# Funnel recall audit: what each coarse prefix width actually retrieves
# ---------------------------------------------------------------------------

# The measure-the-estimator discipline applied to the funnel: the
# two-stage retriever is ranked against the exact top-k at TWO
# read-fraction operating points — the shipped 16-component prefix
# (reads 1/4 of each vector in the coarse pass) and an 8-component
# half-width twin (reads 1/8) — so recall-vs-bytes-read is a measured
# trade-off curve, not a docstring claim.

FUNNEL_RECALL_PREFIXES = (PREFIX_DIMS, PREFIX_DIMS // 2)

_FUNNEL_RECALL_ORACLE = f"""
WITH brute AS ({_BRUTE_ORACLE}),
f{FUNNEL_RECALL_PREFIXES[0]} AS ({_twostage_sql(FUNNEL_RECALL_PREFIXES[0])}),
f{FUNNEL_RECALL_PREFIXES[1]} AS ({_twostage_sql(FUNNEL_RECALL_PREFIXES[1])})
SELECT method,
       CAST(prefix_dims AS INTEGER) AS prefix_dims,
       CAST(hits AS BIGINT) AS hits,
       CAST(total AS BIGINT) AS brute_total,
       floor(hits * 1000000.0 / total + 0.5) / 1000000.0 AS recall_at_k,
       CAST(hits_at_1 AS BIGINT) AS hits_at_1,
       CAST(total_at_1 AS BIGINT) AS total_at_1,
       floor(hits_at_1 * 1000000.0 / total_at_1 + 0.5) / 1000000.0 AS recall_at_1
FROM (
  SELECT 'funnel_p{FUNNEL_RECALL_PREFIXES[0]}' AS method,
         {FUNNEL_RECALL_PREFIXES[0]} AS prefix_dims,
         (SELECT count(*) FROM f{FUNNEL_RECALL_PREFIXES[0]} l JOIN brute b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id) AS hits,
         (SELECT count(*) FROM f{FUNNEL_RECALL_PREFIXES[0]} l JOIN brute b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
            AND b.rank = 1) AS hits_at_1,
         (SELECT count(*) FROM brute) AS total,
         (SELECT count(*) FROM brute WHERE rank = 1) AS total_at_1
  UNION ALL
  SELECT 'funnel_p{FUNNEL_RECALL_PREFIXES[1]}' AS method,
         {FUNNEL_RECALL_PREFIXES[1]} AS prefix_dims,
         (SELECT count(*) FROM f{FUNNEL_RECALL_PREFIXES[1]} l JOIN brute b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id) AS hits,
         (SELECT count(*) FROM f{FUNNEL_RECALL_PREFIXES[1]} l JOIN brute b
            ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
            AND b.rank = 1) AS hits_at_1,
         (SELECT count(*) FROM brute) AS total,
         (SELECT count(*) FROM brute WHERE rank = 1) AS total_at_1
)
"""


@query("funnel_recall_at_k", oracle=_FUNNEL_RECALL_ORACLE)
def q_funnel_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k (and @1) of the two-stage funnel retriever against the
    exact cosine top-k at two coarse prefix widths (16 and 8 of 64
    components — 4x and 8x less data read in the coarse pass), the
    measured recall-vs-read-fraction curve for twostage_rerank_topk.
    Because stage 2 re-ranks candidates with EXACT full-width cosines,
    the only recall loss is a true neighbor missing the CAND_K coarse
    cut — so the curve directly prices the prefix projection choice.

    One prepared corpus (quantized vectors, checkpointed) feeds the
    ground truth and both funnel runs; the brute top-k is checkpointed
    once and joined by every hit counter — the ann_recall_at_k plan
    pattern with the funnel grid instead of the bucketed one.
    Audit-tier by contract (O(q·n) ground truth), like every recall
    check; the production health-check form samples fixed probes."""
    raw = load_table_parallel(spark, sf_dir, "embeddings")
    prepared = (
        H.with_quantized_unit(raw, "embedding", "uq", drop_zero_norm=True)
        .select("vec_id", "uq")
        .transform(checkpoint)
    )
    brute = (
        brute_topk(prepared)
        .select("query_id", "neighbor_id", "rank")
        .transform(checkpoint)
    )
    return recall_report(
        brute,
        [
            (
                f"funnel_p{pd_}",
                funnel_topk(prepared, pd_),
                {"prefix_dims": F.lit(pd_).cast("int")},
            )
            for pd_ in FUNNEL_RECALL_PREFIXES
        ],
    )


# ---------------------------------------------------------------------------
# Streaming ANN serving: a live query stream against the static SRP index
# ---------------------------------------------------------------------------

_STREAM_ANN_CHUNKS = 3


@query("stream_ann_topk", oracle=_LSH_ORACLE)
def q_stream_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING: query vectors arrive as a LIVE STREAM (three
    micro-batches) and are answered against the static SRP-bucketed
    corpus index — the deploy shape of ann_lsh_topk, completing the
    serving trio (stream classifier scoring, stream CMS, stream ANN).

    Plan: each micro-batch's queries explode their multi-probe buckets
    (stream side — tiny), stream-static join the bucketed corpus on
    the bucket key, and score candidates row-locally with the exact
    quantized cosine; the ONLY streaming state is the per-query
    candidate aggregation (complete mode, keyed by query_id — bounded
    by the query count, never the corpus). The final top-k ranking
    runs as a batch window over the sink (k rows per query), exactly
    how a serving tier ranks a request's gathered candidates. At
    100 TB the static side is the bucket-partitioned index table and
    the stream side stays per-request-sized.

    Oracle: the batch multi-probe LSH oracle VERBATIM — the union of
    the three micro-batches covers the whole query subset and the
    index is static, so serving and batch can never drift (the same
    stream==batch discipline as stream_classifier_scores)."""
    from eventstreamer_spark.streaming.pipeline import run_stream

    prepared = (
        H.with_quantized_unit(
            load_table(spark, sf_dir, "embeddings"),
            "embedding",
            "uq",
            drop_zero_norm=True,
        )
        .select("vec_id", "uq", H.srp_bucket_expr("embedding").alias("bucket"))
        .transform(checkpoint)
    )
    queries_df = prepared.filter(F.expr(QUERY_FILTER))

    with drip_stream(
        spark, queries_df, F.col("vec_id") % _STREAM_ANN_CHUNKS, _STREAM_ANN_CHUNKS
    ) as stream:
        probes = stream.select(
            F.col("vec_id").alias("query_id"),
            F.col("uq").alias("q_uq"),
            F.explode(H.srp_probe_buckets_expr("bucket")).alias("pb"),
        )
        cand = probes.join(
            prepared,
            (F.col("pb") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        ).select(
            "query_id",
            F.struct(
                F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
                F.col("vec_id").alias("neighbor_id"),
            ).alias("c"),
        )
        gathered = cand.groupBy("query_id").agg(
            F.collect_list("c").alias("cands")
        )
        t, _ = run_stream(gathered, "complete")
    exploded = t.select("query_id", F.explode("cands").alias("c")).select(
        "query_id", F.col("c.neighbor_id").alias("neighbor_id"),
        F.col("c.cosine").alias("cosine"),
    )
    return _ranked_topk(exploded)


# ---------------------------------------------------------------------------
# MMR-diversified top-k (maximal marginal relevance re-rank)
# ---------------------------------------------------------------------------

# Carbonell & Goldstein 1998: greedily pick the candidate maximizing
# λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — the standard
# diversity re-rank retrieval stacks bolt onto an ANN candidate
# stage (dedup-adjacent: it suppresses near-identical hits that
# would otherwise fill the whole top-k). λ = 0.7, kept integer by
# scoring in the ×10 domain: score = 7·dot(q,d) − 3·max dot(d,s)
# over the quantized-unit int64 dots, so the greedy argmax chain is
# bit-identical in Spark (numpy int64 kernel) and the oracle's
# unrolled k-step SQL.

MMR_CAND = 16  # relevance candidates entering the re-rank (per query)
MMR_K = 8  # diversified results per query


def _intdot_spark(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"


def _intdot_duck(a: str, b: str) -> str:
    # native list_dot_product (the fast form, see hashing gotchas) is
    # EXACT here: every product is <= 1e12 and the sum <= 6.4e13, both
    # below 2^53, so the double arithmetic carries the integers intact
    return f"CAST(list_dot_product({a}, {b}) AS BIGINT)"


def _mmr_rerank(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Per-query greedy MMR selection (applyInPandas kernel): exact
    int64 dots, ties broken by smaller neighbor_id; emitted scores
    rounded half-up at 1e-5 like semdedup_cluster_pairs."""
    import numpy as np
    import pandas as pd

    _blas_single_thread()
    pdf = pdf.sort_values(
        ["dq", "neighbor_id"], ascending=[False, True]
    ).reset_index(drop=True)
    n = len(pdf)
    ids = pdf["neighbor_id"].to_numpy(dtype="int64")
    dq = pdf["dq"].to_numpy(dtype="int64")
    mat = np.array([np.asarray(u, dtype="int64") for u in pdf["uq"]])
    # f64 BLAS matmul, bit-exact: |component| <= 1e6, so every
    # product <= 1e12 and every partial sum <= 64*1e12 = 6.4e13
    # — far below 2^53, so float64 carries the integers intact
    # while using the BLAS path NumPy's int64 matmul lacks
    # (measured 10-70x on k x n x 64 shapes; pinned by
    # test_f64_matmul_exact_at_quantization_bound).
    # (rint round-trip keeps the downstream comparisons pure int64)
    matf = mat.astype("float64")
    dots = np.rint(matf @ matf.T).astype("int64")
    chosen: list[int] = []
    scores: list[int] = []
    avail = list(range(n))
    for t in range(min(MMR_K, n)):
        if t == 0:
            best = 0  # sort order IS the (dq desc, id asc) argmax
            best_s = 7 * int(dq[0])
        else:
            best, best_key, best_s = -1, None, 0
            for i in avail:
                mx = int(max(dots[i, j] for j in chosen))
                s = 7 * int(dq[i]) - 3 * mx
                key = (s, -int(ids[i]))
                if best_key is None or key > best_key:
                    best, best_key, best_s = i, key, s
        chosen.append(best)
        avail.remove(best)
        scores.append(best_s)
    qid = int(pdf["query_id"].iloc[0]) if n else 0
    return pd.DataFrame(
        {
            "query_id": np.full(len(chosen), qid, dtype="int64"),
            "neighbor_id": ids[chosen],
            "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int64"),
            "relevance": np.floor(dq[chosen] / 1e12 * 1e5 + 0.5) / 1e5,
            "mmr_score": np.floor(np.array(scores) / 1e13 * 1e5 + 0.5) / 1e5,
        }
    )


def _mmr_oracle() -> str:
    intdot_cc = _intdot_duck("a.uq", "b.uq")
    steps = [
        "s1 AS MATERIALIZED (SELECT query_id, neighbor_id, dq, 7*dq AS score FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY dq DESC, neighbor_id) AS rn FROM cand) WHERE rn = 1)"
    ]
    prev = "SELECT query_id, neighbor_id FROM s1"
    for t in range(2, MMR_K + 1):
        steps.append(
            f"p{t} AS ({prev}),\n"
            f"m{t} AS (SELECT pp.query_id, pp.i AS neighbor_id, max(pp.d) AS mx\n"
            f"  FROM pdots pp JOIN p{t} s ON pp.query_id = s.query_id AND pp.j = s.neighbor_id\n"
            f"  GROUP BY pp.query_id, pp.i),\n"
            f"s{t} AS MATERIALIZED (SELECT query_id, neighbor_id, dq, score FROM (\n"
            f"  SELECT c.query_id, c.neighbor_id, c.dq, 7*c.dq - 3*m.mx AS score,\n"
            f"         row_number() OVER (PARTITION BY c.query_id\n"
            f"           ORDER BY 7*c.dq - 3*m.mx DESC, c.neighbor_id) AS rn\n"
            f"  FROM cand c JOIN m{t} m\n"
            f"    ON m.query_id = c.query_id AND m.neighbor_id = c.neighbor_id\n"
            f"  WHERE NOT EXISTS (SELECT 1 FROM p{t} s\n"
            f"    WHERE s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id)\n"
            f") WHERE rn = 1)"
        )
        prev += f" UNION ALL SELECT query_id, neighbor_id FROM s{t}"
    finals = " UNION ALL ".join(
        f"SELECT query_id, neighbor_id, CAST({t} AS BIGINT) AS mmr_rank,\n"
        f"  floor(CAST(dq AS DOUBLE)/1000000000000.0*100000 + 0.5)/100000.0 AS relevance,\n"
        f"  floor(CAST(score AS DOUBLE)/10000000000000.0*100000 + 0.5)/100000.0 AS mmr_score\n"
        f"FROM s{t}"
        for t in range(1, MMR_K + 1)
    )
    return f"""
WITH b AS MATERIALIZED (
  SELECT * FROM (
    SELECT vec_id, {H.quantized_unit_duck("embedding")} AS uq,
           {H.srp_bucket_duck("embedding")} AS bucket FROM embeddings
  ) WHERE uq[1] IS NOT NULL
), qv AS (SELECT * FROM b WHERE {QUERY_FILTER}),
probes AS (
  SELECT vec_id, uq, unnest({H.srp_probe_buckets_duck("bucket")}) AS pb FROM qv
),
ap AS MATERIALIZED (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {_intdot_duck("q.uq", "e.uq")} AS dq, e.uq AS uq
  FROM probes q JOIN b e ON q.pb = e.bucket AND q.vec_id != e.vec_id
),
cand AS MATERIALIZED (
  SELECT query_id, neighbor_id, dq, uq FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY dq DESC, neighbor_id) AS rn FROM ap
  ) WHERE rn <= {MMR_CAND}
),
pdots AS MATERIALIZED (
  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j, {intdot_cc} AS d
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
),
{",".join(steps)}
{finals}
"""


_MMR_ORACLE = _mmr_oracle()


@query("mmr_diverse_topk", oracle=_MMR_ORACLE)
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-8: SRP multi-probe LSH candidates
    (same broadcast probe-side explode + single bucket equi-join as
    ann_lsh_topk — the corpus never shuffles), top-{MMR_CAND} by exact
    integer dot per query, then the greedy λ=0.7 MMR selection runs
    per query group in one Arrow-batched applyInPandas kernel.

    Scale shape: the iterative part touches only (q × {MMR_CAND})
    rows — candidate generation is the only corpus-sized pass, and the
    re-rank group is absolutely bounded, so the pandas kernel is
    O(k·N·dim) per query regardless of corpus size. The greedy chain
    is integer-exact (int64 dots, ×10 λ domain), replayed step-for-
    step by the oracle's unrolled 8-stage SQL."""
    e = (
        H.with_quantized_unit(
            load_table_parallel(spark, sf_dir, "embeddings"),
            "embedding",
            "uq",
            drop_zero_norm=True,
        )
        .select("vec_id", "uq", H.srp_bucket_expr("embedding").alias("bucket"))
    )
    q = e.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("uq").alias("q_uq"),
        F.explode(H.srp_probe_buckets_expr("bucket")).alias("pb"),
    )
    pairs = (
        F.broadcast(q)
        .join(e, (F.col("pb") == F.col("bucket")) & (F.col("query_id") != F.col("vec_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(_intdot_spark("q_uq", "uq")).alias("dq"),
            "uq",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dq").desc(), F.col("neighbor_id"))
    cand = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_CAND)
        .select("query_id", "neighbor_id", "dq", "uq")
    )
    return cand.groupBy("query_id").applyInPandas(
        _mmr_rerank,
        schema=(
            "query_id long, neighbor_id long, mmr_rank long, "
            "relevance double, mmr_score double"
        ),
    )


# ---------------------------------------------------------------------------
# IVF index staleness: the recall price of not retraining after ingest
# ---------------------------------------------------------------------------

# The production ANN maintenance question: after a batch lands, you
# re-ASSIGN new vectors to the existing (stale) centroids — O(batch)
# — but retraining the codebook is an O(corpus) rebuild you schedule
# rarely. This audit measures what that deferral costs: centroids
# trained on the 80% base vs retrained on the full corpus, the FULL
# corpus assigned to both, the same nprobe search run against both
# index layouts, recall@k scored against the exact top-k. The gap
# between the two rows is the staleness price at +25% ingest.

_STALE_BASE_PRED = "vec_id % 5 != 4"  # the 80% base; 5k+4 is the new batch


def _stale_search_duck(pref: str) -> str:
    """Per-variant probe-search WITH-parts over the shared full-corpus
    ``fembq`` and the ``{pref}cent`` centroid table; final CTE
    ``{pref}top`` = (query_id, neighbor_id)."""
    qcos_c = H.qcosine_duck("e.uq", "c.cq")
    return f"""{pref}centq AS (
  SELECT c_label, {H.quantized_unit_duck("centroid")} AS cq FROM {pref}cent
),
{pref}fsc AS (
  SELECT e.vec_id, e.uq, c.c_label, round({qcos_c}, 5) AS cosine,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({qcos_c}, 5) DESC, c.c_label) AS rn
  FROM fembq e CROSS JOIN {pref}centq c
),
{pref}asg AS (SELECT vec_id, uq, c_label FROM {pref}fsc WHERE rn = 1),
{pref}prb AS (
  SELECT vec_id AS query_id, uq AS q_uq, c_label
  FROM {pref}fsc WHERE {QUERY_FILTER} AND rn <= {NPROBE}
),
{pref}prs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({H.qcosine_duck("p.q_uq", "a.uq")}, 5) AS cosine
  FROM {pref}prb p JOIN {pref}asg a
    ON p.c_label = a.c_label AND a.vec_id != p.query_id
),
{pref}top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM {pref}prs
  ) WHERE rank <= {TOP_K}
)"""


_STALE_SRC = "(SELECT * FROM embeddings WHERE vec_id % 5 != 4) AS base_src"
# BOTH variants use k = ceil(sqrt(n_full)): with adaptive per-slice k
# the stale index would have fewer cells, a larger scan fraction at
# fixed nprobe, and recall differences would conflate staleness with
# scan budget (measured: 16-cell stale BEAT 23-cell retrained 0.40 vs
# 0.26 before this was pinned). Equal k isolates the training-set
# effect, which is the question the audit asks.
_STALE_SEED = _ADAPTIVE_SEED_DUCK


def _stale_variant_row(pref: str, name: str) -> str:
    return f"""SELECT '{name}' AS variant,
  (SELECT CAST(count(*) AS BIGINT) FROM {pref}cent) AS n_cells,
  (SELECT CAST(count(*) AS BIGINT) FROM {pref}top t JOIN btr b
     ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id) AS n_hit,
  (SELECT CAST(count(*) AS BIGINT) FROM btr) AS n_truth"""


def _staleness_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Shared prep of the staleness family (audit + refresh pipeline):
    the raw table, the quantized corpus behind ONE checkpoint, the 80%
    base slice and the equal-k cell count. Quantizes WITHOUT the
    zero-norm drop so the checkpointed row count equals the raw table
    count the oracle's ceil(sqrt(count(*))) uses; the count()
    materializes the eager=False checkpoint (no exchange upstream, so
    nothing ran when it was defined) AND sizes k in the same action.
    The post-checkpoint uq[0] filter mirrors drop_zero_norm=True for
    the numpy kernels downstream."""
    e = load_table(spark, sf_dir, "embeddings")
    embq_all = (
        H.with_quantized_unit(e, "embedding", "uq")
        .select("vec_id", "uq")
        .transform(checkpoint)
    )
    kf = sqrt_k(embq_all)  # one k for both variants
    embq_full = embq_all.filter(F.expr("uq[0] IS NOT NULL"))
    embq_base = embq_full.filter(F.expr(_STALE_BASE_PRED))
    return e, embq_full, embq_base, kf


def _built_centroids(
    spark: SparkSession, seeded: DataFrame, embq_t: DataFrame
) -> tuple[DataFrame, int]:
    """A variant's converged k-row centroid table, COLLECTED once and
    re-created as a literal DataFrame (the driver-sized k×dim collect
    every distributed k-means build performs — same contract as
    ivf_centroids_for's memo, but per-invocation so each TRAINING run
    still executes in full). Without this, every consumer of the
    centroid chain re-ran the final Lloyd aggregation from the
    checkpoint."""
    chain = ivf_centroids_iterated(seeded, embq=embq_t)
    rows = chain.collect()
    return spark.createDataFrame(rows, chain.schema), len(rows)


# The shared exact-truth CTE (over the full-corpus fembq) and the
# shared chain prefix, used by both the audit and the refresh pipeline.
_STALE_BTR = f"""btr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({H.qcosine_duck("q.uq", "e2.uq")}, 5) DESC, e2.vec_id)
             AS rank
    FROM (SELECT * FROM fembq WHERE {QUERY_FILTER}) q
    JOIN fembq e2 ON q.vec_id != e2.vec_id
  ) WHERE rank <= {TOP_K}
)"""

_STALE_CHAINS = f"""{_ivf_centroids_duck(seed=_STALE_SEED, pref="st", src=_STALE_SRC)},
{_ivf_centroids_duck(seed=_ADAPTIVE_SEED_DUCK, pref="fr")},
fembq AS (SELECT vec_id, uq FROM frembq),
{_stale_search_duck("st")},
{_stale_search_duck("fr")},
{_STALE_BTR}"""

_STALENESS_ORACLE = f"""
WITH {_STALE_CHAINS}
SELECT variant, n_cells, n_hit, n_truth,
       floor(n_hit * 1000000.0 / n_truth + 0.5) / 1000000.0 AS recall_at_k
FROM ({_stale_variant_row("st", "stale")}
      UNION ALL
      {_stale_variant_row("fr", "retrained")})
"""


@query("ivf_staleness_audit", oracle=_STALENESS_ORACLE)
def q_ivf_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-vs-retrained IVF recall audit (see the section comment):
    'stale' = adaptive-⌈√n⌉ centroids trained on the 80% base with the
    20% batch only ASSIGNED (the O(batch) maintenance path);
    'retrained' = the full-corpus rebuild. Both serve the same nprobe
    search over the full corpus; recall@10 against the exact
    top-k quantifies the deferral price.

    Scale shape: both Lloyd builds are the standard two-shuffle
    iteration on their training slice; the searches are broadcast
    probe joins touching nprobe/k of the corpus; the quantized full
    corpus materializes ONCE behind a checkpoint and feeds training,
    both assignments, both searches, and the truth kernel. The exact
    ground truth is O(q·n) BY CONTRACT — audit tier, like every
    recall report here (x10-capped in the scale harness)."""
    e, embq_full, embq_base, kf = _staleness_parts(spark, sf_dir)
    base = e.filter(F.expr(_STALE_BASE_PRED))
    kb = kf

    # The two Lloyd builds are INDEPENDENT (disjoint private expl
    # checkpoints; the shared embq checkpoint is already materialized
    # by _staleness_parts' count), and each serializes ~3 small
    # under-parallelized jobs through its construction-time collects —
    # overlap them on two driver threads so the second build's tasks
    # back-fill the first's stragglers (optimization guide §2.6;
    # measured on local[32]: the paired build phase drops by ~the
    # cheaper build's wall time, values bit-identical since neither
    # build reads the other's state).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_stale = pool.submit(
            _built_centroids,
            spark,
            mod_k_seeded(base, kb),
            embq_base,
        )
        f_fresh = pool.submit(
            _built_centroids,
            spark,
            mod_k_seeded(e, kf),
            embq_full,
        )
        cent_stale, n_cells_stale = f_stale.result()
        cent_fresh, n_cells_fresh = f_fresh.result()
    truth = checkpoint(brute_topk(embq_full).select("query_id", "neighbor_id"))

    # ONE assembly job: both searches union under a variant tag, ONE
    # truth join grouped by variant, and the shared n_truth rides a
    # 1-row broadcast (the former shape ran 2 hit aggs + 4
    # broadcast-build jobs).
    def found(cent: DataFrame, name: str) -> DataFrame:
        return (
            ivf_topk(e, embq_full, cent=cent)
            .select("query_id", "neighbor_id")
            .withColumn("variant", F.lit(name))
        )

    hits = (
        truth.join(
            found(cent_stale, "stale").unionByName(found(cent_fresh, "retrained")),
            ["query_id", "neighbor_id"],
        )
        .groupBy("variant")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    cells = spark.createDataFrame(
        [("stale", n_cells_stale), ("retrained", n_cells_fresh)],
        "variant string, n_cells long",
    )
    tot = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    # LEFT join + coalesce: a variant whose search finds zero true
    # positives produces no `hits` group, but the oracle still emits
    # its row with n_hit = 0 / recall 0.0 (ADVICE r10 item 2).
    return (
        cells.join(hits, "variant", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "variant",
            "n_cells",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            "n_truth",
            N.half_up_ratio(
                F.coalesce(F.col("n_hit"), F.lit(0)), F.col("n_truth"), 1000000
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# Index refresh pipeline: ACT on the measured staleness (VERDICT r11 item 3)
# ---------------------------------------------------------------------------

# ivf_staleness_audit MEASURES the recall price of deferring a retrain;
# this pipeline is the operational loop that acts on it — the ANN twin
# of cdc_changelog_compaction's maintain-the-artifact pattern:
#   1. MEASURE: recall@k of the maintained (stale) index — centroids
#      trained on the 80% base, the full grown corpus assigned.
#   2. GATE: refresh iff n_hit·1e6 < REFRESH_RECALL_MIN_E6·n_truth —
#      a pure-int64 predicate both engines evaluate identically. The
#      0.95 floor is deliberately above any nprobe=2 IVF operating
#      point, so on this corpus the gate always FIRES and the retrain
#      path is exercised end-to-end; production tunes the floor to its
#      index's SLO and most runs take the cheap no-op branch.
#   3. RETRAIN + REASSIGN: the full-corpus adaptive-⌈√n⌉ rebuild (only
#      executed when the gate fires — the Spark side branches on the
#      collected 2-scalar gate read; the no-op branch re-reports the
#      measured row).
#   4. RE-VERIFY: the refreshed index's recall on the SAME truth set.
# Report: one row per stage with the gate verdict attached.

REFRESH_RECALL_MIN_E6 = 950000

_REFRESH_ORACLE = f"""
WITH {_STALE_CHAINS},
rows AS (
  SELECT variant, n_cells, n_hit, n_truth,
         floor(n_hit * 1000000.0 / n_truth + 0.5) / 1000000.0 AS recall_at_k
  FROM ({_stale_variant_row("st", "stale")}
        UNION ALL
        {_stale_variant_row("fr", "retrained")})
),
bef AS (SELECT * FROM rows WHERE variant = 'stale'),
aft AS (SELECT * FROM rows WHERE variant = 'retrained'),
gate AS (
  SELECT n_hit * 1000000 < {REFRESH_RECALL_MIN_E6} * n_truth AS fired FROM bef
)
SELECT 'before' AS stage, b.n_cells, b.n_hit, b.n_truth, b.recall_at_k,
       g.fired AS refreshed
FROM bef b, gate g
UNION ALL
SELECT 'after' AS stage,
       CASE WHEN g.fired THEN a.n_cells ELSE b.n_cells END AS n_cells,
       CASE WHEN g.fired THEN a.n_hit ELSE b.n_hit END AS n_hit,
       b.n_truth AS n_truth,
       CASE WHEN g.fired THEN a.recall_at_k ELSE b.recall_at_k END
         AS recall_at_k,
       g.fired AS refreshed
FROM bef b, aft a, gate g
"""


@query("index_refresh_pipeline", oracle=_REFRESH_ORACLE)
def q_index_refresh_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ANN index-refresh loop (see the section comment):
    measure the maintained index's recall, gate on the integer-exact
    staleness predicate, retrain + reassign on the grown corpus only
    when the gate fires, re-verify on the same exact truth, report
    before/after with the gate verdict.

    Scale shape: the measure and verify stages are ivf_staleness_audit's
    verified chains unchanged — ONE checkpointed quantized corpus feeds
    the base training slice, both assignments, both probe searches and
    the truth kernel; no corpus rescan beyond the retrain contract (the
    retrain is the O(corpus) Lloyd rebuild the gate exists to
    schedule). The gate itself is a 2-scalar driver read (n_hit,
    n_truth) — the collect IS the operational decision, the same k-row
    collect contract as the centroid builds. The exact ground truth is
    O(q·n) BY CONTRACT — audit tier, like every recall report here.
    Exactness: hits/totals are int64 counts; the gate compares
    n_hit·1e6 < floor_e6·n_truth in integers; recall rounds via the
    shared floor-1e6 form; the no-op branch duplicates the measured
    row so the report shape is scale-stable."""
    e, embq_full, embq_base, kf = _staleness_parts(spark, sf_dir)
    base = e.filter(F.expr(_STALE_BASE_PRED))

    cent_stale, n_cells_stale = _built_centroids(
        spark, mod_k_seeded(base, kf), embq_base
    )
    truth = (
        brute_topk(embq_full)
        .select("query_id", "neighbor_id")
        .transform(checkpoint)
    )

    def hits_of(cent: DataFrame) -> int:
        found = ivf_topk(e, embq_full, cent=cent).select("query_id", "neighbor_id")
        return truth.join(found, ["query_id", "neighbor_id"]).count()

    n_truth = truth.count()
    bef_hit = hits_of(cent_stale)  # stage 1: MEASURE
    fired = bef_hit * 1000000 < REFRESH_RECALL_MIN_E6 * n_truth  # stage 2: GATE
    if fired:  # stage 3+4: RETRAIN, REASSIGN, RE-VERIFY
        cent_fresh, n_cells_fresh = _built_centroids(
            spark, mod_k_seeded(e, kf), embq_full
        )
        aft_cells, aft_hit = n_cells_fresh, hits_of(cent_fresh)
    else:  # no-op branch: the maintained index stands
        aft_cells, aft_hit = n_cells_stale, bef_hit
    report = spark.createDataFrame(
        [
            ("before", n_cells_stale, bef_hit, n_truth, fired),
            ("after", aft_cells, aft_hit, n_truth, fired),
        ],
        "stage string, n_cells long, n_hit long, n_truth long, refreshed boolean",
    )
    return report.select(
        "stage",
        "n_cells",
        "n_hit",
        "n_truth",
        N.half_up_ratio(F.col("n_hit"), F.col("n_truth"), 1000000).alias(
            "recall_at_k"
        ),
        "refreshed",
    )


# ---------------------------------------------------------------------------
# nprobe sweep: the recall / scan-cost Pareto curve from ONE build
# ---------------------------------------------------------------------------

# The tuning table every IVF deployment reads before picking nprobe:
# recall@k and scanned-candidate count at nprobe = 1, 2, 4, 8 — from
# a SINGLE centroid build and a SINGLE corpus probe join (candidates
# gathered once at the deepest level and tagged with their probe
# rank; each sweep level is then a filter + re-rank over that bounded
# pair table, not another corpus pass).

_SWEEP_LEVELS = (1, 2, 4, 8)


def _sweep_duck() -> str:
    levels = ", ".join(f"({p})" for p in _SWEEP_LEVELS)
    qcos_c = H.qcosine_duck("e.uq", "c.cq")
    return f"""
WITH {_ivf_centroids_duck(seed=_ADAPTIVE_SEED_DUCK)},
fembq AS (SELECT vec_id, uq FROM embq),
centq AS (
  SELECT c_label, {H.quantized_unit_duck("centroid")} AS cq FROM cent
),
fsc AS (
  SELECT e.vec_id, e.uq, c.c_label, round({qcos_c}, 5) AS cosine,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({qcos_c}, 5) DESC, c.c_label) AS rn
  FROM fembq e CROSS JOIN centq c
),
asg AS (SELECT vec_id, uq, c_label FROM fsc WHERE rn = 1),
prb AS (
  SELECT vec_id AS query_id, uq AS q_uq, c_label, rn AS probe_rn
  FROM fsc WHERE {QUERY_FILTER} AND rn <= {max(_SWEEP_LEVELS)}
),
cand AS MATERIALIZED (
  SELECT p.query_id, p.probe_rn, a.vec_id AS neighbor_id,
         round({H.qcosine_duck("p.q_uq", "a.uq")}, 5) AS cosine
  FROM prb p JOIN asg a
    ON p.c_label = a.c_label AND a.vec_id != p.query_id
),
lv AS (SELECT * FROM (VALUES {levels}) AS t(nprobe)),
leveled AS (
  SELECT l.nprobe, c.query_id, c.neighbor_id, c.cosine
  FROM cand c JOIN lv l ON c.probe_rn <= l.nprobe
),
topk AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT nprobe, query_id, neighbor_id,
           row_number() OVER (PARTITION BY nprobe, query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM leveled
  ) WHERE rank <= {TOP_K}
),
btr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({H.qcosine_duck("q.uq", "e2.uq")}, 5) DESC, e2.vec_id)
             AS rank
    FROM (SELECT * FROM fembq WHERE {QUERY_FILTER}) q
    JOIN fembq e2 ON q.vec_id != e2.vec_id
  ) WHERE rank <= {TOP_K}
),
scans AS (
  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates
  FROM leveled GROUP BY nprobe
),
hits AS (
  SELECT t.nprobe, CAST(count(*) AS BIGINT) AS n_hit
  FROM topk t JOIN btr b
    ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
  GROUP BY t.nprobe
)
SELECT CAST(s.nprobe AS BIGINT) AS nprobe, s.n_candidates,
       COALESCE(h.n_hit, 0) AS n_hit,
       (SELECT CAST(count(*) AS BIGINT) FROM btr) AS n_truth,
       floor(COALESCE(h.n_hit, 0) * 1000000.0
             / (SELECT count(*) FROM btr) + 0.5) / 1000000.0 AS recall_at_k
FROM scans s LEFT JOIN hits h ON s.nprobe = h.nprobe
"""


_SWEEP_ORACLE = _sweep_duck()


@query("ivf_nprobe_sweep", oracle=_SWEEP_ORACLE)
def q_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 and scanned-candidate count at nprobe ∈
    {_SWEEP_LEVELS} — the Pareto table that prices the recall/scan
    trade before a deployment pins nprobe.

    Scale shape: ONE adaptive-⌈√n⌉ build, ONE probe join at the
    deepest level with each candidate tagged by its probe rank; the
    four sweep levels are filters + re-ranks over that bounded pair
    table (a broadcast 4-row level join), never additional corpus
    passes. Exact ground truth is the audit-tier O(q·n) contract
    shared by every recall report (x10-capped in the harness)."""
    e = load_table(spark, sf_dir, "embeddings")
    # k sizes from the count() that also materializes the quantization
    # checkpoint (all-rows quantize == the oracle's raw count; the
    # zero-norm drop happens post-checkpoint — see ivf_staleness_audit)
    embq_all = (
        H.with_quantized_unit(e, "embedding", "uq")
        .select("vec_id", "uq")
        .transform(checkpoint)
    )
    embq = embq_all.filter(F.expr("uq[0] IS NOT NULL"))
    # the adaptive ⌈√n⌉ build this sweep prices is the SAME memoized
    # sqrt-k variant ivf_adaptive_topk/SemDeDup/the sampled-training
    # audit share (identical seed rule, identical embq row set), and
    # the exact truth is the consumer-facing session artifact — the
    # sweep is a TUNING TABLE (eval tier), not a training owner, so it
    # consumes both memos (r14 optimization; rrf_k_sweep precedent).
    _, _, cent = sqrt_k_centroids(spark, sf_dir, e, embq, counted=embq_all)
    scored = checkpoint(_score_centroids(embq, cent, max_rank=max(_SWEEP_LEVELS)))
    asg = scored.filter(F.col("rn") == 1).select("vec_id", "uq", "c_label")
    prb = scored.filter(
        F.expr(QUERY_FILTER) & (F.col("rn") <= max(_SWEEP_LEVELS))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("uq").alias("q_uq"),
        "c_label",
        F.col("rn").alias("probe_rn"),
    )
    cand = (
        F.broadcast(prb)
        .join(asg, (prb["c_label"] == asg["c_label"]) & (F.col("query_id") != F.col("vec_id")))
        .select(
            "query_id",
            "probe_rn",
            F.col("vec_id").alias("neighbor_id"),
            F.round(H.qcosine_expr("q_uq", "uq"), 5).alias("cosine"),
        )
        .transform(checkpoint)  # four sweep levels re-read it
    )
    lv = spark.createDataFrame([(p,) for p in _SWEEP_LEVELS], "nprobe long")
    leveled = cand.join(F.broadcast(lv), F.col("probe_rn") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        leveled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("nprobe", "query_id", "neighbor_id")
    )
    truth = brute_truth_memo(spark, sf_dir).select("query_id", "neighbor_id")
    scans = leveled.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    hits = (
        topk.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    tot = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    return (
        scans.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "nprobe",
            "n_candidates",
            F.coalesce("n_hit", F.lit(0).cast("long")).alias("n_hit"),
            "n_truth",
            N.half_up_ratio(
                F.coalesce("n_hit", F.lit(0).cast("long")), F.col("n_truth"), 1000000
            ).alias("recall_at_k"),
        )
    )
