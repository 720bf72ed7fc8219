"""Parallel exact global ranking: the range-exchange replacement for
no-partition ranking windows.

A ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY plans as
``Exchange SinglePartition`` — every input row serializes through ONE
task, the classic 100×-scale killer. Round 13 retired that shape from
the layout audits with ``parallel_ntile`` (operators/layout.py); this
module factors the primitive out so the remaining global-rank queries
(VERDICT r13 item 1: selection_method_agreement, length_bucket_batching,
decile_value_share, gini_value_concentration, ntile_customer_balance)
can migrate to the same proven plan:

  1. ``repartitionByRange`` on the order columns — the distributed
     sort exchange; partition i's rows all precede partition i+1's by
     the range-partitioner contract.
  2. ONE ``memo.checkpoint`` to pin partition ids between the two
     passes (range boundary sampling is not re-run).
  3. A BOUNDED (≤ RANK_NPART-row) per-partition count collect for the
     prefix offsets — the only driver-side collect, 32 rows max.
  4. Per-partition ``row_number`` windows (parallel, every windowspec
     ``_pid``-partitioned) plus the broadcast offset.

The exact SQL ``ntile(k)`` bucket (first ``n mod k`` buckets one row
larger) is then a pure expression of the global rank (``ntile_expr``),
so migrated queries keep their ntile-based DuckDB oracles unchanged.

Lifecycle: the rank checkpoint belongs to the caller's checkpoint
owner (memo.checkpoint): an artifact build or a ``run_query`` frees
it; on the plain driver path Spark's ContextCleaner does. Query-tier
callers return their few-row report lazily.

No reference parity: avodovnik/eventstreamer has no ranking operator
at all (its only ordering is a per-batch in-memory OrderBy,
DispatcherFunction.cs:35); this is Tier B scale machinery.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eventstreamer_spark.memo import checkpoint

# Cap on range partitions for the parallel exact rank. The per-query
# count is SIZE-ADAPTIVE below (VERDICT r14 item 5): a fixed 32 paid
# ~32 near-empty range-sampler+window tasks on the 15k–150k-row report
# inputs at sf0.1, while one partition per ~16 MB of estimated input
# keeps the same RangePartitioning plan shape and scales back up with
# the data.
RANK_NPART = 32
_RANK_BYTES_PER_PART = 16 << 20


def rank_npart(df: DataFrame) -> int:
    """Range-partition count for this input: ceil(estimated bytes /
    16 MB), clamped to [2, RANK_NPART]. The floor of 2 keeps the plan
    a RangePartitioning exchange — never the Exchange SinglePartition
    shape the module exists to retire. Estimation failures fall back
    to the cap (over-partitioning is the safe direction at scale)."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return max(2, RANK_NPART)
    n = math.ceil(min(size, 1 << 60) / _RANK_BYTES_PER_PART)
    return max(2, min(RANK_NPART, n))


def _as_cols(order: list[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order]


def range_staged(df: DataFrame, order: list[str | Column]) -> DataFrame:
    """The rank's exchange stage, factored out so plan tests can pin
    the RangePartitioning shape (the checkpoint in parallel_rank
    collapses it to a LogicalRDD in the downstream plan). ``order``
    entries may carry sort direction (``F.col(x).desc()``)."""
    cols = _as_cols(order)
    return df.repartitionByRange(rank_npart(df), *cols).withColumn(
        "_pid", F.spark_partition_id()
    )


def parallel_rank(
    spark: SparkSession,
    df: DataFrame,
    order: list[str | Column],
    rank_col: str = "_rank",
) -> tuple[DataFrame, int]:
    """Exact global ``row_number() OVER (ORDER BY order)`` (1-based,
    in ``rank_col``) with NO no-partition window, computed in parallel
    via range exchange + per-partition windows + a bounded
    (≤ RANK_NPART)-row offset collect. ``order`` must be a total order
    (unique tie-break) or ranks are nondeterministic.

    Returns (ranked_df, n_rows).
    """
    # LAZY checkpoint: the counts collect right below is the first
    # action, so it materializes the range exchange AND persists the
    # blocks in the SAME job — the eager form paid a separate
    # materialization pass first (one full extra scan per rank,
    # optimization guide §2.4 "remove shuffles/passes outright").
    # Partition ids are pinned identically either way: the boundary
    # sampling runs once, in whichever job first computes the RDD.
    d = checkpoint(range_staged(df, order))
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(counts.values())
    if n == 0:
        raise ValueError("parallel_rank: empty input")
    offs, acc = [], 0
    for pid in sorted(counts):
        offs.append((pid, acc))
        acc += counts[pid]
    off = spark.createDataFrame(offs, "_pid INT, _off BIGINT")
    w = Window.partitionBy("_pid").orderBy(*_as_cols(order))
    ranked = (
        d.join(F.broadcast(off), "_pid")
        .withColumn(rank_col, F.row_number().over(w).cast("long") + F.col("_off"))
        .drop("_pid", "_off")
    )
    return ranked, n


def ntile_expr(rank_col: str, n: int, k: int) -> Column:
    """SQL ``ntile(k)`` as a pure expression of the exact global rank:
    with q = n DIV k and m = n MOD k, the first m buckets hold q+1
    rows, the rest q — bit-identical to the ntile the DuckDB oracles
    run, so migrated queries keep their oracle SQL unchanged. ``n``
    comes from parallel_rank's bounded count collect (a driver int)."""
    q, m = divmod(n, k)
    if m == 0:
        return F.expr(f"(({rank_col} - 1) DIV {q}) + 1")
    return F.expr(
        f"CASE WHEN {rank_col} <= {m * (q + 1)}"
        f" THEN ({rank_col} - 1) DIV {q + 1}"
        f" ELSE {m} + ({rank_col} - 1 - {m * (q + 1)}) DIV {q} END + 1"
    )
