"""Parallel exact global ranking: the range-exchange replacement for
no-partition ranking windows.

A ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY plans as
``Exchange SinglePartition`` — every input row serializes through ONE
task, the classic 100×-scale killer. ``parallel_rank`` computes the
same rank as one lazy plan, with no driver round trip:

  1. ``repartitionByRange`` on the order columns, then on every other
     column — the distributed sort exchange; partition i's rows all
     precede partition i+1's by the range-partitioner contract. The
     order is total, so the trailing columns change no rank; they only
     keep column pruning from narrowing the count side below the
     exchange, so both sides plan the same exchange and Spark evaluates
     it once (the count side reads it as a ``ReusedExchange``) — one
     range-boundary sample for both. This relies on
     ``spark.sql.exchange.reuse=true``, which ``session.get_spark`` and
     ``session.configure`` set: two evaluations would sample their
     boundaries with different seeds and return wrong ranks silently.
  2. ``sortWithinPartitions`` on the order and
     ``monotonically_increasing_id``: the id's high bits are the
     partition id, its low 33 bits the row's index in the partition.
  3. One global aggregate over the exchange counts, for each of the
     ≤ RANK_NPART partitions, the rows of all partitions before it —
     the partition's rank offset — and the row count ``_n``; its
     ≤ RANK_NPART rows are broadcast-joined to the rows on the
     partition id.

The exact SQL ``ntile(k)`` bucket (first ``n mod k`` buckets one row
larger) is then a pure expression of the global rank and ``_n``
(``ntile_expr``), so migrated queries keep their ntile-based DuckDB
oracles unchanged.

No reference parity: avodovnik/eventstreamer has no ranking operator
at all (its only ordering is a per-batch in-memory OrderBy,
DispatcherFunction.cs:35); this is Tier B scale machinery.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Cap on range partitions for the parallel exact rank. The per-query
# count is SIZE-ADAPTIVE below (VERDICT r14 item 5): a fixed 32 paid
# ~32 near-empty range-sampler tasks on the 15k–150k-row report
# inputs at sf0.1, while one partition per ~16 MB of estimated input
# keeps the same RangePartitioning plan shape and scales back up with
# the data.
RANK_NPART = 32
_RANK_BYTES_PER_PART = 16 << 20
# monotonically_increasing_id: partition id << 33 | row index
_ID_BITS = 33


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


def parallel_rank(
    df: DataFrame, order: list[str | Column], rank_col: str = "_rank"
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order)`` (1-based,
    bigint, in ``rank_col``) plus the input's row count in ``_n``,
    with NO no-partition window and no driver-side job. ``order``
    entries may carry sort direction (``F.col(x).desc()``) and must
    form a total order (unique tie-break) or ranks are
    nondeterministic. Every input column joins the range key, so every
    one must be orderable (no map or variant column) and each goes into
    the boundary sample collected on the driver: project the input down
    to the columns the caller needs before ranking."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    npart = rank_npart(df)
    staged = df.repartitionByRange(npart, *cols, *df.columns)
    # one global aggregate: per partition i, the rows of partitions < i
    pid = F.col("_pid")
    before = staged.select(F.spark_partition_id().alias("_pid")).agg(
        F.array(*[F.count(F.when(pid < i, 1)) for i in range(npart)]).alias("_b"),
        F.count(F.lit(1)).alias("_n"),
    )
    offsets = before.select(F.posexplode("_b").alias("_pid", "_off"), "_n")
    rows = staged.sortWithinPartitions(*cols).withColumn(
        "_id", F.monotonically_increasing_id()
    )
    return (
        rows.withColumn("_pid", F.shiftright("_id", _ID_BITS).cast("int"))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(
            rank_col,
            F.col("_off") + F.col("_id").bitwiseAND((1 << _ID_BITS) - 1) + 1,
        )
        .drop("_pid", "_id", "_off")
    )


def ntile_expr(rank_col: str, k: int) -> Column:
    """SQL ``ntile(k)`` as a pure expression of the exact global rank
    and parallel_rank's row-count column ``_n``: with q = n DIV k and
    m = n MOD k, the first m buckets hold q+1 rows, the rest q —
    bit-identical to the ntile the DuckDB oracles run, so migrated
    queries keep their oracle SQL unchanged. When n < k (q = 0) every rank falls in the first
    branch, so the ELSE division never runs."""
    big = f"(_n % {k}) * (_n DIV {k} + 1)"  # rows in the m larger buckets
    return F.expr(
        f"CASE WHEN {rank_col} <= {big}"
        f" THEN ({rank_col} - 1) DIV (_n DIV {k} + 1)"
        f" ELSE _n % {k} + ({rank_col} - 1 - {big}) DIV (_n DIV {k}) END + 1"
    )
