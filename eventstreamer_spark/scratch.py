"""Engine scratch space: the one owner of every temp dir the operators write.

Every dir lives under ``tempfile.gettempdir()`` (so ``TMPDIR`` moves all
of them), is named ``es_*``, and has one of three lifetimes:

- ``tempdir(prefix)`` — the body of a ``with`` block. Staging copies,
  per-call version dirs: removed on every exit path.
- ``session_dir(spark, name)`` — ``<tmp>/es_<appId>/<name>``, for files
  a DataFrame reads after its query returned (layout/compaction/partition
  audit tables, the CBO catalog tables, round-trip format copies, the
  upsert gate's final table). Kept until interpreter exit, when the
  module's single ``atexit`` hook removes every session root it handed
  out. Artifact-store entries may free their own dir earlier. A catalog
  table whose data lives in a session dir is registered with
  ``session_table(name)``; the same hook DROPs it first.
- ``drip_stream(spark, df, bucket_col, n)`` — the file-drip replay, the
  deterministic stand-in for the reference's Event Hub trigger (O1):
  a table staged as one parquet file per bucket and read back with
  ``maxFilesPerTrigger=1``, so bucket ``i`` is micro-batch ``i``.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import os
import shutil
import tempfile
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession

_SESSION_ROOTS: set[str] = set()
_SESSION_TABLES: set[str] = set()
_BUCKET = "_drip_bucket"
_MTIME_BASE = 1_600_000_000


@contextlib.contextmanager
def tempdir(prefix: str) -> Iterator[str]:
    """A fresh ``<tmp>/<prefix>*`` dir, removed when the block exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def session_dir(spark: SparkSession, name: str) -> str:
    """``<tmp>/es_<appId>/<name>``, created if missing; removed with its
    session root at interpreter exit."""
    root = os.path.join(
        tempfile.gettempdir(), f"es_{spark.sparkContext.applicationId}"
    )
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    _SESSION_ROOTS.add(root)
    return path


def session_table(name: str) -> str:
    """Register catalog table ``name`` (data under a ``session_dir``) to
    be dropped at interpreter exit; returns ``name``."""
    _SESSION_TABLES.add(name)
    return name


@atexit.register
def _remove_session_scratch() -> None:
    # DROP the catalog entries (best-effort) before their data goes: with
    # a persistent metastore a later session would otherwise resolve a
    # table to an already-deleted path
    with contextlib.suppress(Exception):
        spark = SparkSession.getActiveSession()
        for table in _SESSION_TABLES:
            with contextlib.suppress(Exception):
                spark.sql(f"DROP TABLE IF EXISTS {table}")
    _SESSION_TABLES.clear()
    for root in _SESSION_ROOTS:
        shutil.rmtree(root, ignore_errors=True)
    _SESSION_ROOTS.clear()


@contextlib.contextmanager
def drip_stream(
    spark: SparkSession, df: DataFrame, bucket_col: Column, n: int
) -> Iterator[DataFrame]:
    """Yield a file-source stream replaying ``df`` one bucket per
    micro-batch, buckets ``0..n-1`` of the int-valued expression
    ``bucket_col`` in order (the bucket is not a column of the staged
    rows); the staged files are removed when the block exits.

    Exactly one parquet file per non-empty bucket: consumers rely on a
    bucket's rows arriving in ONE micro-batch (a request is served
    whole, a doc's rows decide together). ``repartition`` writes one
    part per bucket, but a writer config such as
    ``spark.sql.files.maxRecordsPerFile`` can split one; a split bucket
    is rewritten through ``coalesce(1)`` with the per-write limit
    lifted. Empty buckets stage nothing; a ``ValueError`` is raised if
    no bucket has rows. File mtimes step in bucket order, which is the
    order the file source replays them."""
    with tempdir("es_drip_") as root:
        staging = f"{root}/_stage"
        staged = df.withColumn(_BUCKET, bucket_col.cast("int"))
        staged.repartition(_BUCKET).write.mode("overwrite").partitionBy(
            _BUCKET
        ).parquet(staging)
        chunks: list[str] = []
        for i in range(n):
            parts = glob.glob(f"{staging}/{_BUCKET}={i}/part-*.parquet")
            if len(parts) > 1:
                merged = f"{staging}/_merge_{i}"
                bucket = spark.read.parquet(f"{staging}/{_BUCKET}={i}")
                bucket.coalesce(1).write.option("maxRecordsPerFile", 0).parquet(
                    merged
                )
                parts = glob.glob(f"{merged}/part-*.parquet")
            if parts:
                (part,) = parts
                dest = f"{root}/chunk-{i:03d}.parquet"
                shutil.move(part, dest)
                os.utime(dest, (_MTIME_BASE + i * 60, _MTIME_BASE + i * 60))
                chunks.append(dest)
        shutil.rmtree(staging, ignore_errors=True)
        if not chunks:
            raise ValueError(f"drip_stream: no rows in buckets 0..{n - 1}")
        schema = spark.read.parquet(chunks[0]).schema
        yield (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
        )
