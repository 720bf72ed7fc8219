"""Engine scratch space (eventstreamer_spark/scratch.py): the drip
replay's staging rules, and no temp dir outliving its process."""

from __future__ import annotations

import glob
import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, run_driver_child


def _drip_dirs() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "es_drip_*")))


def test_drip_stream_rejects_empty_and_cleans_up(spark):
    from eventstreamer_spark.scratch import drip_stream

    before = _drip_dirs()
    df = spark.createDataFrame([(i,) for i in range(6)], "rid int")
    with pytest.raises(ValueError, match="no rows"):
        with drip_stream(spark, df, F.lit(7), 3):
            pass
    assert _drip_dirs() == before
    with drip_stream(spark, df, F.col("rid") % 3, 3) as stream:
        assert stream.isStreaming
        assert _drip_dirs() - before
    assert _drip_dirs() == before


def test_drip_stream_skips_empty_buckets(spark):
    """Bucket 1 has no rows: the replay is buckets 0 and 2, in order,
    one micro-batch each."""
    from eventstreamer_spark.scratch import drip_stream
    from eventstreamer_spark.streaming.pipeline import run_stream

    df = spark.createDataFrame([(i,) for i in range(12)], "rid int")
    batches: list[list[int]] = []
    with drip_stream(spark, df, (F.col("rid") % 2) * 2, 3) as stream:
        run_stream(
            stream, foreach=lambda b, _id: batches.append(sorted(r.rid for r in b.collect()))
        )
    assert batches == [list(range(0, 12, 2)), list(range(1, 12, 2))]


def test_exit_hook_drops_registered_tables(spark, monkeypatch, tmp_path):
    """A catalog table registered with scratch.session_table is dropped
    by scratch's one exit hook (the session roots it also removes are
    swapped out here, so the hook touches nothing of this session)."""
    from eventstreamer_spark import scratch

    monkeypatch.setattr(scratch, "_SESSION_ROOTS", set())
    monkeypatch.setattr(scratch, "_SESSION_TABLES", set())
    name = scratch.session_table("es_exit_hook_probe")
    spark.range(3).write.option("path", str(tmp_path / "t")).mode(
        "overwrite"
    ).saveAsTable(name)
    assert spark.catalog.tableExists(name)
    scratch._remove_session_scratch()
    assert not spark.catalog.tableExists(name)
    assert not scratch._SESSION_TABLES


# Every query that writes engine scratch space outside its own block:
# session dirs (layout, compaction, partition, CBO catalog, upsert
# target, bucketed index, round-trip copy) and a drip replay.
_SCRATCH_QUERIES = [
    "zorder_pruning_audit",
    "compaction_bin_packing_audit",
    "partition_pruning_audit",
    "stats_driven_plan_audit",
    "stream_foreachbatch_upsert",
    "bucketed_band_index_join",
    "csv_source_parity",
    "stream_late_data_policy",
]


def test_no_scratch_dir_outlives_the_process(tmp_path):
    """A fresh process with its own TMPDIR and working directory runs
    every scratch-writing query and exits: nothing named es_* is left
    in TMPDIR, no /tmp/es_*/<appId> dir exists for it, and no CBO
    database dir lands in the working directory's spark-warehouse/."""
    tmp, cwd = tmp_path / "tmp", tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    body = f"""
    import json
    import __spark_entry__ as contract
    qs = contract.queries()
    for name in {_SCRATCH_QUERIES!r}:
        assert qs[name](spark, {SF_DIR!r}).collect(), name
    print(json.dumps({{"app": spark.sparkContext.applicationId}}))
    """
    proc = run_driver_child(body, cwd, {"TMPDIR": str(tmp)})
    assert proc.returncode == 0, proc.stderr[-3000:]
    app = json.loads(proc.stdout.strip().splitlines()[-1])["app"]
    assert not list(tmp.glob("es_*")), sorted(p.name for p in tmp.glob("es_*"))
    assert not glob.glob(f"/tmp/es_*/{app}")
    assert not list(cwd.glob("spark-warehouse/es_cbo_*"))
