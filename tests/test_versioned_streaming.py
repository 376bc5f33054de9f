"""Exactly-once streaming sink into the versioned table
(streaming/versioned_sink.py): the manifest batch-id watermark closes
the keyless-append at-least-once hole `_maintain_silver_gold`
documents — replays are skipped BEFORE any write, and a downstream
version-cursor consumer reads each committed batch exactly once via
``incremental_scan``.
"""

from __future__ import annotations

import os
import shutil
import time

from end_to_end_database_pipeline_project_spark.sources import versioned as V
from end_to_end_database_pipeline_project_spark.streaming.versioned_sink import (
    append_batch_versioned,
    last_committed_batch,
    run_versioned_sink_stream,
)

SCHEMA = "x bigint"


def _land(spark, landing: str, lo: int, hi: int) -> None:
    spark.range(lo, hi).withColumnRenamed("id", "x").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    time.sleep(1.1)  # distinct mtimes -> deterministic batch order


def _run(spark, landing: str, table: str, ckpt: str) -> None:
    run_versioned_sink_stream(spark, landing, table, ckpt, schema=SCHEMA)


def test_stream_commits_each_batch_once(spark, tmp_path):
    landing, table, ckpt = (
        str(tmp_path / d) for d in ("landing", "table", "ckpt")
    )
    for lo, hi in ((0, 5), (5, 8), (8, 10)):
        _land(spark, landing, lo, hi)
    _run(spark, landing, table, ckpt)

    vs = V.versions(table)
    assert [(v["version"], v["mode"], v["batch_id"]) for v in vs] == [
        (1, "full", 0),
        (2, "append", 1),
        (3, "append", 2),
    ]
    assert sorted(r.x for r in V.read_version(spark, table).collect()) == list(
        range(10)
    )
    # typed CDF over the committed batches
    cdf = V.incremental_scan(spark, table, from_version=1)
    assert sorted(r.x for r in cdf.collect()) == list(range(5, 10))


def test_restart_and_wiped_checkpoint_are_noops(spark, tmp_path):
    landing, table, ckpt = (
        str(tmp_path / d) for d in ("landing", "table", "ckpt")
    )
    for lo, hi in ((0, 4), (4, 6)):
        _land(spark, landing, lo, hi)
    _run(spark, landing, table, ckpt)
    before = [(v["version"], v["rows"]) for v in V.versions(table)]

    # restart on the same checkpoint: nothing new to deliver
    _run(spark, landing, table, ckpt)
    assert [(v["version"], v["rows"]) for v in V.versions(table)] == before

    # wiped checkpoint: history re-delivers as batches 0..N again —
    # the manifest watermark absorbs it, zero new commits
    shutil.rmtree(ckpt)
    _run(spark, landing, table, ckpt)
    assert [(v["version"], v["rows"]) for v in V.versions(table)] == before
    assert V.read_version(spark, table).count() == 6


def test_new_files_after_wipe_commit_above_watermark(spark, tmp_path):
    landing, table, ckpt = (
        str(tmp_path / d) for d in ("landing", "table", "ckpt")
    )
    for lo, hi in ((0, 3), (3, 5)):
        _land(spark, landing, lo, hi)
    _run(spark, landing, table, ckpt)
    assert last_committed_batch(table) == 1

    _land(spark, landing, 5, 9)  # landing GREW
    shutil.rmtree(ckpt)  # and the checkpoint is gone
    _run(spark, landing, table, ckpt)
    vs = V.versions(table)
    # old batches re-delivered below the watermark: skipped; the new
    # file committed exactly once above it
    assert [(v["version"], v["mode"], v["batch_id"]) for v in vs] == [
        (1, "full", 0),
        (2, "append", 1),
        (3, "append", 2),
    ]
    assert sorted(r.x for r in V.read_version(spark, table).collect()) == list(
        range(9)
    )


def test_version_cursor_consumer_reads_each_batch_once(spark, tmp_path):
    landing, table, ckpt = (
        str(tmp_path / d) for d in ("landing", "table", "ckpt")
    )
    _land(spark, landing, 0, 6)
    _run(spark, landing, table, ckpt)
    cursor = V.versions(table)[-1]["version"]
    # caught up: empty delta
    assert V.incremental_scan(spark, table, from_version=cursor).count() == 0

    _land(spark, landing, 6, 8)
    _run(spark, landing, table, ckpt)
    delta = V.incremental_scan(spark, table, from_version=cursor)
    assert sorted(r.x for r in delta.collect()) == [6, 7]
    # advancing the cursor makes the sync exactly-once
    cursor = V.versions(table)[-1]["version"]
    assert V.incremental_scan(spark, table, from_version=cursor).count() == 0


def test_direct_replay_of_committed_batch_is_skipped(spark, tmp_path):
    """The failure-point contract without a stream: a batch whose id is
    already committed returns None and writes nothing."""
    table = str(tmp_path / "table")
    df = spark.range(4).withColumnRenamed("id", "x")
    assert append_batch_versioned(df, table, 0) == 1
    assert append_batch_versioned(df, table, 0) is None  # replay
    assert append_batch_versioned(df, table, 1) == 2
    assert append_batch_versioned(df, table, 1) is None
    assert last_committed_batch(table) == 1
    assert V.read_version(spark, table).count() == 8


def test_out_of_band_commits_compose_with_watermark(spark, tmp_path):
    """A maintenance commit without a batch_id (e.g. compaction)
    doesn't disturb the sink watermark, and the sink keeps appending
    after it on the new chain."""
    table = str(tmp_path / "table")
    df = spark.range(3).withColumnRenamed("id", "x")
    append_batch_versioned(df, table, 0)
    append_batch_versioned(
        spark.range(3, 5).withColumnRenamed("id", "x"), table, 1
    )
    V.compact_chain(spark, table)  # no batch_id on this entry
    assert last_committed_batch(table) == 1
    assert (
        append_batch_versioned(
            spark.range(5, 6).withColumnRenamed("id", "x"), table, 2
        )
        == 4
    )
    assert V.read_version(spark, table).count() == 6


def test_vacuum_never_lowers_the_batch_watermark(spark, tmp_path):
    """Expiring batch-stamped entries carries the watermark forward as
    a table-level manifest field — otherwise a wiped-checkpoint replay
    AFTER vacuum would re-commit old batches as duplicates."""
    table = str(tmp_path / "table")
    for i, (lo, hi) in enumerate(((0, 4), (4, 6), (6, 7))):
        append_batch_versioned(
            spark.range(lo, hi).withColumnRenamed("id", "x"), table, i
        )
    V.compact_chain(spark, table)  # v4 full, no batch_id
    append_batch_versioned(
        spark.range(7, 9).withColumnRenamed("id", "x"), table, 3
    )  # v5
    # expire everything below the compacted snapshot: the dropped
    # entries carried batch ids 0..2
    assert V.expire_versions(table, retain_last=2) == [1, 2, 3]
    assert last_committed_batch(table) == 3
    # the wiped-checkpoint shape: history re-delivers as batches 0..3
    for i, (lo, hi) in enumerate(((0, 4), (4, 6), (6, 7), (7, 9))):
        assert (
            append_batch_versioned(
                spark.range(lo, hi).withColumnRenamed("id", "x"), table, i
            )
            is None
        ), f"replayed batch {i} must be skipped after vacuum"
    assert V.read_version(spark, table).count() == 9


def test_sink_max_chain_auto_compacts(spark, tmp_path):
    """VERDICT r09 #5 (sink wiring): with ``max_chain`` set, the sink
    compacts once the chain exceeds the budget — the table's read plan
    stays bounded across an arbitrarily long stream; content and the
    batch watermark are preserved (replays still skip)."""
    landing = str(tmp_path / "in")
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    for i in range(6):
        _land(spark, landing, i * 10, (i + 1) * 10)
    run_versioned_sink_stream(
        spark, landing, table, ckpt, schema=SCHEMA, max_chain=3
    )
    vs = V.versions(table)
    assert any(
        e["mode"] == "full" and e["version"] > 1 for e in vs
    ), "chain past max_chain must have compacted"
    assert V.chain_length(table) <= 4
    assert sorted(r.x for r in V.read_version(spark, table).collect()) == list(
        range(60)
    )
    # watermark survives compaction: a wiped-checkpoint replay is a no-op
    shutil.rmtree(ckpt)
    run_versioned_sink_stream(
        spark, landing, table, ckpt, schema=SCHEMA, max_chain=3
    )
    assert sorted(r.x for r in V.read_version(spark, table).collect()) == list(
        range(60)
    )


def test_cdf_stream_query_runs_without_pythonpath(spark, tmp_path):
    """One change-feed micro-batch of ``readStream.format(
    "versioned_table")`` from a fresh process with no PYTHONPATH and a
    working directory outside the repo — the driver harness's setup.
    The data source's planner and streaming-source runners must import
    this package from what ``ship_package`` sent them: they raised
    ModuleNotFoundError while the source was registered before the
    package was shipped, and the streaming-source runner, which ignores
    addPyFile, also needs it on PYTHONPATH."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    table = str(tmp_path / "t")
    V.write_version(spark.range(3).withColumnRenamed("id", "x"), table)
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from end_to_end_database_pipeline_project_spark.sources.versioned_source import (
    register,
)
register(spark)
q = (
    spark.readStream.format("versioned_table")
    .option("path", {table!r})
    .option("readchangefeed", "true")
    .load()
    .writeStream.format("noop")
    .option("checkpointLocation", {str(tmp_path / "ckpt")!r})
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
print("ROWS=" + str(sum(p["numInputRows"] for p in q.recentProgress)))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS=3" in proc.stdout
