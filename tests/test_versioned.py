"""Versioned-table layer (sources/versioned.py): commit/read protocol.

Diff parity is covered by the registered `versioned_time_travel` query;
these pin the snapshot-isolation mechanics.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from end_to_end_database_pipeline_project_spark.sources import versioned as V


def test_versions_increment_and_latest_wins(spark, tmp_path):
    store = str(tmp_path / "t")
    assert V.write_version(spark.range(10), store) == 1
    assert V.write_version(spark.range(20), store) == 2
    assert [v["version"] for v in V.versions(store)] == [1, 2]
    assert V.read_version(spark, store).count() == 20
    assert V.read_version(spark, store, 1).count() == 10


def test_old_version_is_immutable_under_new_writes(spark, tmp_path):
    store = str(tmp_path / "t")
    V.write_version(spark.range(5).select((F.col("id") * 2).alias("x")), store)
    v1 = V.read_version(spark, store, 1)
    before = sorted(r.x for r in v1.collect())
    V.write_version(spark.range(5).select((F.col("id") * 100).alias("x")), store)
    # the v1 handle and a fresh v1 read both still see the old snapshot
    assert sorted(r.x for r in v1.collect()) == before
    assert sorted(r.x for r in V.read_version(spark, store, 1).collect()) == before


def test_uncommitted_snapshot_dirs_are_invisible(spark, tmp_path):
    store = str(tmp_path / "t")
    V.write_version(spark.range(7), store)
    # a crashed writer's half-landed snapshot: data dir, no manifest entry
    spark.range(3).write.parquet(os.path.join(store, "v=2"))
    assert [v["version"] for v in V.versions(store)] == [1]
    assert V.read_version(spark, store).count() == 7
    # the next committed write claims version 2's SLOT atomically: the
    # manifest, not the directory listing, is the source of truth
    try:
        V.read_version(spark, store, 2)
        assert False, "uncommitted version must not be readable"
    except ValueError:
        pass


def test_vacuum_expires_old_versions_and_orphans(spark, tmp_path):
    from end_to_end_database_pipeline_project_spark.sources.versioned import (
        expire_versions,
        read_version,
        versions,
        write_version,
    )

    path = str(tmp_path / "vt")
    for i in range(4):
        df = spark.range(10 * (i + 1)).withColumnRenamed("id", "x")
        write_version(df, path)
    # two uncommitted dirs: an old crash orphan BELOW the retention
    # watermark (must be reclaimed) and a higher-numbered dir that
    # could be an in-flight writer (must be left alone — write_version
    # always numbers above every committed entry)
    import os

    os.makedirs(os.path.join(path, "v=0"))
    os.makedirs(os.path.join(path, "v=99"))

    expired = expire_versions(path, retain_last=2)
    assert expired == [1, 2]
    left = [v["version"] for v in versions(path)]
    assert left == [3, 4]
    # latest still readable, expired gone from disk and manifest
    assert read_version(spark, path).count() == 40
    assert read_version(spark, path, 3).count() == 30
    dirs = {d for d in os.listdir(path) if d.startswith("v=")}
    assert dirs == {"v=3", "v=4", "v=99"}, (
        "below-watermark dirs reclaimed, in-flight-candidate dirs kept"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_version(spark, path, 1)


def test_append_chain_resolves_and_old_snapshots_stable(spark, tmp_path):
    """An append version reads as base + every delta up to it; earlier
    versions (full or append) are untouched by later commits."""
    path = str(tmp_path / "cdf")
    assert V.write_version(spark.range(5).withColumnRenamed("id", "x"), path) == 1
    assert (
        V.append_version(
            spark.range(5, 8).withColumnRenamed("id", "x"), path
        )
        == 2
    )
    assert (
        V.append_version(
            spark.range(8, 10).withColumnRenamed("id", "x"), path
        )
        == 3
    )
    assert sorted(r.x for r in V.read_version(spark, path, 1).collect()) == list(
        range(5)
    )
    assert sorted(r.x for r in V.read_version(spark, path, 2).collect()) == list(
        range(8)
    )
    assert sorted(r.x for r in V.read_version(spark, path).collect()) == list(
        range(10)
    )
    # manifest rows: full counts the snapshot, append counts the delta
    assert [(v["version"], v["rows"], v.get("mode")) for v in V.versions(path)] == [
        (1, 5, "full"),
        (2, 3, "append"),
        (3, 2, "append"),
    ]


def test_incremental_scan_reads_only_delta_files(spark, tmp_path):
    """The CDF contract, structurally: the scan's input files all live
    under the delta directories — the base snapshot is never re-read —
    and each row is stamped with its commit version."""
    path = str(tmp_path / "cdf")
    V.write_version(spark.range(1000).withColumnRenamed("id", "x"), path)
    V.append_version(spark.range(1000, 1003).withColumnRenamed("id", "x"), path)
    V.append_version(spark.range(1003, 1005).withColumnRenamed("id", "x"), path)

    inc = V.incremental_scan(spark, path, from_version=1)
    rows = {(r.x, r._commit_version) for r in inc.collect()}
    assert rows == {(1000, 2), (1001, 2), (1002, 2), (1003, 3), (1004, 3)}
    files = inc.inputFiles()
    assert files, "scan must report its input files"
    assert all(("/v=2/" in f) or ("/v=3/" in f) for f in files), files
    # bounded sync: only up to version 2
    inc12 = V.incremental_scan(spark, path, from_version=1, to_version=2)
    assert sorted(r.x for r in inc12.collect()) == [1000, 1001, 1002]
    # caught-up consumer: empty delta, original schema + stamp columns
    empty = V.incremental_scan(spark, path, from_version=3)
    assert empty.count() == 0
    assert empty.columns == ["x", "_commit_version", "_change_type"]


def test_incremental_scan_refuses_rewrite_boundary(spark, tmp_path):
    """A full snapshot between from and to is a rewrite: the delta is
    undefined, so the scan fails loudly instead of returning rows that
    silently miss the rewrite's drops/changes."""
    import pytest

    path = str(tmp_path / "cdf")
    V.write_version(spark.range(5).withColumnRenamed("id", "x"), path)
    V.append_version(spark.range(5, 6).withColumnRenamed("id", "x"), path)
    V.write_version(spark.range(3).withColumnRenamed("id", "x"), path)  # rewrite
    V.append_version(spark.range(3, 4).withColumnRenamed("id", "x"), path)
    with pytest.raises(ValueError, match="rewrite"):
        V.incremental_scan(spark, path, from_version=1)
    # within the new chain the scan is fine
    assert sorted(
        r.x for r in V.incremental_scan(spark, path, from_version=3).collect()
    ) == [3]


def test_append_requires_full_base(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="full snapshot"):
        V.append_version(
            spark.range(3).withColumnRenamed("id", "x"), str(tmp_path / "nobase")
        )


def test_vacuum_retains_append_chain_base(spark, tmp_path):
    """Expiring with an append as the oldest retained version extends
    retention to its chain base: a retained version must always stay
    readable, so a chain expires only as a unit."""
    import os

    path = str(tmp_path / "cdf")
    V.write_version(spark.range(4).withColumnRenamed("id", "x"), path)  # v1 full
    V.append_version(spark.range(4, 6).withColumnRenamed("id", "x"), path)  # v2
    V.append_version(spark.range(6, 7).withColumnRenamed("id", "x"), path)  # v3
    V.write_version(spark.range(100).withColumnRenamed("id", "x"), path)  # v4 full
    V.append_version(spark.range(100, 101).withColumnRenamed("id", "x"), path)  # v5

    # retain_last=4 would cut into v2..v5: v2's chain needs v1 -> nothing expires
    assert V.expire_versions(path, retain_last=4) == []
    assert [v["version"] for v in V.versions(path)] == [1, 2, 3, 4, 5]

    # retain_last=2 keeps v4,v5 (v4 is full: chain complete) and expires v1..v3
    assert V.expire_versions(path, retain_last=2) == [1, 2, 3]
    assert [v["version"] for v in V.versions(path)] == [4, 5]
    dirs = {d for d in os.listdir(path) if d.startswith("v=")}
    assert dirs == {"v=4", "v=5"}
    assert V.read_version(spark, path).count() == 101


def test_delete_version_merge_on_read(spark, tmp_path):
    """Tombstone semantics: a delete hides matching rows from prior
    commits, a LATER re-insert of the same key survives (fold order),
    and time travel to a pre-delete version still sees everything."""
    path = str(tmp_path / "mor")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string"),
        path,
    )  # v1 full
    V.append_version(
        spark.createDataFrame([(4, "d")], "k long, s string"), path
    )  # v2
    assert (
        V.delete_version(
            spark.createDataFrame([(2,), (4,), (99,)], "k long"), path, "k"
        )
        == 3
    )  # v3: 99 matches nothing -- harmless
    V.append_version(
        spark.createDataFrame([(2, "b2")], "k long, s string"), path
    )  # v4: re-insert of a deleted key
    assert sorted((r.k, r.s) for r in V.read_version(spark, path, 3).collect()) == [
        (1, "a"),
        (3, "c"),
    ]
    assert sorted((r.k, r.s) for r in V.read_version(spark, path).collect()) == [
        (1, "a"),
        (2, "b2"),
        (3, "c"),
    ]
    # pre-delete time travel is unaffected
    assert sorted(r.k for r in V.read_version(spark, path, 2).collect()) == [
        1,
        2,
        3,
        4,
    ]
    # manifest: tombstone rows count the distinct keys, key col recorded
    v3 = [v for v in V.versions(path) if v["version"] == 3][0]
    assert (v3["mode"], v3["rows"], v3["key"]) == ("delete", 3, "k")


def test_incremental_scan_typed_change_rows(spark, tmp_path):
    """CDF emits inserts as full rows and deletes as key tombstone
    rows (non-key columns NULL), each stamped with commit version."""
    path = str(tmp_path / "mor")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"), path
    )
    V.append_version(spark.createDataFrame([(3, "c")], "k long, s string"), path)
    V.delete_version(spark.createDataFrame([(1,)], "k long"), path, "k")

    cdf = V.incremental_scan(spark, path, from_version=1)
    rows = {(r.k, r.s, r._commit_version, r._change_type) for r in cdf.collect()}
    assert rows == {(3, "c", 2, "insert"), (1, None, 3, "delete")}
    # the scan reads only the delta dirs, never the base snapshot
    assert all(("/v=2/" in f) or ("/v=3/" in f) for f in cdf.inputFiles())
    # a caught-up consumer sitting ON a delete version gets the full
    # table schema back, empty
    empty = V.incremental_scan(spark, path, from_version=3)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "s", "_commit_version", "_change_type"}


def test_vacuum_retains_chain_through_delete(spark, tmp_path):
    path = str(tmp_path / "mor")
    V.write_version(spark.createDataFrame([(1,), (2,)], "k long"), path)  # v1
    V.delete_version(spark.createDataFrame([(1,)], "k long"), path, "k")  # v2
    V.append_version(spark.createDataFrame([(5,)], "k long"), path)  # v3
    # oldest retained (v2) is a delete: chain base v1 must survive
    assert V.expire_versions(path, retain_last=2) == []
    assert sorted(r.k for r in V.read_version(spark, path).collect()) == [2, 5]


def test_manifest_stats_prune_skips_commits(spark, tmp_path):
    """Data skipping from the commit log: a pruned chain read never
    lists or opens a commit directory whose recorded [min,max] cannot
    overlap the range — and the BETWEEN filter still applies to what
    IS read, so pruning is performance, never correctness."""
    path = str(tmp_path / "stats")
    mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "x")
    V.write_version(mk(0, 100), path, stats_cols=("x",))  # v1: [0,99]
    V.append_version(mk(100, 200), path, stats_cols=("x",))  # v2: [100,199]
    V.append_version(mk(200, 300), path, stats_cols=("x",))  # v3: [200,299]

    pruned = V.read_version(spark, path, prune=("x", 120, 180))
    assert sorted(r.x for r in pruned.collect()) == list(range(120, 181))
    files = pruned.inputFiles()
    assert files and all("/v=2/" in f for f in files), files
    # commit written without stats: read + filtered, not skipped
    V.append_version(mk(300, 310), path)  # v4: no stats
    pruned2 = V.read_version(spark, path, prune=("x", 120, 180))
    assert sorted(r.x for r in pruned2.collect()) == list(range(120, 181))
    assert any("/v=4/" in f for f in pruned2.inputFiles())
    # range matching nothing: empty frame, table schema
    none = V.read_version(spark, path, prune=("x", 10_000, 20_000))
    assert none.count() == 0 and none.columns == ["x"]


def test_prune_tombstone_skip_only_when_key_range_disjoint(spark, tmp_path):
    """A tombstone is skipped under prune only when its KEY stats prove
    it cannot touch the range; otherwise it must still apply."""
    path = str(tmp_path / "statsdel")
    mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "x")
    V.write_version(mk(0, 100), path, stats_cols=("x",))
    V.delete_version(
        spark.createDataFrame([(5,), (50,)], "x long"), path, "x"
    )  # keys [5,50]
    # prune range [40,60] overlaps tombstone key range: 50 must be gone
    got = sorted(
        r.x for r in V.read_version(spark, path, prune=("x", 40, 60)).collect()
    )
    assert got == [v for v in range(40, 61) if v != 50]
    # prune range [60,70] is disjoint from [5,50]: tombstone dir skipped
    pr = V.read_version(spark, path, prune=("x", 60, 70))
    assert sorted(r.x for r in pr.collect()) == list(range(60, 71))
    assert all("/v=1/" in f for f in pr.inputFiles())


def test_compact_chain_squashes_merge_on_read_debt(spark, tmp_path):
    """Compaction materializes base + appends − tombstones as a new
    full snapshot: same content, single-directory read, tombstoned
    rows physically gone; CDF across it demands a resync; old
    versions stay time-travelable."""
    import pytest

    path = str(tmp_path / "compact")
    mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "x")
    V.write_version(mk(0, 10), path, stats_cols=("x",))  # v1
    V.append_version(mk(10, 15), path, stats_cols=("x",))  # v2
    V.delete_version(spark.createDataFrame([(3,), (12,)], "x long"), path, "x")  # v3
    before = sorted(r.x for r in V.read_version(spark, path).collect())

    v4 = V.compact_chain(spark, path, stats_cols=("x",))
    assert v4 == 4
    after = V.read_version(spark, path)
    assert sorted(r.x for r in after.collect()) == before
    # single-directory read now, and the new full entry carries stats
    assert all("/v=4/" in f for f in after.inputFiles())
    e4 = [v for v in V.versions(path) if v["version"] == 4][0]
    assert e4["mode"] == "full" and e4["stats"]["x"] == {"min": 0, "max": 14}
    # CDF lineage re-based: scanning across the compaction fails loudly
    with pytest.raises(ValueError, match="rewrite"):
        V.incremental_scan(spark, path, from_version=2)
    # pre-compaction time travel unaffected
    assert sorted(r.x for r in V.read_version(spark, path, 2).collect()) == list(
        range(15)
    )


def test_upsert_version_latest_wins_atomic(spark, tmp_path):
    """One replace commit both tombstones its keys and inserts its
    rows: latest-wins MERGE with no delete-without-insert window;
    CDF emits the commit as typed 'upsert' full rows."""
    path = str(tmp_path / "ups")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string"),
        path,
    )  # v1
    V.upsert_version(
        spark.createDataFrame([(2, "B2"), (9, "new")], "k long, s string"),
        path,
        "k",
    )  # v2: corrects 2, inserts 9
    got = sorted((r.k, r.s) for r in V.read_version(spark, path).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (9, "new")]
    # time travel to v1 unaffected
    assert sorted(r.s for r in V.read_version(spark, path, 1).collect()) == [
        "a",
        "b",
        "c",
    ]
    cdf = V.incremental_scan(spark, path, from_version=1)
    rows = {(r.k, r.s, r._change_type) for r in cdf.collect()}
    assert rows == {(2, "B2", "upsert"), (9, "new", "upsert")}
    # a later upsert of the same key wins again
    V.upsert_version(
        spark.createDataFrame([(2, "B3")], "k long, s string"), path, "k"
    )
    got = sorted((r.k, r.s) for r in V.read_version(spark, path).collect())
    assert got == [(1, "a"), (2, "B3"), (3, "c"), (9, "new")]
    # manifest entry: mode replace, key recorded, key stats present
    e2 = [v for v in V.versions(path) if v["version"] == 2][0]
    assert (e2["mode"], e2["key"]) == ("replace", "k")
    assert e2["stats"]["k"] == {"min": 2, "max": 9}


def test_upsert_under_prune_moves_row_out_of_range(spark, tmp_path):
    """A pruned read equals filter(visible_table) even when an upsert
    moves a row's pruned column out of the range: the old image
    vanishes, the new one is filtered."""
    path = str(tmp_path / "upsp")
    V.write_version(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, val long"),
        path,
        stats_cols=("val",),
    )
    V.upsert_version(
        spark.createDataFrame([(2, 999)], "k long, val long"), path, "k"
    )  # row k=2 leaves the [15, 35] value range
    got = sorted(
        (r.k, r.val)
        for r in V.read_version(spark, path, prune=("val", 15, 35)).collect()
    )
    assert got == [(3, 30)]
    # disjoint KEY range: the upsert commit is skippable under a prune
    # on the key column itself
    pr = V.read_version(spark, path, prune=("k", 0, 1))
    assert sorted((r.k, r.val) for r in pr.collect()) == [(1, 10)]
    assert all("/v=1/" in f for f in pr.inputFiles())


def test_append_schema_evolution_union_and_prune(spark, tmp_path):
    """An append may ADD columns: chain reads resolve the union schema
    (old rows NULL for new columns), and a prune on a column a commit
    predates skips that commit entirely — its rows are all NULL there."""
    path = str(tmp_path / "evo")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        path,
    )
    V.append_version(
        spark.createDataFrame(
            [(3, "c", 7.5)], "k long, s string, score double"
        ),
        path,
        stats_cols=("score",),
    )
    full = V.read_version(spark, path)
    assert set(full.columns) == {"k", "s", "score"}
    got = sorted((r.k, r.s, r.score) for r in full.collect())
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 7.5)]
    # prune on the NEW column: the pre-evolution commit drops out
    pr = V.read_version(spark, path, prune=("score", 5.0, 10.0))
    assert [(r.k, r.score) for r in pr.collect()] == [(3, 7.5)]
    assert all("/v=2/" in f for f in pr.inputFiles())
    # CDF across the evolution keeps the union schema
    cdf = V.incremental_scan(spark, path, from_version=1)
    assert {(r.k, r.score) for r in cdf.collect()} == {(3, 7.5)}


def test_concurrent_writers_serialize_without_lost_commits(spark, tmp_path):
    """Eight threads commit concurrently: every commit survives,
    versions come out contiguous, and the table's content is the union
    — the commit lock serializes manifest read-modify-write."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "cc")
    V.write_version(spark.range(0).withColumnRenamed("id", "x"), path)

    def work(i: int) -> list[int]:
        out = []
        for j in range(3):
            lo = 1000 * i + 10 * j
            out.append(
                V.append_version(
                    spark.range(lo, lo + 5).withColumnRenamed("id", "x"), path
                )
            )
        return out

    with ThreadPoolExecutor(max_workers=8) as ex:
        got = [v for vs in ex.map(work, range(8)) for v in vs]
    assert sorted(got) == list(range(2, 26)), "every commit claimed a unique version"
    assert [v["version"] for v in V.versions(path)] == list(range(1, 26))
    assert V.read_version(spark, path).count() == 8 * 3 * 5


def test_dead_holder_lock_released_by_kernel(spark, tmp_path):
    """A crashed writer never wedges the table: the flock dies with
    its holder process (kernel-released), so the next writer acquires
    with no steal step at all — the TOCTOU a pid-file steal has (two
    waiters both read the dead pid; the slower one's unlink deletes
    the faster stealer's fresh lock) structurally cannot occur."""
    import os
    import subprocess
    import sys

    path = str(tmp_path / "stale")
    os.makedirs(path)
    lock = os.path.join(path, "_COMMIT_LOCK")
    # a real holder process takes the flock, then DIES without
    # releasing; stale diagnostic content stays in the file
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys; "
            f"fd = os.open({lock!r}, os.O_CREAT | os.O_RDWR); "
            "fcntl.flock(fd, fcntl.LOCK_EX); "
            "os.write(fd, b'999999999'); os._exit(0)",
        ],
        check=True,
    )
    assert os.path.exists(lock)
    assert V.write_version(spark.range(3).withColumnRenamed("id", "x"), path) == 1
    # the lock FILE persists by design (every waiter flocks one inode)
    assert os.path.exists(lock)


def test_live_lock_times_out_loudly(spark, tmp_path):
    import fcntl
    import os

    import pytest

    path = str(tmp_path / "held")
    os.makedirs(path)
    # a LIVE holder: flock held on another fd (flock treats separate
    # open file descriptions independently, even in one process) —
    # not stealable, must time out loudly
    fd = os.open(os.path.join(path, "_COMMIT_LOCK"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(V.CommitLockTimeout):
            V._commit(
                spark.range(1).withColumnRenamed("id", "x"),
                path,
                "full",
                lock_timeout_s=0.3,
            )
    finally:
        os.close(fd)


def test_lock_primitive_serializes_across_processes(tmp_path):
    """The lock primitive itself, raced by PROCESSES (not threads —
    same-pid threads never exercised the old steal path): N workers
    each do read-increment-write cycles on a shared counter under the
    lock; no increment is lost. No Spark involved."""
    import multiprocessing as mp
    import os

    path = str(tmp_path / "race")
    os.makedirs(path)
    counter = os.path.join(path, "counter.txt")
    with open(counter, "w") as f:
        f.write("0")

    ctx = mp.get_context("fork")
    procs = [
        ctx.Process(target=_lock_race_worker, args=(path, counter, 25))
        for _ in range(6)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
        assert p.exitcode == 0
    with open(counter) as f:
        assert int(f.read()) == 6 * 25


def _lock_race_worker(path: str, counter: str, iters: int) -> None:
    for _ in range(iters):
        fd = V._acquire_commit_lock(path, 30.0)
        try:
            with open(counter) as f:
                n = int(f.read())
            with open(counter, "w") as f:
                f.write(str(n + 1))
        finally:
            V._release_commit_lock(fd)


def test_model_based_commit_sequences(spark, tmp_path):
    """Model-based check of the whole delta-log fold: random commit
    sequences (append through each of the three writers — library,
    format batch writer, one-slice ``stage_slices`` — / delete / upsert
    / compact) against a pure
    Python multiset model — read_version must equal the model AT EVERY
    VERSION (time travel included), and applying the typed CDF to a
    cursor snapshot must reconstruct the latest table whenever no
    rewrite breaks the range."""
    import itertools

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from end_to_end_database_pipeline_project_spark.sources.versioned_source import (
        register,
    )

    register(spark)
    KEYS = list(range(6))
    rows_st = st.lists(
        st.tuples(st.sampled_from(KEYS), st.integers(0, 99)),
        min_size=1,
        max_size=4,
    )
    # an upsert's rows must be unique per key (documented contract)
    uniq_rows_st = rows_st.map(lambda rs: list({k: (k, v) for k, v in rs}.values()))
    op_st = st.one_of(
        st.tuples(st.just("append"), rows_st),
        st.tuples(st.just("fmt_append"), rows_st),
        st.tuples(st.just("slice_append"), rows_st),
        st.tuples(st.just("delete"), st.lists(st.sampled_from(KEYS), min_size=1, max_size=3)),
        st.tuples(st.just("upsert"), uniq_rows_st),
        st.tuples(st.just("compact"), st.just(None)),
    )
    counter = itertools.count()

    def run_sequence(ops):
        path = str(tmp_path / f"mb{next(counter)}")
        V.write_version(
            spark.createDataFrame([(0, 1), (1, 2)], "k long, v long"), path
        )
        model = [(0, 1), (1, 2)]
        model_at = {1: list(model)}
        for op, arg in ops:
            if op == "append":
                V.append_version(
                    spark.createDataFrame(arg, "k long, v long"), path
                )
                model = model + arg
            elif op == "fmt_append":
                spark.createDataFrame(arg, "k long, v long").write.format(
                    "versioned_table"
                ).mode("append").option("path", path).save()
                model = model + arg
            elif op == "slice_append":
                V.stage_slices(
                    spark.createDataFrame(arg, "k long, v long"),
                    path,
                    [("s", F.lit(True))],
                ).commit("s", "append")
                model = model + arg
            elif op == "delete":
                keys = sorted(set(arg))
                V.delete_version(
                    spark.createDataFrame([(k,) for k in keys], "k long"),
                    path,
                    "k",
                )
                model = [r for r in model if r[0] not in set(keys)]
            elif op == "upsert":
                V.upsert_version(
                    spark.createDataFrame(arg, "k long, v long"), path, "k"
                )
                ks = {k for k, _ in arg}
                model = [r for r in model if r[0] not in ks] + arg
            else:
                V.compact_chain(spark, path)
            model_at[V.versions(path)[-1]["version"]] = list(model)

        # every committed version still reads as its model snapshot
        for ver, want in model_at.items():
            got = sorted(
                (r.k, r.v) for r in V.read_version(spark, path, ver).collect()
            )
            assert got == sorted(want), f"v{ver}: {got} != {sorted(want)}"

        # CDF-apply reconstruction from the FIRST version, when legal
        vs = V.versions(path)
        modes = {e["version"]: e.get("mode", "full") for e in vs}
        first, last = vs[0]["version"], vs[-1]["version"]
        if first != last and not any(
            m == "full" for v, m in modes.items() if first < v <= last
        ):
            snap = {
                tuple(r): None
                for r in [
                    (r.k, r.v)
                    for r in V.read_version(spark, path, first).collect()
                ]
            }
            state = list(snap)
            cdf = V.incremental_scan(spark, path, from_version=first)
            by_ver: dict = {}
            for r in cdf.collect():
                by_ver.setdefault(r._commit_version, []).append(r)
            for ver in sorted(by_ver):
                rows = by_ver[ver]
                kinds = {r._change_type for r in rows}
                if kinds == {"delete"}:
                    dead = {r.k for r in rows}
                    state = [t for t in state if t[0] not in dead]
                elif kinds == {"upsert"}:
                    ks = {r.k for r in rows}
                    state = [t for t in state if t[0] not in ks] + [
                        (r.k, r.v) for r in rows
                    ]
                else:
                    assert kinds == {"insert"}, kinds
                    state = state + [(r.k, r.v) for r in rows]
            want = sorted(
                (r.k, r.v) for r in V.read_version(spark, path).collect()
            )
            assert sorted(state) == want, "CDF apply diverged from the table"

    @settings(
        max_examples=10 if os.environ.get("SPARK_GRAFT_STRESS") else 5,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
        derandomize=True,
    )
    @given(ops=st.lists(op_st, min_size=1, max_size=4))
    def inner(ops):
        run_sequence(ops)

    inner()


def test_caught_up_empty_delta_carries_union_schema(spark, tmp_path):
    """ADVICE r08 (low): a caught-up incremental_scan's empty frame
    must carry the chain's UNION schema — including columns added by
    schema evolution AFTER the cursor commit's physical files — so a
    consumer unioning successive syncs never breaks."""
    path = str(tmp_path / "cu")
    V.write_version(
        spark.createDataFrame([(1, "a")], "x bigint, s string"), path
    )  # v1: no 'score'
    V.append_version(
        spark.createDataFrame(
            [(2, "b", 9.0)], "x bigint, s string, score double"
        ),
        path,
    )  # v2 adds score
    V.append_version(
        spark.createDataFrame([(3, "c")], "x bigint, s string"), path
    )  # v3: physical files again LACK score
    # cursor caught up at v3: the empty delta's schema is the table's
    # schema AS OF v3 (its chain's union — includes score), not v3's
    # physical files
    empty = V.incremental_scan(spark, path, 3, 3)
    assert empty.count() == 0
    assert set(empty.columns) >= {"x", "s", "score", "_commit_version", "_change_type"}
    # a consumer unioning successive syncs never breaks
    later = V.incremental_scan(spark, path, 2, 3)
    assert set(empty.columns) >= set(later.columns)
    assert (
        empty.unionByName(later, allowMissingColumns=True).count()
        == later.count()
    )
    # caught-up at a tombstone cursor behaves the same (delete entries'
    # dirs hold only the key column)
    V.delete_version(spark.createDataFrame([(1,)], "x bigint"), path, "x")  # v4
    tomb_empty = V.incremental_scan(spark, path, 4, 4)
    assert tomb_empty.count() == 0
    assert set(tomb_empty.columns) >= {"x", "s", "score"}


def test_partitioned_commit_prunes_partition_dirs(spark, tmp_path):
    """VERDICT r08 #3: a hive-partitioned commit records its partition
    dirs in the manifest; a prune on the partition column reads ONLY
    the overlapping dirs (inputFiles-pinned) — one partition dir per
    commit at 100 TB, not every live file's footer."""
    path = str(tmp_path / "pt")
    df = spark.range(100).selectExpr(
        "id AS x", "CAST(id % 4 AS INT) AS bucket", "id * 2 AS val"
    )
    V.write_version(df, path, partition_by=("bucket",))
    V.append_version(
        spark.range(100, 120).selectExpr(
            "id AS x", "CAST(id % 4 AS INT) AS bucket", "id * 2 AS val"
        ),
        path,
        partition_by=("bucket",),
    )
    e = V.versions(path)[0]
    assert e["partition_by"] == ["bucket"]
    assert sorted(e["partition_dirs"]) == [f"bucket={i}" for i in range(4)]

    pruned = V.read_version(spark, path, prune=("bucket", 2, 2))
    got = sorted(r.x for r in pruned.collect())
    assert got == [x for x in range(120) if x % 4 == 2]
    files = pruned.inputFiles()
    assert files and all("/bucket=2/" in f for f in files), files
    # range prune across two buckets
    rng = V.read_version(spark, path, prune=("bucket", 1, 2))
    assert all(
        "/bucket=1/" in f or "/bucket=2/" in f for f in rng.inputFiles()
    )
    # the partition column survives the basePath read with its value
    assert {r.bucket for r in pruned.collect()} == {2}
    # unpartitioned result parity: prune is a perf fact, not semantics
    full = V.read_version(spark, path)
    assert full.where("bucket = 2").count() == pruned.count()


def test_partitioned_prune_fully_empty_and_tombstones(spark, tmp_path):
    """All partition dirs pruned -> commit drops out entirely; a later
    tombstone still applies to the surviving pruned slice."""
    path = str(tmp_path / "pt2")
    df = spark.range(40).selectExpr("id AS x", "CAST(id % 2 AS INT) AS b")
    V.write_version(df, path, partition_by=("b",))
    V.append_version(
        spark.range(40, 50).selectExpr("id AS x", "CAST(0 AS INT) AS b"),
        path,
        partition_by=("b",),
    )  # v2: only b=0 rows
    V.delete_version(spark.createDataFrame([(0,), (41,)], "x long"), path, "x")
    pruned = V.read_version(spark, path, prune=("b", 0, 0))
    got = sorted(r.x for r in pruned.collect())
    want = sorted(
        x for x in list(range(0, 40, 2)) + list(range(40, 50)) if x not in (0, 41)
    )
    assert got == want
    # prune to a value no commit has: empty, schema intact
    none = V.read_version(spark, path, prune=("b", 7, 9))
    assert none.count() == 0
    assert set(none.columns) == {"x", "b"}


def test_incremental_scan_prune_scopes_the_feed(spark, tmp_path):
    """CDF prune contract: append rows filter/skip by the column;
    delete and upsert commits prune ONLY on their key column (a key is
    identical in old and new images), else they ship whole."""
    path = str(tmp_path / "cdfp")
    df = spark.range(20).selectExpr(
        "id AS x", "CAST(id % 2 AS INT) AS b", "id * 1.0 AS v"
    )
    V.write_version(df, path, partition_by=("b",))
    V.append_version(
        spark.range(20, 30).selectExpr(
            "id AS x", "CAST(id % 2 AS INT) AS b", "id * 1.0 AS v"
        ),
        path,
        partition_by=("b",),
    )  # v2
    V.delete_version(spark.createDataFrame([(3,), (22,)], "x long"), path, "x")  # v3
    V.upsert_version(
        spark.createDataFrame([(4, 1, 99.0)], "x long, b int, v double"),
        path,
        "x",
    )  # v4: moves x=4 from b=0 to b=1

    # prune on the partition column b: append rows filtered; delete and
    # upsert commits delivered WHOLE (b is not their key)
    feed = V.incremental_scan(spark, path, 1, prune=("b", 0, 0))
    by_type = {
        ct: sorted(
            r.x for r in feed.where(f"_change_type = '{ct}'").collect()
        )
        for ct in ("insert", "delete", "upsert")
    }
    assert by_type["insert"] == [20, 22, 24, 26, 28]
    assert by_type["delete"] == [3, 22], "deletes ship whole on non-key prune"
    assert by_type["upsert"] == [4], "upserts ship whole on non-key prune"
    # prune on the KEY column: delete/upsert commits may skip/filter
    keyed = V.incremental_scan(spark, path, 1, prune=("x", 20, 25))
    kt = {
        ct: sorted(
            r.x for r in keyed.where(f"_change_type = '{ct}'").collect()
        )
        for ct in ("insert", "delete", "upsert")
    }
    assert kt["insert"] == [20, 21, 22, 23, 24, 25]
    assert kt["delete"] == [22]
    assert kt["upsert"] == []
    # fully-pruned range: empty frame, stamped schema
    empty = V.incremental_scan(spark, path, 1, prune=("x", 1000, 2000))
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_compact_chain_can_repartition(spark, tmp_path):
    path = str(tmp_path / "cpt")
    V.write_version(
        spark.range(30).selectExpr("id AS x", "CAST(id % 3 AS INT) AS b"), path
    )
    V.append_version(
        spark.range(30, 36).selectExpr("id AS x", "CAST(id % 3 AS INT) AS b"),
        path,
    )
    v = V.compact_chain(spark, path, partition_by=("b",))
    e = [x for x in V.versions(path) if x["version"] == v][0]
    assert e["partition_by"] == ["b"]
    assert len(e["partition_dirs"]) == 3
    pruned = V.read_version(spark, path, prune=("b", 1, 1))
    assert sorted(r.x for r in pruned.collect()) == [
        x for x in range(36) if x % 3 == 1
    ]
    assert all("/b=1/" in f for f in pruned.inputFiles())


def test_rename_column_metadata_only_commit(spark, tmp_path):
    """VERDICT r08 #6: rename is a metadata-only commit — no data
    rewrite — and chain readers map commits written before the rename
    to the current name; time travel to a pre-rename version still
    shows the then-current name."""
    import os as _os

    path = str(tmp_path / "rn")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "x bigint, s string"), path
    )  # v1
    V.append_version(spark.createDataFrame([(3, "c")], "x bigint, s string"), path)  # v2
    v = V.rename_column(spark, path, "s", "label")  # v3: metadata only
    assert v == 3
    assert [e["mode"] for e in V.versions(path)] == ["full", "append", "rename"]
    assert not _os.path.exists(_os.path.join(path, "v=3"))
    V.append_version(
        spark.createDataFrame([(4, "d")], "x bigint, label string"), path
    )  # v4: written with the NEW name
    cur = V.read_version(spark, path)
    assert set(cur.columns) == {"x", "label"}
    assert sorted((r.x, r.label) for r in cur.collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
        (4, "d"),
    ]
    # time travel: schema as of that version
    old = V.read_version(spark, path, 2)
    assert set(old.columns) == {"x", "s"}
    # history surfaces the metadata commit
    h = {r.version: r.commit_mode for r in V.history(spark, path).collect()}
    assert h[3] == "rename"


def test_rename_interacts_with_tombstones_both_sides(spark, tmp_path):
    """A tombstone committed BEFORE a key rename still anti-joins the
    renamed chain; one committed AFTER uses the new name directly."""
    path = str(tmp_path / "rnt")
    V.write_version(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id bigint, s string"
        ),
        path,
    )
    V.delete_version(spark.createDataFrame([(2,)], "id bigint"), path, "id")  # pre
    V.rename_column(spark, path, "id", "key_id")
    V.delete_version(
        spark.createDataFrame([(3,)], "key_id bigint"), path, "key_id"
    )  # post
    cur = V.read_version(spark, path)
    assert set(cur.columns) == {"key_id", "s"}
    assert sorted(r.key_id for r in cur.collect()) == [1, 4]
    # upsert on the renamed key supersedes a pre-rename row
    V.upsert_version(
        spark.createDataFrame([(1, "A2")], "key_id bigint, s string"),
        path,
        "key_id",
    )
    assert sorted((r.key_id, r.s) for r in V.read_version(spark, path).collect()) == [
        (1, "A2"),
        (4, "d"),
    ]


def test_rename_validation_and_reuse_guard(spark, tmp_path):
    import pytest

    path = str(tmp_path / "rnv")
    V.write_version(spark.createDataFrame([(1, "a")], "x bigint, s string"), path)
    with pytest.raises(ValueError, match="no column"):
        V.rename_column(spark, path, "nope", "y")
    with pytest.raises(ValueError, match="exists"):
        V.rename_column(spark, path, "x", "s")
    V.rename_column(spark, path, "s", "t")
    # re-adding the old name then renaming it again is ambiguous to
    # fold within one chain: refused until a compaction resets it
    V.append_version(
        spark.createDataFrame([(2, "b", "new_s")], "x bigint, t string, s string"),
        path,
    )
    with pytest.raises(ValueError, match="compact"):
        V.rename_column(spark, path, "s", "u")
    V.compact_chain(spark, path)
    assert V.rename_column(spark, path, "s", "u") > 0
    assert set(V.read_version(spark, path).columns) == {"x", "t", "u"}


def test_prune_and_cdf_across_rename(spark, tmp_path):
    """Prune bounds arrive in CURRENT names and translate back to each
    commit's at-commit stats/partition names; CDF rows come out in
    as-of-end names."""
    path = str(tmp_path / "rnp")
    df = spark.range(10).selectExpr("id AS x", "CAST(id % 2 AS INT) AS b")
    V.write_version(df, path, stats_cols=("x",), partition_by=("b",))
    V.rename_column(spark, path, "b", "bucket")
    V.append_version(
        spark.range(10, 14).selectExpr(
            "id AS x", "CAST(id % 2 AS INT) AS bucket"
        ),
        path,
        stats_cols=("x",),
        partition_by=("bucket",),
    )
    pruned = V.read_version(spark, path, prune=("bucket", 1, 1))
    assert sorted(r.x for r in pruned.collect()) == [
        x for x in range(14) if x % 2 == 1
    ]
    # partition-dir pruning held on BOTH sides of the rename
    assert all(
        "/b=1/" in f or "/bucket=1/" in f for f in pruned.inputFiles()
    )
    # stats prune on a non-partition column still works across commits
    xr = V.read_version(spark, path, prune=("x", 10, 12))
    assert sorted(r.x for r in xr.collect()) == [10, 11, 12]
    # CDF emits current names
    feed = V.incremental_scan(spark, path, 1)
    assert "bucket" in feed.columns and "b" not in feed.columns
    assert sorted(
        r.x for r in feed.where("_change_type = 'insert'").collect()
    ) == [10, 11, 12, 13]


def test_union_type_widening_in_chain_read(spark, tmp_path):
    """int→long and float→double widen at the union (Spark's set-op
    type coercion): a commit written narrow reads wide."""
    path = str(tmp_path / "wd")
    V.write_version(
        spark.createDataFrame([(1, 1.5)], "x int, v float"), path
    )
    V.append_version(
        spark.createDataFrame([(2**40, 2.5)], "x long, v double"), path
    )
    cur = V.read_version(spark, path)
    dt = dict(cur.dtypes)
    assert dt["x"] == "bigint" and dt["v"] == "double"
    assert sorted(r.x for r in cur.collect()) == [1, 2**40]


def test_commit_stages_outside_lock_and_vacuum_sweeps_staging(spark, tmp_path):
    """The commit's critical section is O(manifest): data lands under
    _staging-* BEFORE the lock (concurrent writers' Spark writes
    overlap instead of convoying), and a crashed writer's staging
    bundle is invisible to readers and swept by vacuum's grace pass."""
    import os as _os

    path = str(tmp_path / "stg")
    V.write_version(spark.range(5).withColumnRenamed("id", "x"), path)
    # no staging litter after a successful commit
    assert not [d for d in _os.listdir(path) if d.startswith("_staging-")]
    # simulate a crashed writer's leftover stage
    orphan = _os.path.join(path, "_staging-deadbeef")
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "part-x.parquet"), "wb") as f:
        f.write(b"junk")
    # invisible to readers and to the manifest
    assert V.read_version(spark, path).count() == 5
    assert [e["version"] for e in V.versions(path)] == [1]
    # a new commit is NOT confused by the orphan
    V.append_version(spark.range(5, 8).withColumnRenamed("id", "x"), path)
    assert V.read_version(spark, path).count() == 8
    # vacuum: young stages survive (grace), old ones sweep
    V.expire_versions(path, retain_last=2, staging_grace_s=10_000)
    assert _os.path.exists(orphan)
    _os.utime(orphan, (1, 1))  # pretend it is ancient
    V.expire_versions(path, retain_last=2, staging_grace_s=10_000)
    assert not _os.path.exists(orphan)


def test_failed_commit_leaves_no_staging_litter(spark, tmp_path):
    """A commit that fails validation (append without base) cleans its
    staging bundle."""
    import os as _os

    path = str(tmp_path / "fail")
    _os.makedirs(path)
    try:
        V._commit(spark.range(3).withColumnRenamed("id", "x"), path, "append")
        raise AssertionError("append without base must fail")
    except ValueError:
        pass
    assert not [d for d in _os.listdir(path) if d.startswith("_staging-")]
    assert V.versions(path) == []


def test_model_based_rename_partition_sequences(spark, tmp_path):
    """Model-based check of the schema-evolution surface on top of the
    delta-log fold: random sequences of append/delete/upsert (each
    optionally hive-PARTITIONED, with stats), metadata-only RENAME and
    DROP/RE-ADD commits and compaction, against a pure Python model
    that tracks rows, the value column's name, and an auxiliary
    column's lifecycle per version. Checks, per sequence: the latest
    read (rows + current schema), time travel (then-current schema,
    pre-drop values intact), partition-pruned and stats-pruned reads
    (filter semantics), and CDF reconstruction in as-of-end names."""
    import itertools

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from end_to_end_database_pipeline_project_spark.sources.versioned_source import (
        register,
    )

    register(spark)
    KEYS = list(range(6))
    NAME_POOL = ["w1", "w2", "w3"]
    rows_st = st.lists(
        st.tuples(st.sampled_from(KEYS), st.integers(0, 99)),
        min_size=1,
        max_size=3,
    )
    uniq_rows_st = rows_st.map(
        lambda rs: list({k: (k, v) for k, v in rs}.values())
    )
    op_st = st.one_of(
        st.tuples(st.just("append"), st.tuples(rows_st, st.booleans())),
        st.tuples(
            st.just("delete"),
            st.lists(st.sampled_from(KEYS), min_size=1, max_size=2),
        ),
        st.tuples(st.just("upsert"), uniq_rows_st),
        st.tuples(st.just("rename"), st.just(None)),
        st.tuples(st.just("drop"), st.just(None)),
        st.tuples(st.just("compact"), st.booleans()),
    )
    counter = itertools.count()

    def run_sequence(ops):
        path = str(tmp_path / f"mbr{next(counter)}")
        name = "val"
        aux_alive = True  # the droppable 'aux' column's lifecycle

        def mk(rows, colname, with_aux):
            if with_aux:
                return spark.createDataFrame(
                    [(k, k % 2, v, v * 10) for k, v in rows],
                    f"k long, b int, {colname} long, aux long",
                )
            return spark.createDataFrame(
                [(k, k % 2, v) for k, v in rows],
                f"k long, b int, {colname} long",
            )

        def aux_of(v):
            return v * 10 if aux_alive else None

        V.write_version(
            mk([(0, 1), (1, 2), (2, 3)], name, True),
            path,
            stats_cols=("k",),
            partition_by=("b",),
        )
        # model rows: (k, v, aux_value_as_currently_visible)
        model = [(0, 1, 10), (1, 2, 20), (2, 3, 30)]
        snap = {1: (list(model), name, aux_alive)}
        unused = list(NAME_POOL)
        for op, arg in ops:
            if op == "append":
                rows, parted = arg
                V.append_version(
                    mk(rows, name, aux_alive),
                    path,
                    stats_cols=("k",),
                    partition_by=("b",) if parted else (),
                )
                model = model + [(k, v, aux_of(v)) for k, v in rows]
            elif op == "delete":
                keys = sorted(set(arg))
                V.delete_version(
                    spark.createDataFrame([(k,) for k in keys], "k long"),
                    path,
                    "k",
                )
                model = [r for r in model if r[0] not in set(keys)]
            elif op == "upsert":
                V.upsert_version(mk(arg, name, aux_alive), path, "k")
                ks = {k for k, _ in arg}
                model = [r for r in model if r[0] not in ks] + [
                    (k, v, aux_of(v)) for k, v in arg
                ]
            elif op == "rename":
                if not unused:
                    continue
                new = unused.pop(0)
                V.rename_column(spark, path, name, new)
                name = new
            elif op == "drop":
                if aux_alive:
                    V.drop_column(spark, path, "aux")
                    aux_alive = False
                    # visible aux values vanish for EVERY existing row
                    model = [(k, v, None) for k, v, _a in model]
                else:
                    # RE-ADD the dropped name as a fresh lineage
                    aux_alive = True
                    V.append_version(mk([(5, 50)], name, True), path)
                    model = model + [(5, 50, 500)]
            else:
                V.compact_chain(
                    spark,
                    path,
                    stats_cols=("k",),
                    partition_by=("b",) if arg else (),
                )
            snap[V.versions(path)[-1]["version"]] = (
                list(model),
                name,
                aux_alive,
            )

        def rows_of(df, nm, with_aux):
            if with_aux:
                return sorted(
                    (r.k, r[nm], r["aux"]) for r in df.collect()
                )
            return sorted((r.k, r[nm], None) for r in df.collect())

        # latest read: rows + current schema (aux present iff alive)
        cur = V.read_version(spark, path)
        want_cols = {"k", "b", name} | ({"aux"} if aux_alive else set())
        assert set(cur.columns) == want_cols
        assert rows_of(cur, name, aux_alive) == sorted(model)

        # time travel shows each version under its then-current schema
        # (pre-drop versions keep their aux VALUES — never rewritten)
        for ver, (want, nm, alive) in snap.items():
            df = V.read_version(spark, path, ver)
            assert nm in df.columns, f"v{ver} must carry {nm}"
            assert ("aux" in df.columns) == alive, f"v{ver} aux presence"
            assert rows_of(df, nm, alive) == sorted(want)

        # partition-pruned and stats-pruned reads == model filters
        b0 = V.read_version(spark, path, prune=("b", 0, 0))
        assert rows_of(b0, name, aux_alive) == sorted(
            r for r in model if r[0] % 2 == 0
        )
        kr = V.read_version(spark, path, prune=("k", 2, 4))
        assert rows_of(kr, name, aux_alive) == sorted(
            r for r in model if 2 <= r[0] <= 4
        )

        # CDF reconstruction from the base, in as-of-end names (aux
        # tracked only while alive as-of-end — dropped lineages are
        # excluded from every change row), when no rewrite breaks the
        # range
        vs = V.versions(path)
        if len(vs) > 1 and not any(
            e.get("mode", "full") == "full" for e in vs[1:]
        ):
            cdf = V.incremental_scan(spark, path, from_version=1)
            # a dropped-as-of-end lineage never leaks into change rows
            # (presence when alive depends on the range's commit kinds:
            # delete-only ranges carry just the key)
            if not aux_alive:
                assert "aux" not in cdf.columns
            base = V.read_version(spark, path, 1)

            def kv(r):
                return (r.k, r[name])

            state = [(r.k, r["val"]) for r in base.collect()]
            by_ver: dict = {}
            for r in cdf.collect():
                by_ver.setdefault(r._commit_version, []).append(r)
            for ver in sorted(by_ver):
                rows = by_ver[ver]
                kinds = {r._change_type for r in rows}
                if kinds == {"delete"}:
                    dead = {r.k for r in rows}
                    state = [t for t in state if t[0] not in dead]
                elif kinds == {"upsert"}:
                    ks = {r.k for r in rows}
                    state = [t for t in state if t[0] not in ks] + [
                        kv(r) for r in rows
                    ]
                else:
                    assert kinds == {"insert"}, kinds
                    state = state + [kv(r) for r in rows]
            assert sorted(state) == sorted((k, v) for k, v, _a in model)

    @settings(
        max_examples=8 if os.environ.get("SPARK_GRAFT_STRESS") else 4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
        derandomize=True,
    )
    @given(ops=st.lists(op_st, min_size=1, max_size=4))
    def inner(ops):
        run_sequence(ops)

    inner()


def test_multi_level_and_null_partitions(spark, tmp_path):
    """Nested partition_by (two levels) records 'a=1/b=2'-style dirs;
    a NULL partition value lands under __HIVE_DEFAULT_PARTITION__ and
    is provably outside any prune range (BETWEEN drops NULLs)."""
    path = str(tmp_path / "ml")
    df = spark.createDataFrame(
        [(1, 0, "x", 1.0), (2, 0, "y", 2.0), (3, 1, "x", 3.0), (4, None, "x", 4.0)],
        "k long, a int, b string, v double",
    )
    V.write_version(df, path, partition_by=("a", "b"))
    e = V.versions(path)[0]
    assert e["partition_by"] == ["a", "b"]
    assert any("/" in d for d in e["partition_dirs"]), e["partition_dirs"]
    assert any("__HIVE_DEFAULT_PARTITION__" in d for d in e["partition_dirs"])
    # prune on the OUTER key
    a0 = V.read_version(spark, path, prune=("a", 0, 0))
    assert sorted(r.k for r in a0.collect()) == [1, 2]
    assert all("/a=0/" in f for f in a0.inputFiles())
    # prune on the INNER key spans outer dirs (incl. the a=NULL dir,
    # whose b really is 'x')
    bx = V.read_version(spark, path, prune=("b", "x", "x"))
    assert sorted(r.k for r in bx.collect()) == [1, 3, 4]
    assert all("/b=x/" in f for f in bx.inputFiles())
    # prune on the OUTER key excludes the NULL-partition row (BETWEEN
    # drops NULLs; the dir is skipped without being opened)
    assert 4 not in {r.k for r in a0.collect()}
    # the NULL-partition row is visible unpruned
    assert sorted(
        r.k for r in V.read_version(spark, path).collect()
    ) == [1, 2, 3, 4]


def test_empty_partitioned_commit_stays_readable(spark, tmp_path):
    """An empty DataFrame committed with partition_by lands a flat
    schema-bearing file (a partitioned write of nothing produces no
    files at all) — the version and every chain through it stay
    readable."""
    path = str(tmp_path / "ep")
    empty = spark.createDataFrame([], "x long, b int")
    V.write_version(empty, path, partition_by=("b",))
    assert V.read_version(spark, path).count() == 0
    assert set(V.read_version(spark, path).columns) == {"x", "b"}
    V.append_version(
        spark.createDataFrame([(1, 0)], "x long, b int"),
        path,
        partition_by=("b",),
    )
    assert sorted(r.x for r in V.read_version(spark, path).collect()) == [1]
    V.append_version(empty, path, partition_by=("b",))  # empty delta
    assert V.read_version(spark, path).count() == 1
    # CDF across the empty delta
    feed = V.incremental_scan(spark, path, 1)
    assert sorted(r.x for r in feed.where("x IS NOT NULL").collect()) == [1]


def test_file_level_stats_skipping_in_library_read(spark, tmp_path):
    """Per-file [min, max] in the manifest (Delta's stats-per-file):
    a range-clustered commit serves a slice from only the overlapping
    FILES — inputFiles-pinned — while an unclustered commit degrades
    to read+filter, never wrong answers."""
    path = str(tmp_path / "fs")
    df = (
        spark.range(1000)
        .selectExpr("id AS x", "id * 2 AS v")
        .repartitionByRange(4, "x")
        .sortWithinPartitions("x")
    )
    V.write_version(df, path, stats_cols=("x",))
    e = V.versions(path)[0]
    assert "file_stats" in e and len(e["file_stats"]) == 4
    for st in e["file_stats"].values():
        assert set(st) == {"x"} and st["x"]["min"] <= st["x"]["max"]

    pruned = V.read_version(spark, path, prune=("x", 100, 120))
    assert sorted(r.x for r in pruned.collect()) == list(range(100, 121))
    files = pruned.inputFiles()
    assert len(files) < 4 and files, (
        "slice must touch only the overlapping files"
    )
    # commit-level stats still roll up from the file stats
    assert e["stats"]["x"] == {"min": 0, "max": 999}
    # a fully-out-of-range prune drops the commit without reading
    assert V.read_version(spark, path, prune=("x", 5000, 6000)).count() == 0


def test_file_skipping_composes_with_chain_and_rename(spark, tmp_path):
    """File-level skipping per commit composes with the chain fold,
    tombstones and renames."""
    path = str(tmp_path / "fsc")
    mk = lambda lo, hi, col: (
        spark.range(lo, hi)
        .selectExpr(f"id AS {col}", "id % 7 AS v")
        .repartitionByRange(3, col)
        .sortWithinPartitions(col)
    )
    V.write_version(mk(0, 300, "x"), path, stats_cols=("x",))
    V.append_version(mk(300, 600, "x"), path, stats_cols=("x",))
    V.delete_version(spark.createDataFrame([(150,), (450,)], "x long"), path, "x")
    V.rename_column(spark, path, "x", "key_x")
    pruned = V.read_version(spark, path, prune=("key_x", 140, 160))
    got = sorted(r.key_x for r in pruned.collect())
    assert got == [k for k in range(140, 161) if k != 150]
    # both commits contribute at most a subset of their 3 files
    data_files = [f for f in pruned.inputFiles() if "/v=3/" not in f]
    assert 0 < len(data_files) < 6


def test_zorder_commit_skips_files_in_both_dims(spark, tmp_path):
    """Composition: a Z-ORDERED commit + per-file manifest stats =
    two-dimensional file skipping through the versioned table (the
    OPTIMIZE ZORDER pattern). A linear sort skips only on its leading
    column; the Morton layout must prune meaningfully on BOTH."""
    from pyspark.sql import functions as F

    from end_to_end_database_pipeline_project_spark.operators.layout import (
        morton_key,
    )

    path = str(tmp_path / "z")
    n = 64
    grid = spark.range(n * n).selectExpr(
        f"CAST(id % {n} AS LONG) AS x", f"CAST(id DIV {n} AS LONG) AS y"
    )
    # 16-bit ranks over the known [0, 63] domain, then Morton interleave
    keyed = grid.withColumn(
        "_z",
        morton_key(
            (F.col("x") * F.lit((1 << 16) - 1) / F.lit(n - 1)).cast("long"),
            (F.col("y") * F.lit((1 << 16) - 1) / F.lit(n - 1)).cast("long"),
        ),
    )
    clustered = (
        keyed.repartitionByRange(16, "_z").sortWithinPartitions("_z").drop("_z")
    )
    V.write_version(clustered, path, stats_cols=("x", "y"))
    e = V.versions(path)[0]
    n_files = len(e["file_stats"])
    assert n_files >= 8

    for col in ("x", "y"):
        pruned = V.read_version(spark, path, prune=(col, 10, 14))
        assert pruned.count() == 5 * n
        touched = len(pruned.inputFiles())
        assert touched < n_files / 2, (
            f"z-order must skip most files on {col}: "
            f"{touched}/{n_files} touched"
        )


def test_date_typed_prune_bounds_and_date_partition_dirs(spark, tmp_path):
    """VERDICT r09 #2: ``prune`` accepts ``datetime.date`` bounds (they
    coerce to the manifest's ISO-string form instead of raising), and a
    DATE-partitioned commit — the 100-TB norm — prunes at partition-dir
    granularity (inputFiles-pinned), not only via per-file stats."""
    import datetime

    path = str(tmp_path / "dt")
    df = spark.range(90).selectExpr(
        "id AS x",
        "DATE_ADD(DATE'2020-06-01', CAST(id % 9 AS INT)) AS day",
    )
    V.write_version(df, path, partition_by=("day",))
    V.append_version(
        spark.range(90, 120).selectExpr(
            "id AS x",
            "DATE_ADD(DATE'2020-06-01', CAST(id % 9 AS INT)) AS day",
        ),
        path,
        partition_by=("day",),
    )
    lo, hi = datetime.date(2020, 6, 3), datetime.date(2020, 6, 4)
    pruned = V.read_version(spark, path, prune=("day", lo, hi))
    got = sorted(r.x for r in pruned.collect())
    assert got == [x for x in range(120) if x % 9 in (2, 3)]
    files = pruned.inputFiles()
    assert files and all(
        "/day=2020-06-03/" in f or "/day=2020-06-04/" in f for f in files
    ), files
    # ISO-string bounds still work (the documented contract)
    s = V.read_version(spark, path, prune=("day", "2020-06-03", "2020-06-04"))
    assert sorted(r.x for r in s.collect()) == got
    # commit-level stats prune with date bounds: a disjoint range reads
    # nothing (both commits skipped via stats recorded as ISO strings)
    V2 = str(tmp_path / "dt2")
    V.write_version(df, V2, stats_cols=("day",))
    empty = V.read_version(
        spark, V2, prune=("day", datetime.date(2021, 1, 1), datetime.date(2021, 2, 1))
    )
    assert empty.count() == 0 and not empty.inputFiles()
    # incremental_scan takes date bounds too
    cdf = V.incremental_scan(spark, path, 1, prune=("day", lo, hi))
    assert sorted(r.x for r in cdf.collect()) == [
        x for x in range(90, 120) if x % 9 in (2, 3)
    ]


def test_stat_value_normalizes_tz_aware_timestamps():
    """ADVICE r09: tz-aware datetimes serialize as NAIVE UTC ISO
    strings, the same form collect()-sourced naive stats take — mixed
    forms would break the lexicographic-order invariant the pruning
    comparisons rely on."""
    import datetime

    utc = datetime.timezone.utc
    est = datetime.timezone(datetime.timedelta(hours=-5))
    naive = datetime.datetime(2020, 6, 30, 0, 0, 0)
    assert V._stat_value(naive) == "2020-06-30T00:00:00"
    assert V._stat_value(naive.replace(tzinfo=utc)) == "2020-06-30T00:00:00"
    assert (
        V._stat_value(datetime.datetime(2020, 6, 29, 19, 0, 0, tzinfo=est))
        == "2020-06-30T00:00:00"
    )
    assert V._stat_value(datetime.date(2020, 6, 30)) == "2020-06-30"


def test_partition_dir_overlap_temporal_forms():
    """Hive timestamp dirs use a space separator; the skipping rule
    (`_keeps`) parses them (lexicographic would mis-order ' ' vs 'T'),
    and a DATE dir covers its whole day against timestamp bounds."""
    import datetime

    def f(rel_dir, col, lo, hi):
        rec = V._hive_stat(V._partition_value(rel_dir, col))
        return V._keeps(rec, ((">=", lo), ("<=", hi)))

    # date dirs vs date bounds
    assert f("day=2020-06-03", "day", "2020-06-03", "2020-06-04")
    assert not f("day=2020-06-02", "day", "2020-06-03", "2020-06-04")
    # timestamp dir with space separator vs 'T'-form bounds: 10:00 is
    # inside [09:00, 11:00] even though ' ' < 'T' lexicographically
    assert f(
        "ts=2020-06-01 10%3A00%3A00".replace("%3A", ":"),
        "ts",
        "2020-06-01T09:00:00",
        "2020-06-01T11:00:00",
    )
    assert not f(
        "ts=2020-06-01 12:00:00", "ts", "2020-06-01T09:00:00", "2020-06-01T11:00:00"
    )
    # a date dir is NOT prunable by a mid-day timestamp range within it
    assert f("day=2020-06-01", "day", "2020-06-01T10:00:00", "2020-06-01T11:00:00")
    # plain strings still compare as strings
    assert f("r=ASIA", "r", "AFRICA", "EUROPE")
    assert not f("r=MIDEAST", "r", "AFRICA", "EUROPE")
    # the same dirs against typed date/datetime bounds
    d, ts = datetime.date, datetime.datetime
    assert f("day=2020-06-03", "day", d(2020, 6, 3), d(2020, 6, 4))
    assert not f("day=2020-06-02", "day", d(2020, 6, 3), d(2020, 6, 4))
    assert f("ts=2020-06-01 10:00:00", "ts", ts(2020, 6, 1, 9), ts(2020, 6, 1, 11))
    assert not f(
        "ts=2020-06-01 12:00:00", "ts", ts(2020, 6, 1, 9), ts(2020, 6, 1, 11)
    )
    assert f("day=2020-06-01", "day", ts(2020, 6, 1, 10), ts(2020, 6, 1, 11))


def test_drop_column_metadata_only_commit(spark, tmp_path):
    """VERDICT r09 #4: a column DROP is a metadata-only commit (no
    data rewrite); chain reads exclude it, time travel keeps pre-drop
    versions intact, CDF emits as-of-end schema, and compaction
    materializes the drop physically."""
    import os

    path = str(tmp_path / "dc")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "x long, s string, score double"
    )
    V.write_version(df, path)  # v1
    v = V.drop_column(spark, path, "score")  # v2: metadata-only
    e = V.versions(path)[-1]
    assert e["mode"] == "drop" and e["drops"] == ["score"] and e["dir"] is None
    # no new data directory appeared
    assert not os.path.exists(os.path.join(path, f"v={v}"))

    cur = V.read_version(spark, path)
    assert set(cur.columns) == {"x", "s"}
    assert sorted((r.x, r.s) for r in cur.collect()) == [(1, "a"), (2, "b")]
    # time travel: pre-drop version still carries the column
    old = V.read_version(spark, path, 1)
    assert set(old.columns) == {"x", "s", "score"}
    # appends after the drop don't resurrect it
    V.append_version(spark.createDataFrame([(3, "c")], "x long, s string"), path)
    assert set(V.read_version(spark, path).columns) == {"x", "s"}
    # CDF across the drop: metadata commits emit nothing; appends come
    # out in as-of-end schema
    cdf = V.incremental_scan(spark, path, 1)
    assert set(cdf.columns) == {"x", "s", "_commit_version", "_change_type"}
    assert [r.x for r in cdf.collect()] == [3]
    # compaction materializes the drop: new base has no trace
    V.compact_chain(spark, path)
    base = spark.read.parquet(os.path.join(path, V.versions(path)[-1]["dir"]))
    assert set(base.columns) == {"x", "s"}


def test_drop_then_readd_is_a_fresh_lineage(spark, tmp_path):
    """A re-added same-name column never resurrects pre-drop values:
    old rows read NULL; a prune on the re-added name skips pre-drop
    commits entirely (their old values are unrelated)."""
    path = str(tmp_path / "dr")
    V.write_version(
        spark.createDataFrame([(1, 111), (2, 222)], "x long, score long"), path
    )  # v1
    V.drop_column(spark, path, "score")  # v2
    V.append_version(
        spark.createDataFrame([(3, 9)], "x long, score long"),
        path,
        stats_cols=("score",),
    )  # v3: re-adds 'score' as a fresh lineage
    cur = V.read_version(spark, path)
    got = {(r.x, r.score) for r in cur.collect()}
    assert got == {(1, None), (2, None), (3, 9)}
    # prune on the re-added column: v1 predates the (new) column
    pruned = V.read_version(spark, path, prune=("score", 0, 100))
    assert {(r.x, r.score) for r in pruned.collect()} == {(3, 9)}
    # the old lineage's values are NOT in range-reach either
    assert V.read_version(spark, path, prune=("score", 100, 300)).count() == 0


def test_drop_column_validation_and_key_guard(spark, tmp_path):
    """Refusals are loud: unknown column, dropping everything, and
    dropping a merge-on-read KEY the chain's anti-joins still need
    (compact first); after compaction the drop proceeds."""
    import pytest

    path = str(tmp_path / "dg")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "x long, s string"), path
    )
    V.delete_version(spark.createDataFrame([(2,)], "x long"), path, "x")
    with pytest.raises(ValueError, match="no column"):
        V.drop_column(spark, path, "nope")
    with pytest.raises(ValueError, match="at least one column"):
        V.drop_column(spark, path, "x", "s")
    with pytest.raises(ValueError, match="merge-on-read"):
        V.drop_column(spark, path, "x")
    V.compact_chain(spark, path)
    V.drop_column(spark, path, "x")  # tombstone materialized away: OK
    assert V.read_version(spark, path).columns == ["s"]


def test_drop_interacts_with_rename_both_orders(spark, tmp_path):
    """Rename-then-drop hits the renamed lineage; a rename may reuse a
    just-dropped name as its TARGET (drop frees the name first)."""
    path = str(tmp_path / "drn")
    V.write_version(
        spark.createDataFrame([(1, "a", 5)], "x long, s string, old int"), path
    )
    V.rename_column(spark, path, "old", "tmp")
    V.drop_column(spark, path, "tmp")
    assert set(V.read_version(spark, path).columns) == {"x", "s"}
    # drop freed 's'? no — drop 's', then rename x -> s reuses the name
    V.drop_column(spark, path, "s")
    V.rename_column(spark, path, "x", "s")
    cur = V.read_version(spark, path)
    assert cur.columns == ["s"]
    assert [r.s for r in cur.collect()] == [1]


def test_maybe_compact_bounds_plan_depth_over_200_commits(spark, tmp_path):
    """VERDICT r09 #5: `read_version` stacks one scan/union node per
    chain entry, so an unbounded delta log is an unbounded plan.
    `maybe_compact(max_chain=N)` wired at commit cadence caps the
    chain — over 200 streaming-sized commits the chain never exceeds
    N+1 entries, the optimized plan stays bounded, and content equals
    the uncompacted fold (compaction is content-preserving)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "mc")
    MAX_CHAIN = 40
    V.write_version(spark.createDataFrame([(0,)], "x long"), path)
    compactions = 0
    max_seen = 0
    scratch = str(tmp_path / "stage")
    os.makedirs(scratch)
    for i in range(1, 201):
        # streaming-sized appends through adopt_staged_files (the
        # format writers' commit path) — same manifest/lock protocol
        # as append_version without paying a Spark write job per
        # commit, so all 200 commits stay in the default run
        f = os.path.join(scratch, f"c{i}.parquet")
        pq.write_table(pa.table({"x": pa.array([i], pa.int64())}), f)
        V.adopt_staged_files(path, [V._StagedPart(f, "", 1, {})], "append")
        if V.maybe_compact(spark, path, MAX_CHAIN) is not None:
            compactions += 1
        max_seen = max(max_seen, V.chain_length(path))
        # the envelope holds at EVERY commit, not just the end
        assert V.chain_length(path) <= MAX_CHAIN + 1
    assert compactions >= 3, "200 commits at max_chain=40 must compact"
    assert max_seen <= MAX_CHAIN + 1
    cur = V.read_version(spark, path)
    # bounded plan: the optimized tree is O(max_chain), nowhere near
    # one node per historical commit
    plan_lines = cur._jdf.queryExecution().optimizedPlan().toString().count("\n")
    assert plan_lines <= 4 * (MAX_CHAIN + 2), f"plan too deep: {plan_lines}"
    assert sorted(r.x for r in cur.collect()) == list(range(201))
    # historical versions stay addressable until expire_versions
    assert V.read_version(spark, path, 1).count() == 1


# --- CommitCoordinator seam (VERDICT r10 "What's missing #4") ---------


def _adopt_race_worker(table: str, scratch: str, barrier, worker: int) -> None:
    """One writer process: stage a 1-row parquet file (pyarrow — no
    Spark in the workers), then run the FULL commit protocol
    (`adopt_staged_files`) concurrently with the other writers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = os.path.join(scratch, f"w{worker}.parquet")
    pq.write_table(pa.table({"x": pa.array([worker], pa.int64())}), f)
    barrier.wait(timeout=30)
    V.adopt_staged_files(
        table, [V._StagedPart(f, "", 1, {})], "append", {"writer": worker}
    )


def test_concurrent_process_commits_yield_consecutive_versions(
    spark, tmp_path
):
    """N writer PROCESSES race the whole commit protocol on one table:
    the manifest must end with N distinct CONSECUTIVE versions (no
    lost or duplicated slot claims) and every writer's row visible —
    the provider-contract acceptance test a put-if-absent coordinator
    must also pass."""
    import multiprocessing as mp

    table = str(tmp_path / "t")
    scratch = str(tmp_path / "scratch")
    os.makedirs(scratch)
    V.write_version(
        spark.createDataFrame([(0,)], "x long"), table
    )  # v1 base

    ctx = mp.get_context("fork")
    n = 6
    barrier = ctx.Barrier(n)
    procs = [
        ctx.Process(target=_adopt_race_worker, args=(table, scratch, barrier, w))
        for w in range(1, n + 1)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
        assert p.exitcode == 0
    vs = V.versions(table)
    assert [e["version"] for e in vs] == list(range(1, n + 2))
    assert sorted(e["writer"] for e in vs[1:]) == list(range(1, n + 1))
    got = sorted(r.x for r in V.read_version(spark, table).collect())
    assert got == list(range(0, n + 1))


class _CountingCoordinator(V.CommitCoordinator):
    """In-process provider used to pin that EVERY manifest
    read-modify-write goes through the installed seam (a provider
    swap that some path bypassed would silently forfeit serialization
    on stores where flock is a no-op)."""

    def __init__(self):
        import threading

        self.lock = threading.Lock()
        self.acquires = 0
        self.releases = 0

    def acquire(self, path: str, timeout_s: float):
        if not self.lock.acquire(timeout=timeout_s):
            raise V.CommitLockTimeout(path)
        self.acquires += 1
        return ("held", path)

    def release(self, handle) -> None:
        self.releases += 1
        self.lock.release()


def test_installed_coordinator_guards_every_protocol_path(spark, tmp_path):
    table = str(tmp_path / "t")
    counting = _CountingCoordinator()
    prev = V.set_commit_coordinator(counting)
    try:
        V.write_version(
            spark.createDataFrame([(1, "a")], "x long, s string"), table
        )
        V.append_version(
            spark.createDataFrame([(2, "b")], "x long, s string"), table
        )
        V.rename_column(spark, table, "s", "label")
        V.drop_column(spark, table, "label")
        V.expire_versions(table, retain_last=10)  # no-op, still locks
    finally:
        V.set_commit_coordinator(prev)
    # commit, append, rename, drop, vacuum: five locked sections,
    # all through the seam, all released
    assert counting.acquires == 5
    assert counting.releases == 5
    got = sorted(r.x for r in V.read_version(spark, table).collect())
    assert got == [1, 2]


def _pia_race_worker(table: str, scratch: str, barrier, worker: int) -> None:
    """Full-protocol race worker under the put-if-absent provider
    (installed IN the worker: coordinators are per-process state)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    V.set_commit_coordinator(
        V.PutIfAbsentCommitCoordinator(lease_s=30.0, poll_s=0.005)
    )
    f = os.path.join(scratch, f"p{worker}.parquet")
    pq.write_table(pa.table({"x": pa.array([worker], pa.int64())}), f)
    barrier.wait(timeout=30)
    V.adopt_staged_files(
        table, [V._StagedPart(f, "", 1, {})], "append", {"writer": worker}
    )


def test_put_if_absent_coordinator_full_protocol_race(spark, tmp_path):
    """The second REAL provider (put-if-absent + lease, the
    object-store construction) passes the same acceptance test as the
    flock default: N processes racing the whole commit protocol yield
    consecutive versions, none lost."""
    import multiprocessing as mp

    table = str(tmp_path / "t")
    scratch = str(tmp_path / "scratch")
    os.makedirs(scratch)
    prev = V.set_commit_coordinator(
        V.PutIfAbsentCommitCoordinator(lease_s=30.0, poll_s=0.005)
    )
    try:
        V.write_version(spark.createDataFrame([(0,)], "x long"), table)
        ctx = mp.get_context("fork")
        n = 6
        barrier = ctx.Barrier(n)
        procs = [
            ctx.Process(
                target=_pia_race_worker, args=(table, scratch, barrier, w)
            )
            for w in range(1, n + 1)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join(60)
            assert p.exitcode == 0
        vs = V.versions(table)
        assert [e["version"] for e in vs] == list(range(1, n + 2))
        got = sorted(r.x for r in V.read_version(spark, table).collect())
        assert got == list(range(0, n + 1))
    finally:
        V.set_commit_coordinator(prev)
    # every release found its own token: no lease object leaked
    assert not os.path.exists(os.path.join(table, "_COMMIT_LEASE"))


def test_put_if_absent_expired_lease_takeover(tmp_path):
    """A crashed holder's lease frees itself: a waiter that finds an
    EXPIRED lease claims it (rename-takeover, one winner) and
    acquires; a live lease still blocks until timeout."""
    import json as _json
    import time

    path = str(tmp_path / "t")
    os.makedirs(path)
    coord = V.PutIfAbsentCommitCoordinator(lease_s=5.0, poll_s=0.01)
    lock = os.path.join(path, "_COMMIT_LEASE")
    # a dead holder's lease, expired a minute ago
    with open(lock, "w") as f:
        _json.dump({"holder": "dead", "pid": 1, "expires": time.time() - 60}, f)
    h = coord.acquire(path, timeout_s=5.0)
    assert os.path.exists(lock)
    coord.release(h)
    assert not os.path.exists(lock)
    # a LIVE lease blocks: acquire times out loudly
    with open(lock, "w") as f:
        _json.dump(
            {"holder": "alive", "pid": 1, "expires": time.time() + 300}, f
        )
    import pytest

    with pytest.raises(V.CommitLockTimeout):
        coord.acquire(path, timeout_s=0.3)
    os.unlink(lock)


def test_put_if_absent_overrun_holder_never_deletes_new_lease(tmp_path):
    """The lease-mutex honesty clause: a holder that overran its lease
    and was taken over must NOT delete the new holder's lease on
    release (the holder-token check)."""
    import json as _json
    import time

    path = str(tmp_path / "t")
    os.makedirs(path)
    coord = V.PutIfAbsentCommitCoordinator(lease_s=0.05, poll_s=0.01)
    h1 = coord.acquire(path, timeout_s=5.0)
    time.sleep(0.1)  # overrun: h1's lease expires
    h2 = coord.acquire(path, timeout_s=5.0)  # takeover
    coord.release(h1)  # stale release: must be a no-op
    lock = os.path.join(path, "_COMMIT_LEASE")
    with open(lock, encoding="utf-8") as f:
        assert _json.load(f)["holder"] == h2[1]
    coord.release(h2)
    assert not os.path.exists(lock)


def test_put_if_absent_corrupt_lease_expires_by_age(tmp_path):
    """A holder that died between create and write leaves an
    UNPARSABLE lease (no expiry): it must expire by file age, and a
    FRESH corrupt lease must still time waiters out loudly (the
    original retry path looped forever on it — r11 self-review)."""
    import time

    import pytest

    path = str(tmp_path / "t")
    os.makedirs(path)
    lock = os.path.join(path, "_COMMIT_LEASE")
    coord = V.PutIfAbsentCommitCoordinator(lease_s=0.2, poll_s=0.01)
    open(lock, "wb").close()  # empty: crashed mid-claim
    os.utime(lock, (time.time() - 60, time.time() - 60))  # old
    h = coord.acquire(path, timeout_s=5.0)
    coord.release(h)
    # fresh corrupt lease: not yet age-expired -> bounded loud timeout
    open(lock, "wb").close()
    slow = V.PutIfAbsentCommitCoordinator(lease_s=300.0, poll_s=0.01)
    with pytest.raises(V.CommitLockTimeout):
        slow.acquire(path, timeout_s=0.3)
    os.unlink(lock)


def test_put_if_absent_takeover_restores_stolen_live_lease(tmp_path):
    """Compare-and-delete emulation: when the rename captures bytes
    OTHER than the expired lease we observed (the expired holder
    released and a new claimant landed in between), the live lease is
    restored untouched; if a third claim blocks the restore, the
    takeover raises instead of letting two holders overlap."""
    import pytest

    path = str(tmp_path / "t")
    os.makedirs(path)
    lock = os.path.join(path, "_COMMIT_LEASE")
    coord = V.PutIfAbsentCommitCoordinator(lease_s=60.0, poll_s=0.01)

    live = b'{"holder": "w2", "pid": 9, "expires": 9e18}'
    with open(lock, "wb") as f:
        f.write(live)
    coord._take_over(lock, observed=b'{"holder": "w1", "expires": 0}')
    with open(lock, "rb") as f:
        assert f.read() == live  # restored byte-identical
    assert os.listdir(path) == ["_COMMIT_LEASE"]  # no tombstone left

    # restore blocked by a third claim -> loud protocol violation
    real_link = os.link

    def blocked_link(src, dst, **kw):
        raise FileExistsError(dst)

    os.link = blocked_link
    try:
        with pytest.raises(RuntimeError, match="overran its lease"):
            coord._take_over(lock, observed=b"not-the-live-lease")
    finally:
        os.link = real_link
    assert os.listdir(path) == []  # tombstone swept even on the raise
    with open(lock, "wb") as f:  # recreate for cleanliness
        pass
    os.unlink(lock)


# --- TIMESTAMP AS OF (r11: commit timestamps in the manifest) ---------


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Delta's timestampAsOf: commits stamp a monotonic
    ``committed_at``; ``version_at_timestamp`` resolves "latest commit
    at or before t"; ``read_version(as_of=...)`` and the format's
    ``timestampasof`` option (schema-less, so inference pins the as-of
    schema too) serve that snapshot."""
    import datetime
    import time

    from end_to_end_database_pipeline_project_spark.sources.versioned_source import (
        register,
    )

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, "a")], "x long, s string"), path)
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    V.append_version(
        spark.createDataFrame([(2, "b")], "x long, s string"), path
    )

    assert V.version_at_timestamp(path, mid) == 1
    assert V.version_at_timestamp(path, time.time()) == 2
    # datetime input, naive = UTC
    as_dt = datetime.datetime.fromtimestamp(mid, datetime.timezone.utc)
    assert V.version_at_timestamp(path, as_dt) == 1
    assert (
        V.version_at_timestamp(path, as_dt.replace(tzinfo=None)) == 1
    )

    got = sorted(r.x for r in V.read_version(spark, path, as_of=mid).collect())
    assert got == [1]
    # before the first retained commit: loud, never the oldest survivor
    import pytest

    with pytest.raises(ValueError, match="predates the earliest"):
        V.version_at_timestamp(path, mid - 3600)
    with pytest.raises(ValueError, match="not both"):
        V.read_version(spark, path, version=1, as_of=mid)

    register(spark)
    fmt = (
        spark.read.format("versioned_table")
        .option("path", path)
        .option("timestampasof", str(mid))
        .load()
    )
    assert sorted(r.x for r in fmt.collect()) == [1]
    iso = as_dt.replace(tzinfo=None).isoformat()
    fmt_iso = (
        spark.read.format("versioned_table")
        .option("path", path)
        .option("timestampasof", iso)
        .load()
    )
    assert sorted(r.x for r in fmt_iso.collect()) == [1]
    try:
        (
            spark.read.format("versioned_table")
            .option("path", path)
            .option("version", "1")
            .option("timestampasof", str(mid))
            .load()
            .count()
        )
        raise AssertionError("version + timestampasof must fail loudly")
    except Exception as exc:
        assert "not both" in str(exc)


def test_commit_timestamps_monotonic_history_and_legacy(spark, tmp_path):
    """Every commit path (full/append/metadata rename/drop) stamps a
    non-decreasing ``committed_at``; ``history`` exposes it as a
    timestamp column; PRE-timestamp manifest entries (legacy) read as
    NULL there and as infinitely old to as-of resolution."""
    import json as _json

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, "a")], "x long, s string"), path)
    V.append_version(
        spark.createDataFrame([(2, "b")], "x long, s string"), path
    )
    V.rename_column(spark, path, "s", "label")
    V.drop_column(spark, path, "label")
    stamps = [e["committed_at"] for e in V.versions(path)]
    assert len(stamps) == 4 and stamps == sorted(stamps)

    h = V.history(spark, path).orderBy("version").collect()
    assert [r.version for r in h] == [1, 2, 3, 4]
    assert all(r.committed_at is not None for r in h)

    # legacy entry: strip v1's stamp as a pre-r11 manifest would look
    mp = os.path.join(path, "_VERSIONS.json")
    with open(mp) as f:
        doc = _json.load(f)
    del doc["versions"][0]["committed_at"]
    with open(mp, "w") as f:
        _json.dump(doc, f)
    h0 = V.history(spark, path).orderBy("version").collect()[0]
    assert h0.committed_at is None
    # infinitely old: any timestamp before v2 still resolves to v1
    assert V.version_at_timestamp(path, stamps[1] - 0.001) == 1


def test_expire_versions_age_based_retention(spark, tmp_path):
    """`older_than_s` widens retention, never narrows it: commits
    younger than the window survive a retain_last=1 vacuum; once aged
    (manifest stamps rewritten into the past — deterministic), the
    count floor takes over."""
    import json as _json
    import time

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1,)], "x long"), path)
    V.write_version(spark.createDataFrame([(2,)], "x long"), path)
    V.write_version(spark.createDataFrame([(3,)], "x long"), path)

    # everything is seconds old: a 1-hour window keeps all three
    assert V.expire_versions(path, retain_last=1, older_than_s=3600) == []
    assert [e["version"] for e in V.versions(path)] == [1, 2, 3]

    # age v1/v2 out of the window
    mp = os.path.join(path, "_VERSIONS.json")
    with open(mp) as f:
        doc = _json.load(f)
    for e in doc["versions"][:2]:
        e["committed_at"] = time.time() - 7200
    with open(mp, "w") as f:
        _json.dump(doc, f)
    assert V.expire_versions(path, retain_last=1, older_than_s=3600) == [1, 2]
    assert [e["version"] for e in V.versions(path)] == [3]


# --- optimistic-concurrency conflict check (r11 self-review: the
# compact-vs-append data-loss race) ------------------------------------


def test_expected_head_conflict_refuses_publish(spark, tmp_path):
    """A snapshot-derived commit carrying ``expected_head`` is REFUSED
    under the lock when the manifest advanced past it — nothing
    publishes, the manifest is untouched, staging is reclaimed."""
    import pytest

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1,)], "x long"), path)  # v1
    V.append_version(spark.createDataFrame([(2,)], "x long"), path)  # v2
    with pytest.raises(V.ConcurrentCommitError, match="expected manifest head 1"):
        V.write_version(
            spark.createDataFrame([(9,)], "x long"), path, expected_head=1
        )
    assert [e["version"] for e in V.versions(path)] == [1, 2]
    assert not [
        d for d in os.listdir(path) if d.startswith("_staging-")
    ], "conflict must reclaim its staging dir"
    # matching head publishes normally
    assert (
        V.write_version(
            spark.createDataFrame([(9,)], "x long"), path, expected_head=2
        )
        == 3
    )


def test_compaction_never_loses_a_racing_append(spark, tmp_path):
    """The r11-found data-loss race, pinned: an append landing between
    compact_chain's snapshot read and its publish must NEVER vanish
    from the latest chain. The old read-then-overwrite published a
    stale full snapshot over the append; the conflict check now
    refuses it (`compact_chain` raises, `maybe_compact` yields) and
    the next trigger compacts the complete content."""
    import pytest

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1,)], "x long"), path)
    for v in (2, 3, 4, 5):
        V.append_version(spark.createDataFrame([(v,)], "x long"), path)

    real = V._publish_staged
    state = {"raced": False}

    def racing_publish(path_, staged, mode, rows, stats, meta, lock_timeout_s,
                       expected_head=None):
        if mode == "full" and not state["raced"]:
            state["raced"] = True
            # the interleaving: a writer's append lands AFTER the
            # compaction read its snapshot, BEFORE its publish
            V.append_version(
                spark.createDataFrame([(99,)], "x long"), path_
            )
        return real(path_, staged, mode, rows, stats, meta, lock_timeout_s,
                    expected_head=expected_head)

    V._publish_staged, orig = racing_publish, V._publish_staged
    try:
        # maybe_compact yields (chain 5 > 4 would compact; the race
        # refuses the stale publish) — and NOTHING is lost
        assert V.maybe_compact(spark, path, max_chain=4) is None
    finally:
        V._publish_staged = orig
    got = sorted(r.x for r in V.read_version(spark, path).collect())
    assert got == [1, 2, 3, 4, 5, 99], "racing append must survive"

    # explicit compact_chain surfaces the conflict to its caller
    state["raced"] = False
    V._publish_staged = racing_publish
    try:
        with pytest.raises(V.ConcurrentCommitError):
            V.compact_chain(spark, path)
    finally:
        V._publish_staged = orig
    got = sorted(r.x for r in V.read_version(spark, path).collect())
    assert 99 in got and 100 not in got
    # quiet retry now succeeds and the compacted snapshot is complete
    n = V.compact_chain(spark, path)
    assert V.versions(path)[-1]["version"] == n
    assert sorted(
        r.x for r in V.read_version(spark, path, version=n).collect()
    ) == [1, 2, 3, 4, 5, 99, 99]


def test_restore_version_republishes_and_preserves_history(spark, tmp_path):
    """Delta RESTORE: an earlier snapshot becomes the new head as a
    FULL commit (history preserved, lineage re-based), by version or
    by timestamp, conflict-checked against racing writers."""
    import time

    import pytest

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1,), (2,)], "x long"), path)  # v1
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    V.append_version(spark.createDataFrame([(3,)], "x long"), path)  # v2
    V.delete_version(spark.createDataFrame([(1,)], "x long"), path, "x")  # v3

    n = V.restore_version(spark, path, version=1)
    assert n == 4
    assert sorted(r.x for r in V.read_version(spark, path).collect()) == [1, 2]
    # history preserved: the superseded states stay addressable
    assert [e["version"] for e in V.versions(path)] == [1, 2, 3, 4]
    assert V.versions(path)[-1]["restored_from"] == 1
    assert sorted(
        r.x for r in V.read_version(spark, path, version=3).collect()
    ) == [2, 3]
    # restore by timestamp resolves like timestampAsOf
    n2 = V.restore_version(spark, path, as_of=mid)
    assert sorted(r.x for r in V.read_version(spark, path, version=n2).collect()) == [1, 2]
    # restore is a full commit: CDF lineage re-bases (loud across it)
    with pytest.raises(ValueError, match="rewrite"):
        V.incremental_scan(spark, path, from_version=1).collect()
    # conflict safety: a racing commit refuses a stale restore publish
    real = V._publish_staged
    state = {"raced": False}

    def racing(path_, staged, mode, rows, stats, meta, lock_timeout_s,
               expected_head=None):
        if mode == "full" and not state["raced"]:
            state["raced"] = True
            V.append_version(spark.createDataFrame([(7,)], "x long"), path_)
        return real(path_, staged, mode, rows, stats, meta, lock_timeout_s,
                    expected_head=expected_head)

    V._publish_staged = racing
    try:
        with pytest.raises(V.ConcurrentCommitError):
            V.restore_version(spark, path, version=1)
    finally:
        V._publish_staged = real
    assert 7 in {r.x for r in V.read_version(spark, path).collect()}
    with pytest.raises(ValueError, match="either version or as_of"):
        V.restore_version(spark, path, version=1, as_of=mid)


def test_expire_versions_dry_run_reports_without_changing(spark, tmp_path):
    """VACUUM DRY RUN parity: the would-expire list (chain-unit
    extension included) with NO manifest swap, directory removal, or
    staging sweep."""
    import time

    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1,)], "x long"), path)  # v1
    V.write_version(spark.createDataFrame([(2,)], "x long"), path)  # v2
    V.append_version(spark.createDataFrame([(3,)], "x long"), path)  # v3
    # an old staging orphan that a REAL vacuum would sweep
    orphan = os.path.join(path, "_staging-orphan")
    os.makedirs(orphan)
    os.utime(orphan, (time.time() - 1e6, time.time() - 1e6))

    # retain_last=2 keeps [v2, v3]; v2 is the chain base (full), so v1
    # expires — dry run reports exactly that and changes nothing
    would = V.expire_versions(path, retain_last=2, dry_run=True)
    assert would == [1]
    assert [e["version"] for e in V.versions(path)] == [1, 2, 3]
    assert os.path.isdir(os.path.join(path, "v=1"))
    assert os.path.isdir(orphan)  # dry run never sweeps staging
    # retain_last=1 would keep only v3 — but v3 is an append, so the
    # chain-unit extension keeps its v2 base too: dry run shows it
    assert V.expire_versions(path, retain_last=1, dry_run=True) == [1]
    # the real call then expires exactly what the dry run promised
    assert V.expire_versions(path, retain_last=2) == [1]
    assert [e["version"] for e in V.versions(path)] == [2, 3]
    assert not os.path.isdir(orphan)  # real vacuum swept it


# --- stage_slices: the batched scaffolding writer (r12) ---------------


def test_stage_slices_matches_sequential_commits(spark, tmp_path):
    """A chain built by stage_slices (one write job, N adoptions) must
    be indistinguishable from the sequential write/append calls it
    replaces: same per-version content, same modes, tombstones
    interleave at the right position."""
    df = spark.range(100).selectExpr("id AS x", "CAST(id % 10 AS INT) AS b")
    seq = str(tmp_path / "seq")
    V.write_version(df.where("x < 40"), seq)
    V.append_version(df.where("x >= 40 AND x < 70"), seq)
    V.delete_version(df.where("x % 7 = 0").select("x"), seq, "x")
    V.append_version(df.where("x >= 70"), seq)

    bat = str(tmp_path / "bat")
    staged = V.stage_slices(
        df,
        bat,
        [
            ("lo", F.col("x") < 40),
            ("mid", (F.col("x") >= 40) & (F.col("x") < 70)),
            ("hi", F.col("x") >= 70),
        ],
    )
    staged.commit("lo", "full")
    staged.commit("mid", "append")
    V.delete_version(df.where("x % 7 = 0").select("x"), bat, "x")
    staged.commit("hi", "append")

    assert [
        (e["version"], e.get("mode", "full"), e["rows"])
        for e in V.versions(seq)
    ] == [
        (e["version"], e.get("mode", "full"), e["rows"])
        for e in V.versions(bat)
    ]
    for v in (1, 2, 3, 4):
        assert sorted(
            (r.x, r.b) for r in V.read_version(spark, seq, v).collect()
        ) == sorted((r.x, r.b) for r in V.read_version(spark, bat, v).collect())
    # staging dir cleaned up after the last slice commits
    assert not [d for d in os.listdir(bat) if d.startswith("_staging-")]


def test_stage_slices_partitioned_layout_prunes(spark, tmp_path):
    """partition_by through stage_slices records the same manifest
    partition metadata as write_version(partition_by=...): a pruned
    read opens only the matching hive dirs."""
    df = spark.range(60).selectExpr("id AS x", "CAST(id % 3 AS INT) AS b")
    path = str(tmp_path / "p")
    staged = V.stage_slices(
        df,
        path,
        [("lo", F.col("x") < 30), ("hi", F.col("x") >= 30)],
        partition_by=("b",),
    )
    staged.commit("lo", "full")
    staged.commit("hi", "append")
    for e in V.versions(path):
        assert e["partition_by"] == ["b"]
        assert sorted(e["partition_dirs"]) == ["b=0", "b=1", "b=2"]
    pruned = V.read_version(spark, path, prune=("b", 1, 1))
    files = pruned.inputFiles()
    assert files and all("/b=1/" in f for f in files)
    assert sorted(r.x for r in pruned.collect()) == [
        x for x in range(60) if x % 3 == 1
    ]


def test_stage_slices_empty_slice_commits_schema_bearing_file(spark, tmp_path):
    from end_to_end_database_pipeline_project_spark.sources.versioned_source import (
        register,
    )

    register(spark)
    df = spark.range(10).selectExpr("id AS x")
    path = str(tmp_path / "e")
    staged = V.stage_slices(
        df, path, [("all", F.col("x") >= 0), ("none", F.col("x") < 0)]
    )
    staged.commit("all", "full")
    staged.commit("none", "append")  # empty delta: 0 rows, readable
    assert V.versions(path)[-1]["rows"] == 0
    assert V.read_version(spark, path).count() == 10
    assert "x" in V.read_version(spark, path, 2).columns
    # the format reader sees the empty slice's schema-bearing file too
    # (readers recognize only part-*.parquet — an all-empty chain must
    # still plan >= 1 partition, caught by the empty-fixture suite)
    fmt = (
        spark.read.format("versioned_table")
        .option("path", path)
        .option("schema", "x bigint")
        .load()
    )
    assert fmt.count() == 10


def test_stage_slices_all_empty_input_format_readable(spark, tmp_path):
    from end_to_end_database_pipeline_project_spark.sources.versioned_source import (
        register,
    )

    register(spark)
    df = spark.range(10).selectExpr("id AS x").where("x < 0")  # empty
    path = str(tmp_path / "ee")
    staged = V.stage_slices(
        df, path, [("lo", F.col("x") < 5), ("hi", F.col("x") >= 5)]
    )
    staged.commit("lo", "full")
    staged.commit("hi", "append")
    fmt = (
        spark.read.format("versioned_table")
        .option("path", path)
        .option("schema", "x bigint")
        .load()
    )
    assert fmt.count() == 0
    assert V.read_version(spark, path).count() == 0


def test_stage_slices_escaped_slice_names_keep_every_row(spark, tmp_path):
    """Spark hive-escapes partition values on disk (``even:0`` stages
    under ``__slice=even%3A0``): every slice must still find its files,
    so no committed version silently loses rows."""
    df = spark.range(10).selectExpr("id AS x")
    path = str(tmp_path / "esc")
    staged = V.stage_slices(
        df,
        path,
        [("even:0", F.col("x") % 2 == 0), ("odd/1 b", F.col("x") % 2 == 1)],
    )
    staged.commit("even:0", "full")
    staged.commit("odd/1 b", "append")
    assert [e["rows"] for e in V.versions(path)] == [5, 5]
    assert sorted(r.x for r in V.read_version(spark, path, 1).collect()) == [
        0, 2, 4, 6, 8
    ]
    assert sorted(r.x for r in V.read_version(spark, path).collect()) == list(
        range(10)
    )


def test_stage_slices_unmatched_staged_rows_fail_loudly(spark, tmp_path):
    """Rows staged under a directory that maps back to no slice name
    (an empty-string name lands in the hive default partition) fail
    the staging call instead of committing short versions."""
    import pytest

    df = spark.range(10).selectExpr("id AS x")
    path = str(tmp_path / "lost")
    with pytest.raises(ValueError, match="staged 10 rows"):
        V.stage_slices(df, path, [("", F.col("x") < 5), ("hi", F.col("x") >= 5)])
    assert not [d for d in os.listdir(path) if d.startswith("_staging-")]


def test_stage_slices_overlapping_conditions_first_match_wins(spark, tmp_path):
    """Slice conditions resolve first-match-wins (the tag is one
    ``F.when`` chain): a row matching several conditions lands only in
    the earliest listed slice."""
    df = spark.range(10).selectExpr("id AS x")
    path = str(tmp_path / "ovl")
    staged = V.stage_slices(
        df, path, [("a", F.col("x") < 6), ("b", F.col("x") < 10)]
    )
    staged.commit("a", "full")
    staged.commit("b", "append")
    assert [e["rows"] for e in V.versions(path)] == [6, 4]
    assert sorted(r.x for r in V.read_version(spark, path, 1).collect()) == list(
        range(6)
    )


# --- commit stats from staged parquet footers -------------------------


def _aggregate_manifest_stats(spark, path: str, entry: dict, cols) -> dict:
    """What Spark's own aggregates over a committed version record:
    rows, commit-level stats (one min/max over the whole version) and
    per-file stats (``groupBy(input_file_name())``), in the manifest's
    serialized form (files with no rows are absent)."""
    from urllib.parse import unquote, urlparse

    vdir = os.path.join(path, entry["dir"])
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    per_file = (
        spark.read.parquet(vdir)
        .groupBy(F.input_file_name().alias("__file"))
        .agg(*aggs)
        .collect()
    )
    out: dict = {"rows": sum(r["__rows"] for r in per_file)}
    if not per_file:
        return out
    whole = spark.read.parquet(vdir).agg(*aggs[1:]).first()
    out["stats"] = {
        c: {
            "min": V._stat_value(whole[f"__min_{c}"]),
            "max": V._stat_value(whole[f"__max_{c}"]),
        }
        for c in cols
    }
    out["file_stats"] = {
        os.path.relpath(unquote(urlparse(r["__file"]).path), vdir): {
            c: {
                "min": V._stat_value(r[f"__min_{c}"]),
                "max": V._stat_value(r[f"__max_{c}"]),
            }
            for c in cols
        }
        for r in per_file
    }
    return out


def _assert_stats_parity(spark, path: str, cols, version=None) -> dict:
    import json

    e = V._entry(V.versions(path), path, version)
    got = {k: e[k] for k in ("rows", "stats", "file_stats") if k in e}
    want = _aggregate_manifest_stats(spark, path, e, cols)
    # JSON form: NaN compares equal to itself and -0.0 stays distinct
    assert json.dumps(got, sort_keys=True) == json.dumps(want, sort_keys=True)
    return e


def test_footer_stats_match_spark_aggregate(spark, tmp_path):
    """Per-file and commit stats taken from the staged footers equal
    Spark's own min/max for every footer-exact type, across files, with
    NULLs and a file whose column is entirely NULL."""
    df = spark.range(0, 30, 1, 3).select(
        F.col("id").alias("l"),
        (F.col("id") - 15).cast("int").alias("i"),
        F.expr("date_add(date'1999-12-25', cast(id AS int))").alias("d"),
        F.expr(
            "timestamp_ntz'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id * 1.5)"
        ).alias("tn"),
        ((F.col("id") - 15) / 3).cast("decimal(18,2)").alias("d18"),
        F.when(
            F.col("id") % 4 != 0,
            ((F.col("id") - 15) * 123456789.0123).cast("decimal(38,10)"),
        ).alias("d38"),
        (F.col("id") % 2 == 0).alias("bo"),
        F.concat(
            F.element_at(F.array(F.lit("é"), F.lit("z"), F.lit("Ω"), F.lit("a")),
                         (F.col("id") % 4 + 1).cast("int")),
            F.col("id").cast("string"),
        ).alias("st"),
        F.when(F.col("id") >= 10, F.col("id")).alias("first_file_null"),
    )
    cols = tuple(df.columns)
    path = str(tmp_path / "t")
    V.write_version(df, path, stats_cols=cols)
    e = _assert_stats_parity(spark, path, cols)
    assert len(e["file_stats"]) == 3
    assert any(
        v["first_file_null"] == {"min": None, "max": None}
        for v in e["file_stats"].values()
    )


def test_footer_stats_all_null_empty_and_escaped_partitions(spark, tmp_path):
    """An all-NULL stats column records {None, None}; an empty commit
    records no stats; a partitioned commit whose values Spark
    hive-escapes keys file_stats by the on-disk escaped path, and a
    pruned read over it opens only the matching files."""
    from urllib.parse import unquote

    nulls = str(tmp_path / "nulls")
    V.write_version(
        spark.range(0, 8, 1, 2).select(
            "id", F.lit(None).cast("long").alias("n")
        ),
        nulls,
        stats_cols=("n",),
    )
    e = _assert_stats_parity(spark, nulls, ("n",))
    assert e["stats"] == {"n": {"min": None, "max": None}}

    empty = str(tmp_path / "empty")
    V.write_version(spark.range(5).where("id < 0"), empty, stats_cols=("id",))
    e = _assert_stats_parity(spark, empty, ("id",))
    assert e["rows"] == 0 and "stats" not in e and "file_stats" not in e

    part = str(tmp_path / "part")
    df = spark.range(0, 20, 1, 2).select(
        F.when(F.col("id") < 10, F.lit("a:0")).otherwise(F.lit("a b")).alias("k"),
        F.col("id").alias("v"),
    )
    # stats on the partition column come from the aggregate fallback,
    # which reads the escaped file paths
    V.write_version(df, part, stats_cols=("v", "k"), partition_by=("k",))
    e = _assert_stats_parity(spark, part, ("v", "k"))
    assert sorted(k.split("/")[0] for k in e["file_stats"]) == [
        "k=a b", "k=a%3A0"
    ]
    pruned = V.read_version(spark, part, prune=("v", 2, 5))
    assert sorted((r.k, r.v) for r in pruned.collect()) == [
        ("a:0", v) for v in range(2, 6)
    ]
    files = pruned.inputFiles()
    assert len(files) == 1 and "/k=a%3A0/" in unquote(files[0])


def test_footer_fallback_types_keep_aggregate_stats(spark, tmp_path):
    """Columns whose footers carry no exact min/max (session-timezone
    timestamps are INT96, strings over 4 KB lose their stats, double
    footers order -0.0 and 0.0 unlike Spark) keep Spark's aggregate
    values."""
    df = spark.range(0, 12, 1, 3).select(
        F.col("id"),
        F.expr(
            "timestamp'2021-03-04 05:06:07' + make_interval(0, 0, 0, id, 0, 0, 0)"
        ).alias("ts"),
        F.concat(
            F.lit("x" * 5000), F.col("id").cast("string")
        ).alias("big"),
        # Spark keeps the first of -0.0/0.0 it meets; the footer's min
        # is -0.0 and its max 0.0
        F.element_at(
            F.array(
                F.lit(-0.0), F.lit(0.0), F.lit(None).cast("double"),
                F.lit(-1.5), F.lit(float("nan")), F.lit(2.5), F.lit(0.0),
                F.lit(-0.0),
            ),
            (F.col("id") % 8 + 1).cast("int"),
        ).alias("dbl"),
    )
    cols = ("ts", "big", "dbl")
    path = str(tmp_path / "fb")
    V.write_version(df, path, stats_cols=cols)
    e = _assert_stats_parity(spark, path, cols)
    assert e["stats"]["ts"]["min"].startswith("2021-03-04")


def _spark_jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_stats_commit_runs_one_spark_job(spark, tmp_path):
    """A commit with footer-exact stats columns costs exactly its write
    job: rows and stats come from the staged footers."""
    for i, col in enumerate(
        (F.col("id"), F.expr("date_add(date'2020-01-01', cast(id AS int))"))
    ):
        df = spark.range(0, 100, 1, 4).select("id", col.alias("s"))
        path = str(tmp_path / f"j{i}")
        before = _spark_jobs(spark)
        V.write_version(df, path, stats_cols=("s",))
        assert _spark_jobs(spark) - before == 1
        assert V.versions(path)[0]["stats"]["s"]["min"] is not None
