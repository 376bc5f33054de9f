"""Cross-path integration matrix for the versioned table (VERDICT r10
"Next round #6"): ONE table driven by INTERLEAVED library writes
(`write_version`/`append_version`/`upsert_version`/`delete_version`)
and format writes (`df.write.format("versioned_table")`, partitioned
and not), with rename/drop/widening mixed in, read back through all
FOUR read paths —

1. chain read (`read_version`),
2. change feed (`incremental_scan`, applied to a cursor snapshot),
3. format batch (`spark.read.format(...)`, schema-less so the r11
   manifest inference is on the path too),
4. format stream (`spark.readStream.format(...)`).

Each layer is individually pinned elsewhere (tests/test_versioned.py's
hypothesis model, tests/test_versioned_source.py); this file pins the
CROSS-PATH matrix against hand-computed expected content — the same
role the Python model plays, enumerated so every scenario is a valid
op sequence by construction."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_database_pipeline_project_spark.sources import versioned as V
from end_to_end_database_pipeline_project_spark.sources.versioned_source import (
    register,
)


def _fmt_write(df, path, mode="append", partitionby=None):
    w = df.write.format("versioned_table").mode(mode).option("path", path)
    if partitionby:
        w = w.option("partitionby", partitionby)
    w.save()


def _fmt_read(spark, path):
    # schema-less on purpose: the inference path is part of the matrix
    return spark.read.format("versioned_table").option("path", path).load()


def _drain_stream(spark, path, out, ckpt, **opts):
    q = (
        spark.readStream.format("versioned_table")
        .option("path", path)
        .options(**opts)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


def _apply_cdf(snapshot_rows, cdf_rows, cols):
    """Fold typed change rows onto a cursor snapshot (keyed on 'k') —
    the consumer-side merge the CDF contract promises."""
    state = {r["k"]: r for r in snapshot_rows}
    by_ver: dict = {}
    for r in cdf_rows:
        by_ver.setdefault(r["_commit_version"], []).append(r)
    for ver in sorted(by_ver):
        for r in by_ver[ver]:
            if r["_change_type"] == "delete":
                state.pop(r["k"], None)
            else:  # insert / upsert: latest image wins per key here
                state[r["k"]] = r
    return sorted(tuple(r[c] for c in cols) for r in state.values())


def test_mixed_writers_flat_all_four_paths(spark, tmp_path):
    """Library and format writers interleave on one flat table; every
    read path agrees with the hand-folded content."""
    register(spark)
    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")

    V.write_version(mk([(1, 10), (2, 20)]), path)  # v1 lib full
    _fmt_write(mk([(3, 30)]), path)  # v2 fmt append
    V.upsert_version(mk([(2, 21), (4, 40)]), path, "k")  # v3 lib upsert
    _fmt_write(mk([(5, 50), (6, 60)]), path, partitionby="k")  # v4 fmt part
    V.delete_version(spark.createDataFrame([(1,)], "k long"), path, "k")  # v5
    _fmt_write(mk([(7, 70)]), path)  # v6 fmt append

    folded = [(2, 21), (3, 30), (4, 40), (5, 50), (6, 60), (7, 70)]

    # path 1: chain read
    assert sorted((r.k, r.v) for r in V.read_version(spark, path).collect()) == folded
    # path 2: CDF applied to the v1 snapshot reconstructs the table
    snap = [r.asDict() for r in V.read_version(spark, path, 1).collect()]
    cdf = [
        r.asDict()
        for r in V.incremental_scan(spark, path, from_version=1).collect()
    ]
    assert _apply_cdf(snap, cdf, ("k", "v")) == folded
    # path 3: format batch, schema inferred from the manifest
    got = _fmt_read(spark, path)
    assert sorted(got.columns) == ["k", "v"]
    assert sorted((r.k, r.v) for r in got.collect()) == folded
    # path 4: format stream (fresh consumer; upsert/delete commits
    # need the Delta-style opt-ins and deliver as plain appends)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    s = _drain_stream(
        spark, path, out, ckpt, ignoredeletes="true", ignorechanges="true"
    )
    delivered = sorted((r.k, r.v) for r in s.collect())
    assert delivered == sorted(
        [(1, 10), (2, 20), (3, 30), (2, 21), (4, 40), (5, 50), (6, 60), (7, 70)]
    )


def test_mixed_writers_schema_evolution_all_four_paths(spark, tmp_path):
    """Rename, drop, widening and a format-partitioned commit mixed
    across BOTH writer paths; all four read paths fold the evolution
    identically."""
    register(spark)
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "k int, name string, day string",
    ).withColumn("day", F.to_date("day"))
    V.write_version(base, path)  # v1 lib full (int key)
    _fmt_write(  # v2 fmt append, partitioned, WIDENED key (long)
        spark.createDataFrame(
            [(3, "c", "2024-01-03")], "k long, name string, day string"
        ).withColumn("day", F.to_date("day")),
        path,
        partitionby="day",
    )
    V.rename_column(spark, path, "name", "label")  # v3 metadata-only
    V.append_version(  # v4 lib append, NEW column score
        spark.createDataFrame(
            [(4, "d", "2024-01-04", 0.5)],
            "k long, label string, day string, score double",
        ).withColumn("day", F.to_date("day")),
        path,
    )
    V.drop_column(spark, path, "score")  # v5 metadata-only

    folded = [
        (1, "a", "2024-01-01"),
        (2, "b", "2024-01-02"),
        (3, "c", "2024-01-03"),
        (4, "d", "2024-01-04"),
    ]

    # path 1: chain read — current names, no dropped column
    lib = V.read_version(spark, path)
    assert sorted(lib.columns) == ["day", "k", "label"]
    assert sorted((r.k, r.label, str(r.day)) for r in lib.collect()) == folded
    # path 2: CDF from v1 — change rows in as-of-end names
    cdf = V.incremental_scan(spark, path, from_version=1)
    assert "label" in cdf.columns and "score" not in cdf.columns
    assert sorted(
        (r.k, r.label, str(r.day)) for r in cdf.collect()
    ) == folded[2:]
    # path 3: format batch, schema inferred (rename/drop/widening fold)
    got = _fmt_read(spark, path)
    assert sorted(got.columns) == ["day", "k", "label"]
    assert got.schema["k"].dataType.simpleString() == "bigint"
    assert sorted((r.k, r.label, str(r.day)) for r in got.collect()) == folded
    # path 4: format stream, schema inferred — every commit delivered
    # once, pre-evolution rows under current names
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    s = _drain_stream(spark, path, out, ckpt)
    assert sorted(s.columns) == ["day", "k", "label"]
    assert sorted((r.k, r.label, str(r.day)) for r in s.collect()) == folded


def test_format_overwrite_rebases_lineage_and_reattach(spark, tmp_path):
    """A format OVERWRITE mid-history is a full rewrite: chain reads
    serve the new snapshot, incremental/stream consumers fail loudly
    across it, and `startingversion` re-attaches them after it."""
    register(spark)
    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")

    V.write_version(mk([(1, 10)]), path)  # v1 lib full
    _fmt_write(mk([(2, 20)]), path)  # v2 fmt append
    _fmt_write(mk([(8, 80), (9, 90)]), path, mode="overwrite")  # v3 REWRITE
    V.append_version(mk([(10, 100)]), path)  # v4 lib append

    folded = [(8, 80), (9, 90), (10, 100)]
    assert sorted((r.k, r.v) for r in V.read_version(spark, path).collect()) == folded
    got = _fmt_read(spark, path)
    assert sorted((r.k, r.v) for r in got.collect()) == folded

    # CDF across the rewrite fails loudly; from the rewrite it works
    try:
        V.incremental_scan(spark, path, from_version=1).collect()
        raise AssertionError("CDF across a rewrite must fail")
    except ValueError as exc:
        assert "rewrite" in str(exc)
    post = V.incremental_scan(spark, path, from_version=3)
    assert sorted((r.k, r.v) for r in post.collect()) == [(10, 100)]

    # fresh stream across the mid-history rewrite fails loudly
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    try:
        _drain_stream(spark, path, out, ckpt)
        raise AssertionError("fresh stream across a rewrite must fail")
    except Exception as exc:
        assert "rewrite" in str(exc) or "full-snapshot" in str(exc)
    # re-attach AFTER the rewrite via startingversion
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    s = _drain_stream(spark, path, out2, ckpt2, startingversion="3")
    assert sorted((r.k, r.v) for r in s.collect()) == [(10, 100)]


# --- one manifest entry, whichever writer lands it --------------------


def _three_writers(spark, tmp_path, name, df, stats=(), partition_by=()):
    """``df`` committed as a full snapshot by ``write_version``, by a
    one-slice ``stage_slices`` commit and by the format batch writer:
    the three manifest entries."""
    register(spark)
    lib, sl, fmt = (str(tmp_path / f"{name}_{w}") for w in ("lib", "sl", "fmt"))
    V.write_version(df, lib, stats_cols=stats, partition_by=partition_by)
    V.stage_slices(df, sl, [("all", F.lit(True))], partition_by).commit(
        "all", "full"
    )
    w = df.write.format("versioned_table").mode("overwrite").option("path", fmt)
    if stats:
        w = w.option("statscols", ",".join(stats))
    if partition_by:
        w = w.option("partitionby", ",".join(partition_by))
    w.save()
    return [V.versions(p)[-1] for p in (lib, sl, fmt)]


def _comparable(entry: dict, with_stats: bool = True) -> dict:
    """A manifest entry without its commit time and file UUIDs:
    ``file_stats`` values grouped by hive dir."""
    import json
    import posixpath

    out = {
        k: entry.get(k)
        for k in ("rows", "mode", "partition_by", "partition_dirs")
    }
    if with_stats:
        # JSON form: a NaN stat compares equal to itself
        out["stats"] = json.dumps(entry.get("stats"), sort_keys=True)
        by_dir: dict = {}
        for rel, st in (entry.get("file_stats") or {}).items():
            by_dir.setdefault(posixpath.dirname(rel), []).append(
                json.dumps(st, sort_keys=True)
            )
        out["file_stats"] = {d: sorted(v) for d, v in by_dir.items()}
    return out


def _assert_same_entries(entries) -> None:
    lib, sl, fmt = entries
    assert _comparable(fmt) == _comparable(lib)
    assert _comparable(sl, False) == _comparable(lib, False)


def _frame(spark):
    # two input partitions: column n is all NULL in the first file, z
    # is all NULL everywhere, x holds a NaN
    return spark.range(0, 12, 1, 2).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        F.when(F.col("id") >= 6, F.col("id") * 10).alias("n"),
        F.lit(None).cast("long").alias("z"),
        F.when(F.col("id") == 4, F.lit(float("nan")))
        .otherwise(F.col("id") / 2)
        .alias("x"),
        F.expr("date_add(date'2024-02-27', cast(id AS int))").alias("d"),
    )


STATS = ("k", "n", "z", "x", "d")


def test_three_writers_flat_entries_match(spark, tmp_path):
    entries = _three_writers(spark, tmp_path, "flat", _frame(spark), STATS)
    _assert_same_entries(entries)
    lib = entries[0]
    assert lib["rows"] == 12 and "partition_by" not in lib
    assert lib["stats"]["z"] == {"min": None, "max": None}
    assert any(
        st["n"] == {"min": None, "max": None}
        for st in lib["file_stats"].values()
    )


def test_three_writers_partitioned_entries_match(spark, tmp_path):
    entries = _three_writers(
        spark, tmp_path, "part", _frame(spark), STATS, ("p",)
    )
    _assert_same_entries(entries)
    lib = entries[0]
    assert lib["partition_by"] == ["p"]
    assert lib["partition_dirs"] == ["p=0", "p=1", "p=2"]


def test_three_writers_empty_entries_match(spark, tmp_path):
    empty = _frame(spark).where("k < 0")
    for name, pby in (("eflat", ()), ("epart", ("p",))):
        entries = _three_writers(spark, tmp_path, name, empty, STATS, pby)
        _assert_same_entries(entries)
        lib = entries[0]
        assert lib["rows"] == 0
        assert "stats" not in lib and "partition_by" not in lib
