"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); at cluster scale the same
settings hold except memory/parallelism knobs, which the submitter owns.
The defaults here encode the scale decisions the rest of the engine
assumes:

- AQE on (runtime partition coalescing + skew-join splitting), so static
  ``spark.sql.shuffle.partitions`` only needs to be an upper bound;
- UTC session timezone, so timestamps round-trip identically against
  parquet files and the DuckDB oracle;
- Arrow enabled, so the pandas-UDF slow path is batch-vectorized.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_SHIPPED_SESSIONS: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on every Python worker.

    Pandas-UDF / mapInPandas closures and Python data sources that
    reference module-level code are pickled *by reference* — workers
    must import the module. On a real cluster that's ``--py-files``;
    here we zip the package once per process, ``addPyFile`` it (task
    workers) and put it on the workers' ``PYTHONPATH``
    (``add_worker_path``: the streaming-source runner ignores addPyFile
    includes). This covers any
    externally-created SparkSession (e.g. the driver harness) whose
    working directory is not the repo root. Python functions created
    before the first call keep their old environment, so a caller
    ships before it registers a data source or builds a UDF."""
    if id(spark) in _SHIPPED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    # per-process zip: a fixed path could serve stale code across edits
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-pyfiles-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    add_worker_path(spark, zip_path)
    _SHIPPED_SESSIONS.add(id(spark))


def add_worker_path(spark: SparkSession, entry: str) -> None:
    """Prepend ``entry`` to ``PYTHONPATH`` in
    ``sparkContext.environment`` — the env map copied into every Python
    function created from now on and exported to its worker processes.
    It is the one channel that reaches ALL Python workers: the
    streaming-source runner and the streaming driver worker never
    process addPyFile includes."""
    env = spark.sparkContext.environment
    pp = env.get("PYTHONPATH", "")
    if entry not in pp.split(os.pathsep):
        env["PYTHONPATH"] = entry + os.pathsep + pp if pp else entry


def get_spark(
    app_name: str = "end_to_end_database_pipeline_project_spark",
    *,
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = str(cpus or _DEF_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate injects `isnotnull(e) AND size(e) > 0`
        # above every explode and predicate pushdown then inlines the
        # generator's FULL expression into that filter and drags it below
        # the fan-out repartition: an expensive array-building expression
        # (CDC chunking, token splits) ends up evaluated 3x per row, two
        # of them on the pre-repartition (single-split) side. The engine's
        # explodes all sit directly above the projection that builds their
        # array, so the inferred filter never prunes anything a Generate
        # would not skip itself. Excluding the rule is semantics-preserving
        # (measured: cdc_chunk_dedup 2.24 s -> 0.73 s at sf0.1).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fan_out(df, min_partitions: int | None = None):
    """Repartition up to the session's default parallelism when the
    input arrives in fewer partitions — locally a small table is one
    parquet split, which would serialize explode-/GEMM-heavy pipelines
    onto one core. No-op when the source already provides enough splits
    (the 100 TB case: thousands of parquet splits), so the extra shuffle
    only ever moves small inputs."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # prefer the metadata-only file count over df.rdd.getNumPartitions():
    # the .rdd probe converts the plan to RDD lineage on every call
    # (driver-side analysis cost, no job), while inputFiles() reads the
    # already-resolved scan relation. File count lower-bounds split
    # count, so the only error mode is an unneeded repartition of a
    # few-files source — exactly the small-input case the shuffle is
    # cheap for. Non-scan frames (no input files) fall back to the probe.
    n_splits = len(df.inputFiles())
    if n_splits == 0:
        n_splits = df.rdd.getNumPartitions()
    if n_splits < target:
        return df.repartition(target)
    return df
