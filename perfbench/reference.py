"""The reference pass: a fixed piece of Spark work that uses none of the
engine's code, timed beside the workload to measure the box's speed.

On a shared host the time of the same pass changes by a third or more
between runs minutes apart, as other tenants come and go. The reference
pass runs on the same session and fixture right after every timed pass,
so it meets the same box; a workload pass divided by the reference pass
keeps the workload's own cost and drops most of the box's.

It mixes the kinds of work the workloads do, in plain PySpark: parquet
scans and planning, a shuffle aggregate, a join, a window, a stage that
feeds Python workers through Arrow, and a small parquet write read back.
Nothing the engine changes runs in it, apart from the session's
configuration.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

# Width of the character shingles the Python-worker stage hashes.
SHINGLE = 5


def _shingle_hashes(batches):
    for pdf in batches:
        out = []
        for text in pdf["text"]:
            h = 0
            for i in range(len(text) - SHINGLE + 1):
                h = (h * 31 + hash(text[i : i + SHINGLE])) & 0xFFFFFFFF
            out.append(h)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "h": out})


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def reference_pass(spark, sf_dir: str, out_dir: str) -> float:
    """Run the reference work once; returns its wall time in seconds."""
    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _noop(
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_extendedprice").alias("rev"),
            F.avg("l_discount").alias("disc"),
            F.count("*").alias("n"),
        )
    )
    _noop(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum(li.l_extendedprice * (1 - li.l_discount)).alias("rev"))
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    _noop(orders.withColumn("rk", F.row_number().over(w)).where("rk <= 3"))
    _noop(
        docs.select("doc_id", "text")
        .repartition(n)
        .mapInPandas(_shingle_hashes, "doc_id long, h long")
        .groupBy((F.col("h") % 16).alias("b"))
        .count()
    )
    orders.where("o_orderstatus = 'F'").write.mode("overwrite").parquet(f"{out_dir}/reference")
    spark.read.parquet(f"{out_dir}/reference").selectExpr("count(*)").collect()
    return time.perf_counter() - t0
