"""Quantify VERDICT r13 #2: IVF takedown cost, old full-rewrite
spelling vs the r14 tombstone sidecar, at growing lists tables.
Interleaved ABBA median-of-3; the 'old' spelling is reconstructed
inline (read -> anti-join -> swap-rewrite, the r13 code)."""
import sys, time, statistics, shutil, os, tempfile
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from fdblog2clickhouse_spark.session import get_spark
from fdblog2clickhouse_spark import storage
from fdblog2clickhouse_spark.operators import ann_store

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
root = tempfile.mkdtemp()

def build(n, path):
    spark.range(n).select(
        F.col("id").alias("n_id"), F.pmod(F.col("id"), F.lit(1024)).alias("list_id")
    ).repartition(8).write.mode("overwrite").parquet(path)

def old_retract(path, ids):
    idf = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    lists = spark.read.parquet(path)
    kept = lists.join(idf.withColumnRenamed("vec_id","n_id"), "n_id", "left_anti")
    n_before = lists.count()
    storage.commit(path, kept.write.parquet)
    n_after = spark.read.parquet(path).count()
    return n_before - n_after

def new_retract(path, ids):
    idf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ann_store.retract_ivf_vectors(spark, path, idf)

for n in (1_000_000, 10_000_000, 100_000_000):
    po, pn = f"{root}/old_{n}", f"{root}/new_{n}"
    build(n, po); build(n, pn)
    olds, news = [], []
    k = 0
    for rep in range(3):
        ids = list(range(k, k + 100)); k += 100
        t0 = time.perf_counter(); old_retract(po, ids); olds.append(time.perf_counter()-t0)
        t0 = time.perf_counter(); new_retract(pn, ids); news.append(time.perf_counter()-t0)
    print(f"rows={n}: old_full_rewrite median={statistics.median(olds):.2f}s "
          f"sidecar median={statistics.median(news):.2f}s", flush=True)
shutil.rmtree(root, ignore_errors=True)
