import os, sys, time, shutil
sys.path.insert(0, '/root/repo')
from pyspark.sql import functions as F
from vectorsearchutil_spark.session import get_spark
from vectorsearchutil_spark.operators.clustering import kmeans
from vectorsearchutil_spark.operators.similarity import build_ivf_index, ivf_search

spark = get_spark("ivf-2m-probe")
spark.sparkContext.setLogLevel("ERROR")

N = 2_000_000
emb = spark.range(N).selectExpr(
    "id AS vec_id",
    "transform(sequence(1, 64), j -> pmod(xxhash64(id, j), 1000) / 1000.0)"
    " AS embedding",
).cache()
emb.count()

t0 = time.time()
assignments, cents = kmeans(emb, k=64, iterations=2, dim=64)
cents = cents.select(
    F.col("cid").alias("centroid_id"), F.col("cv").alias("centroid_vec")
).cache()
cents.count()
t_kmeans = time.time() - t0

t0 = time.time()
idx = build_ivf_index(emb, cents)  # measured gate: Arrow assignment
path = "/tmp/ivf2m_index"
shutil.rmtree(path, ignore_errors=True)
idx.write.partitionBy("centroid_id").parquet(path)
t_build = time.time() - t0

indexed = spark.read.parquet(path)
queries = spark.range(8).selectExpr(
    "id AS query_id",
    "transform(sequence(1, 64), j -> pmod(xxhash64(id + 77, j), 1000)"
    " / 1000.0) AS query_vector",
)
# warm
ivf_search(indexed, cents, queries, k=10, n_probe=4).count()
t0 = time.time()
n = ivf_search(indexed, cents, queries, k=10, n_probe=4).count()
t_search = time.time() - t0

plan = ivf_search(indexed, cents, queries, k=10, n_probe=4)._jdf.queryExecution().executedPlan().toString()
pruned = "PartitionFilters" in plan or "dynamicpruning" in plan.lower()
print(f"kmeans(k=64, 2 iters, distributed): {t_kmeans:.1f}s @ 2M x 64")
print(f"index build+partitioned write: {t_build:.1f}s -> 64 lists")
print(f"8-query batch, n_probe=4/64 (6% of corpus): {t_search:.1f}s -> {n} rows")
print(f"partition pruning in plan: {pruned}")
