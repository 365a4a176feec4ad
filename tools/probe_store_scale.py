import sys, time, shutil
sys.path.insert(0, '/root/repo')
from pyspark.sql import functions as F
from vectorsearchutil_spark.session import get_spark
from vectorsearchutil_spark.store import VectorStore

spark = get_spark("store-2m-probe")
spark.sparkContext.setLogLevel("ERROR")
base = "/tmp/store2m"
shutil.rmtree(base, ignore_errors=True)
store = VectorStore(spark, acid_path=base)

def mk(lo, hi, tag):
    return spark.range(lo, hi).selectExpr(
        "concat('t', id) AS target",
        f"concat('{tag}', pmod(id, 100)) AS option1",
    )

# initial 2M-row replace ingest (embeds via hash64 + first-wins dedup)
t0 = time.time()
store.set_data(mk(0, 2_000_000, "a"))
t_replace = time.time() - t0
n0 = store.data.count()

# append batch: 500k rows, HALF overlapping existing targets —
# insert-if-absent must drop the overlap via the anti-join
t0 = time.time()
store.set_data(mk(1_750_000, 2_250_000, "b"), append=True)
t_append = time.time() - t0
n1 = store.data.count()

print(f"replace ingest 2M rows (embed + first-wins): {t_replace:.1f}s -> {n0}")
print(f"append 500k (50% duplicate targets): {t_append:.1f}s -> {n1}")
assert n0 == 2_000_000 and n1 == 2_250_000, (n0, n1)
print("insert-if-absent exact: PASS")
