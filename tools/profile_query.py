"""Query-level scale probe: wall-clock registry entries (live or
staged) at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1), two runs each
(first = cold plan, second = warm), each executed in full by a
``noop`` write.

Usage: python tools/profile_query.py name [name...]

Inputs of any size come from the benchmark's seeded generator,
imported read-only::

    python -c "import sys; sys.path.insert(0, 'perfbench'); \\
        import datagen; datagen.write_tables('/tmp/sf1', 1.0, 7)"
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python tools/profile_query.py \\
        events_logrank_test graph_common_neighbors
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.session import get_spark

    names = sys.argv[1:] or ["kmeans_clusters"]
    entries = {**Q.QUERIES, **Q.STAGED_QUERIES}
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()  # warm

    for name in names:
        fn = entries[name]
        times = []
        for _ in range(2):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        print(f"{name}: cold={times[0]} warm={times[1]}")


if __name__ == "__main__":
    main()
