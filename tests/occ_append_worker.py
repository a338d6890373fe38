"""Worker process for test_occ_two_process_concurrent_appends: builds
its OWN SparkSession (a genuinely separate driver JVM — the point of
the test), stages at a file barrier so both workers' commit windows
overlap, then blind-appends a row range into the shared store. Blind
appends commute, so whichever worker loses the manifest CAS must
retry, publishing its staged files as named — across process
boundaries.

Usage: occ_append_worker.py <store_root> <barrier_path> <lo> <hi>
The worker touches <barrier>.ready.<idx> (idx derived from lo) and
waits for <barrier>.go before committing.
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    root, barrier, lo, hi = (sys.argv[1], sys.argv[2],
                             int(sys.argv[3]), int(sys.argv[4]))
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.master("local[2]")
             .appName(f"occ-worker-{lo}")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    from etl_pipeline_stock_market_data_postgresql_spark.sources import (
        versioned_store as vstore)

    df = (spark.range(lo, hi)
          .select(F.col("id"), F.lit(9).alias("k"),
                  (F.col("id") * 3).alias("x"))
          .coalesce(1))
    idx = 0 if lo == 1000 else 1
    open(f"{barrier}.ready.{idx}", "w").close()
    deadline = time.time() + 240
    while not os.path.exists(f"{barrier}.go"):
        if time.time() > deadline:
            print("barrier timeout", file=sys.stderr)
            return 2
        time.sleep(0.05)
    v = vstore.commit_append(spark, root, df)
    print(f"worker {idx} committed version {v}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
