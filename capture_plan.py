"""Capture .explain('formatted') for named queries.

Usage: python capture_plan.py <out_dir> <suffix> q1 q2 ...
Writes <out_dir>/<query>_<suffix>.txt. Not part of the bench path. The
queries are built but not executed; building some of them runs Spark
jobs (driver-side collects, persisted intermediates), so a capture can
contend with other Spark work on the same machine.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    out_dir = Path(sys.argv[1])
    suffix = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir.mkdir(parents=True, exist_ok=True)

    from technical_test_data_engineer_spark.observe import formatted_plan, release
    from technical_test_data_engineer_spark.plans.star_queries import QUERIES
    from technical_test_data_engineer_spark.session import get_spark

    spark = get_spark("capture_plan", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        txt = formatted_plan(QUERIES[n](spark, sf_dir))
        p = out_dir / f"{n}_{suffix}.txt"
        p.write_text(txt)
        n_exch = txt.count("Exchange")
        n_scan = txt.count("Scan parquet")
        print(f"{n}: {len(txt.splitlines())} lines, {n_exch} Exchange, "
              f"{n_scan} scans -> {p.name}")
        release(spark)
    spark.stop()


if __name__ == "__main__":
    main()
