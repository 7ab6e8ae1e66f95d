"""Solo per-query bench: same session, warm-up and timing as bench.py
(``observe.warm`` / ``observe.run_once``), but only the named queries,
each run ``SOLO_REPS`` times. Usage:
  python bench_solo.py q1 q2 ...
Prints per-rep build/write seconds and job counts to stderr and one
JSON line {name: min seconds} to stdout.
"""
from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SOLO_REPS = 2


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from technical_test_data_engineer_spark.observe import run_once, warm
    from technical_test_data_engineer_spark.plans.star_queries import QUERIES
    from technical_test_data_engineer_spark.session import get_spark

    spark = get_spark(
        "bench_solo", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, int(cpus))

    out: dict[str, list[float]] = {}
    for n in names:
        ts = []
        for _ in range(SOLO_REPS):
            build, total, jobs = run_once(spark, QUERIES[n], sf_dir)
            print(
                f"#   build {build:.3f}s write {total - build:.3f}s"
                f" jobs {jobs}",
                file=sys.stderr,
            )
            ts.append(round(total, 3))
        out[n] = ts
        print(f"# {n}: min {min(ts):.3f}  reps {ts}", file=sys.stderr)
    print(json.dumps({n: min(t) for n, t in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
