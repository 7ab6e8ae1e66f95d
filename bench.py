"""Benchmark harness — runs every headline query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Per-query timing includes full materialization of EVERY output column
(noop-format write, ``observe.run_once``), not session startup or the
untimed ``observe.warm`` burn-in. ``df.count()`` is NOT the
materializer: Catalyst prunes all columns under a count, so per-row
expression work (winnowing, signatures, chunk text) would go untimed —
round-1 recorded 0.26 s for a winnowing query whose real cost was ~10 s.

Steady-state protocol (r08, r07 verdict item 5): queries run in a fixed
order; any query whose first rep reaches ``REP2_FLOOR_S`` (1.5 s)
is re-run once and the MIN of the two reps is
recorded. Rationale: three consecutive rounds produced false bench
flags from one-time JIT / python-worker warmup charged to whichever
query hit a code shape first (r06 ``knn_lsh_multiprobe`` 1.17→3.1 s
purely from registry position; r07 ``supplier_bradley_terry`` 14.0 s
cold vs 5.4 s steady, ``order_value_poisson_bootstrap`` 5.0 vs 1.5 s) —
each needed a hand-run solo re-measure. Warmup inflation by definition
raises rep0 ABOVE steady state, so re-repping only the slow tail
catches every artifact in the class while adding only the heavy
queries' cost (~25-35% of a full single-rep sweep, not 2×).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

REP2_FLOOR_S = 1.5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from technical_test_data_engineer_spark.observe import run_once, warm
    from technical_test_data_engineer_spark.plans.star_queries import QUERIES
    from technical_test_data_engineer_spark.session import get_spark

    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    warm(spark, int(cpus))

    timings: dict[str, float] = {}
    for name, fn in QUERIES.items():
        rep0 = run_once(spark, fn, sf_dir)[1]
        if rep0 >= REP2_FLOOR_S:
            # slow enough to matter AND slow enough to be a possible
            # warmup artifact — steady state is the min of two reps
            # (clearCache between reps, so rep1 still pays the query's
            # own scans/shuffles; only session-lifetime JIT and worker
            # startup are amortized, which is the point)
            rep1 = run_once(spark, fn, sf_dir)[1]
            timings[name] = round(min(rep0, rep1), 3)
            print(
                f"# {name}: {timings[name]:.3f}s"
                f" (rep0 {rep0:.3f}, rep1 {rep1:.3f})",
                file=sys.stderr,
            )
        else:
            timings[name] = round(rep0, 3)
            print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    result = {
        "metric": "total_query_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    # Code-cache telemetry (stderr, r10): the r9 driver bench showed
    # unchanged bounded plans at 4-6x solo steady state — the JVM's
    # default 240 MB code cache fills mid-sweep and HotSpot flushes
    # compiled fold methods (session.py now reserves 1 GiB). Record
    # end-of-sweep usage so a recurrence is diagnosable from the log.
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    for i in range(pools.size()):
        p = pools.get(i)
        if "CodeHeap" in p.getName():
            u = p.getUsage()
            print(
                f"# codecache {p.getName()}: "
                f"{u.getUsed() // (1024 * 1024)} / "
                f"{u.getMax() // (1024 * 1024)} MB",
                file=sys.stderr,
            )
    print(json.dumps(result))
    # The driver's BENCH_r{N}.json stores only a 2000-char stdout tail —
    # too short for 112 per-query timings, so round-over-round claims
    # were resting on a partial overlap (round-3 advice). Persist the
    # FULL parsed dict next to the repo so bench_diff.py always has
    # complete per-query coverage; committed once per round.
    full = Path(__file__).resolve().parent / "BENCH_FULL.json"
    full.write_text(json.dumps(result, indent=1) + "\n", encoding="utf-8")
    spark.stop()


if __name__ == "__main__":
    main()
