"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload batch_curation --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, builds the engine's Spark session on ``local[nproc]`` inside a
private working directory, runs the workload's set-up, then a closed loop
of about ``--seconds`` worth of passes (at least one), checks
every output against DuckDB, and prints the result object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics and writes every span to
``.bench_trace/<workload>-<seed>.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_curation", "interactive", "ingest_dedup")
# scale factor per workload, sized so one run fits its time budget
DEFAULT_SF = {"batch_curation": 0.01, "interactive": 0.02, "ingest_dedup": 0.01}
DRIVER_MEM = "3g"
# share of the VM's CPU time over one pass that the hypervisor may take
# (steal) before the pass is run again; quiet passes measure 0-2%
STEAL_LIMIT = 0.05
CLK_TCK = os.sysconf("SC_CLK_TCK")

END_TO_END = {"setup_s": "s", "pass_s": "s", "mem_peak_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from workloads import CURATION_QUERIES, PLOTS

    units = {
        "session.start_s": "s", "plans.import_s": "s", "bench.warmup_s": "s",
        "dedup.backfill_s": "s",
        "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_share": "ratio",
        "exec.write_s": "s", "exec.jobs": "count", "exec.stages": "count",
        "exec.tasks": "count", "exec.executor_run_s": "s", "exec.gc_s": "s",
        "exec.core_busy": "ratio", "exec.shuffle_read_bytes": "bytes",
        "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
        "exec.input_bytes": "bytes", "exec.driver_fetch_rows": "rows",
        "exec.heap_used_end_mb": "MB",
    }
    units.update({f"query.{q}_s": "s" for q in CURATION_QUERIES})
    units.update({
        "service.prepare_s": "s", "service.cache_build_s": "s",
        "service.cached_bytes": "bytes",
        **{f"service.{p}_s": "s" for p in PLOTS},
        "service.widgets_s": "s", "service.jobs_per_interaction": "count",
        "service.refresh_s": "s", "service.cached_rdds_end": "count",
        "neardup.turn_s": "s", "neardup.replay_s": "s", "neardup.jobs_per_turn": "count",
        "neardup.files_written": "count", "neardup.bytes_written": "bytes",
        "neardup.candidates": "count", "neardup.precision": "ratio",
        "neardup.recall": "ratio",
        "trace.overhead_s": "s", "error_rate": "ratio",
    })
    return units


def host_steal_ticks() -> int:
    """Steal time of all CPUs so far, in clock ticks (0 where unknown)."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            fields = f.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated star schema "
                         "(default: the workload's own, see DEFAULT_SF)")
    return ap.parse_args(argv)


def exec_layer(passes, h) -> dict:
    """Per-pass Spark counters under the calls, median over traced passes."""
    from workloads import median

    def per_pass(key, which):
        return median([sum(getattr(o, which).get(key, 0) for o in p.ops) for p in passes])

    build_s = median([sum(o.build_s for o in p.ops) for p in passes])
    write_s = median([sum(o.exec_s for o in p.ops) for p in passes])
    run_s = per_pass("executor_run_s", "exec_counters")
    out = {
        "plans.build_s": build_s,
        "plans.build_jobs": per_pass("jobs", "build_counters"),
        "plans.build_share": build_s / (build_s + write_s) if build_s + write_s else 0.0,
        "exec.write_s": write_s,
        "exec.core_busy": run_s / (write_s * h.cpus) if write_s else 0.0,
        "exec.driver_fetch_rows": median([sum(o.fetched_rows for o in p.ops) for p in passes]),
        "exec.heap_used_end_mb": h.live_heap_mb(),
    }
    for key in ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        out[f"exec.{key}"] = per_pass(key, "exec_counters")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if args.sf is None:
        args.sf = DEFAULT_SF[args.workload]
    if not (os.path.isdir(os.path.join(ROOT, "technical_test_data_engineer_spark"))
            and os.path.isfile(os.path.join(ROOT, "verify_local.py"))):
        print("perfbench: run from a checkout of the engine (package and "
              "verify_local.py not found next to perfbench/)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from harness import Harness, RunDir
    from spans import Tracer

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    rd = RunDir(ROOT, f"{args.workload}-{args.seed}")
    # every writable location of the run lives in its own directory
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": rd.sub("local"),
        "TMPDIR": rd.sub("tmp"),
    })
    tempfile.tempdir = rd.sub("tmp")
    tracer = Tracer(run_id, enabled=bool(args.trace))
    h = Harness(rd, cpus, DRIVER_MEM, tracer)
    try:
        return run(args, h, rd, tracer)
    finally:
        h.stop()
        rd.remove()
        print(f"# wall {time.perf_counter() - t_start:.1f} s", file=sys.stderr)


def run(args, h, rd, tracer) -> int:
    import workloads as W
    from workloads import median

    rng = random.Random(args.seed)
    sf_dir, ingest_dir = rd.sub("data"), rd.sub("ingest")
    # inputs are written by a child process, so this process's peak RSS
    # (part of mem_peak_mb) counts the run and not the input generation
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), sf_dir,
         "--sf", str(args.sf), "--seed", str(args.seed),
         *(["--ingest-dir", ingest_dir] if args.workload == "ingest_dedup" else [])],
        check=True, capture_output=True, text=True)
    inputs = json.loads(gen.stdout.strip().splitlines()[-1])
    rows = inputs["rows"]

    # set-up: from here to the first timed operation
    t_setup = time.perf_counter()
    with tracer.span("setup", counted=False):
        with tracer.span("session.start", counted=False) as s_start:
            h.start_session()
        with tracer.span("plans.import", counted=False) as s_import:
            import technical_test_data_engineer_spark.plans  # noqa: F401
        if args.workload == "batch_curation":
            wl = W.CurationWorkload(h, sf_dir, rng)
        elif args.workload == "interactive":
            wl = W.InteractiveWorkload(h, sf_dir, rng)
        else:
            wl = W.IngestWorkload(h, rng, ingest_dir, inputs["n_batches"])
        with tracer.span("bench.warmup", counted=False) as s_warm:
            wl.setup()
    setup_s = time.perf_counter() - t_setup

    # the closed loop: a fixed number of passes, sized from --seconds and
    # the workload's nominal pass time, so every run stops at the same
    # point of the JIT warm-up curve. A traced run makes whole blocks of
    # four passes in the order traced, untraced, untraced, traced, so that
    # warm-up over the loop weighs on both sides of trace.overhead_s
    # alike. A pass during which the hypervisor took more than STEAL_LIMIT
    # of the VM's CPU time measured the neighbours, not the engine: it is
    # run again, at most n_passes times in all.
    n_passes = max(1, round(args.seconds / wl.NOMINAL_PASS_S))
    if args.trace:
        n_passes = 4 * math.ceil(n_passes / 4)
        # one unrecorded pass first: the first passes after set-up are the
        # steepest part of the warm-up curve, which the order cannot cancel
        tracer.enabled = False
        wl.run_pass(False)
    passes = []
    discarded = 0
    h.live_heap_mb()
    steal0 = host_steal_ticks()
    with tracer.span("loop", counted=False):
        while len(passes) < n_passes:
            tracer.enabled = bool(args.trace) and len(passes) % 4 in (0, 3)
            t0 = host_steal_ticks()
            p = wl.run_pass(tracer.enabled)
            if p is None:
                break
            stolen = (host_steal_ticks() - t0) / CLK_TCK / (p.seconds * h.cpus)
            ops = " ".join(f"{o.name}={o.seconds:.3f}" for o in p.ops)
            if stolen > STEAL_LIMIT and discarded < n_passes:
                discarded += 1
                print(f"# pass discarded, {stolen:.0%} stolen: {p.seconds:.3f} s {ops}",
                      file=sys.stderr)
                continue
            passes.append(p)
            print(f"# pass {len(passes)}: {p.seconds:.3f} s {ops}", file=sys.stderr)
            if hasattr(wl, "refresh") and len(passes) - 1 == n_passes // 2:
                wl.refresh()
            h.live_heap_mb()
    tracer.enabled = bool(args.trace)
    # the largest live JVM heap seen by any probe so far (end of set-up,
    # every pass boundary, every operation before it releases its data),
    # plus this process's peak RSS
    mem_peak = h.heap_peak_mb + h.python_rss_peak_mb()
    print(f"# memory: live JVM heap peak {h.heap_peak_mb:.1f} MB, "
          f"Python peak RSS {h.python_rss_peak_mb():.1f} MB", file=sys.stderr)
    steal_s = (host_steal_ticks() - steal0) / CLK_TCK
    print(f"# host steal during the loop: {steal_s:.1f} cpu-s, "
          f"{discarded} passes discarded", file=sys.stderr)

    # output checks, outside every timed region
    import duckdb

    import verify_local as vl

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in vl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    wl.check(con)

    config = {**h.config(), "workload": args.workload, "seed": args.seed, "sf": args.sf,
              "seconds": args.seconds, "trace": args.trace, "rows": rows,
              "python": sys.version.split()[0]}
    import pyspark

    config["pyspark"] = pyspark.__version__
    print("config " + json.dumps(config, sort_keys=True))
    for why in h.failures:
        print(f"# failed: {why}", file=sys.stderr)

    untraced = [p for p in passes if not p.traced]
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median([p.seconds for p in untraced]),
            "mem_peak_mb": mem_peak,
        }
        units = END_TO_END
    else:
        traced = [p for p in passes if p.traced]
        units = per_layer_units()
        metrics = dict.fromkeys(units, 0.0)
        metrics.update({
            "session.start_s": s_start.seconds,
            "plans.import_s": s_import.seconds,
            "bench.warmup_s": s_warm.seconds,
        })
        metrics.update(exec_layer(traced, h))
        metrics.update(wl.layer_metrics(traced))
        if isinstance(wl, W.IngestWorkload):
            metrics["neardup.precision"], metrics["neardup.recall"] = wl.quality(con)
        if untraced:
            metrics["trace.overhead_s"] = (median([p.seconds for p in traced])
                                           - median([p.seconds for p in untraced]))
        metrics["error_rate"] = h.failed / max(1, h.attempted)
        out = os.path.join(ROOT, ".bench_trace", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tracer.write(out, config)
    con.close()

    result = {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
