"""Run isolation, the Spark session, and the warm-up/run/cleanup loop.

``RunDir`` gives one run a private working directory (warehouse, local
dirs, temp files, generated inputs) and removes it afterwards, so a run
never writes into the repository's ``spark-warehouse/``, ``derby.log``
or ``BENCH_FULL.json``. ``Harness`` owns the session and times every
operation of a workload through one path: build the DataFrame, drive it
to completion, probe the live heap and release what it persisted
(``cleanup``), and record the outcome. Each workload's warm-up runs only
its own operations, untimed, which warms exactly the expression
families, Python workers and JIT paths that workload uses and nothing
else.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from dataclasses import dataclass

from spans import Tracer


@dataclass
class Op:
    """One completed operation: construction, then materialization."""

    name: str
    seconds: float
    build_s: float
    exec_s: float
    build_counters: dict
    exec_counters: dict
    fetched_rows: int = 0


def _rss_peak_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children", encoding="ascii") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


class RunDir:
    """Private working directory for one run under ``<root>/.bench_run``."""

    def __init__(self, root: str, tag: str):
        self.base = os.path.join(root, ".bench_run")
        self.path = os.path.join(self.base, f"{tag}-{os.getpid()}")
        for sub in ("data", "warehouse", "local", "tmp", "metastore"):
            os.makedirs(os.path.join(self.path, sub), exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass


class Harness:
    """One Spark session plus the per-operation protocol."""

    def __init__(self, run_dir: RunDir, cpus: int, driver_mem: str, tracer: Tracer):
        self.run_dir = run_dir
        self.cpus = cpus
        self.driver_mem = driver_mem
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.heap_peak_mb = 0.0
        self._jvm_proc: subprocess.Popen | None = None

    def config(self) -> dict:
        return {
            "master": f"local[{self.cpus}]",
            "spark.sql.shuffle.partitions": self.cpus,
            "spark.driver.memory": self.driver_mem,
        }

    def start_session(self):
        """Build the engine's session (``session.get_spark``) with every
        writable location inside the run directory."""
        from technical_test_data_engineer_spark.session import DEFAULT_CONFS, get_spark

        rd = self.run_dir
        java_opts = " ".join(
            [
                DEFAULT_CONFS["spark.driver.extraJavaOptions"],
                # no hsperfdata file in the system temp directory
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={rd.sub('tmp')}",
                f"-Dderby.system.home={rd.sub('metastore')}",
                f"-Dderby.stream.error.file={rd.sub('metastore')}/derby.log",
            ]
        )
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_confs={
                "spark.driver.memory": self.driver_mem,
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": rd.sub("warehouse"),
                "spark.local.dir": rd.sub("local"),
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_proc = self.spark.sparkContext._gateway.proc
        self.tracer.attach(self.spark)
        return self.spark

    def cleanup(self) -> None:
        """Release everything an operation persisted, then collect: the
        DataFrame cache, persistent RDDs (localCheckpoint leaves these
        behind), and the JVM heap, so the next operation starts clean."""
        spark = self.spark
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark._jvm.System.gc()

    def run_op(self, name: str, build, drive, release: bool = True):
        """One operation: ``build()`` constructs, ``drive(df)`` completes
        it. Returns ``(result, Op)``, or ``(None, None)`` when it raised,
        which counts as a failed operation."""
        self.attempted += 1
        try:
            with self.tracer.span(f"op:{name}", counted=False) as op:
                with self.tracer.span(f"build:{name}") as b:
                    df = build()
                with self.tracer.span(f"exec:{name}") as d:
                    result = drive(df)
        except Exception as ex:  # noqa: BLE001 — counted, run continues
            self.fail(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            return None, None
        finally:
            if release:
                # what the operation still holds is live until here
                self.live_heap_mb()
                self.cleanup()
        rows = len(result) if hasattr(result, "__len__") else 0
        return result, Op(name, op.seconds, b.seconds, d.seconds,
                          b.counters, d.counters, rows)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def live_heap_mb(self) -> float:
        """JVM heap in use right after a full collection: the live set.
        ``heap_peak_mb`` keeps the largest one seen."""
        self.spark._jvm.System.gc()
        rt = self.spark._jvm.java.lang.Runtime.getRuntime()
        mb = (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
        self.heap_peak_mb = max(self.heap_peak_mb, mb)
        return mb

    def python_rss_peak_mb(self) -> float:
        return _rss_peak_mb(os.getpid())

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to exit."""
        if self.spark is None:
            return
        proc = self._jvm_proc
        workers = _children(proc.pid) if proc else []
        try:
            self.spark.stop()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            deadline = time.monotonic() + 20
            for pid in workers + [c for w in workers for c in _children(w)]:
                while _alive(pid) and time.monotonic() < deadline:
                    time.sleep(0.05)
            self.spark = None
