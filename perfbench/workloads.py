"""The workloads: a closed loop with one client, one pass at a time.

Each workload exposes the same four steps, which ``run.py`` drives:

- ``setup()``: the warm-up that ends set-up (counted in ``setup_s``);
- ``run_pass(traced)``: one pass over the workload's operation list,
  returning a ``Pass`` (or ``None`` when the inputs are used up);
- ``check(con)``: compare every output against DuckDB over the same
  parquet, outside every timed region; wrong outputs count as failed
  operations;
- ``layer_metrics(traced_passes)``: the workload's own per-layer numbers.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
from dataclasses import dataclass, field

import verify_local as vl
from harness import Op

CURATION_QUERIES = [
    "curation_pipeline_e2e",
    "supplier_bradley_terry",
    "daily_revenue_repeated_median",
]
PLOTS = ["plot1", "plot2", "plot3", "plot4"]


@dataclass
class Pass:
    seconds: float
    traced: bool
    ops: list[Op]
    extra: dict = field(default_factory=dict)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _noop_write(df) -> None:
    # materializes every column of every row with no sink cost; count()
    # would let Catalyst prune the columns away
    df.write.format("noop").mode("overwrite").save()


def canon_rows(rows, cols) -> list[str]:
    """Rows in their given order, cells canonicalized by column name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["|".join(vl._norm_cell(r[i]) for i in order) for r in rows]


# ---------------------------------------------------------------------------
# batch_curation
# ---------------------------------------------------------------------------


class CurationWorkload:
    """A fixed query list; each query is built, then materialized with a
    noop write. The seed permutes the order within every pass."""

    NOMINAL_PASS_S = 6.0  # one pass on 4 vCPUs

    def __init__(self, h, sf_dir, rng: random.Random):
        self.h = h
        self.sf_dir = sf_dir
        self.rng = rng
        self.names = CURATION_QUERIES

    def _run(self, name, drive):
        from technical_test_data_engineer_spark.plans import QUERIES

        fn = QUERIES[name]
        return self.h.run_op(name, lambda: fn(self.h.spark, self.sf_dir), drive)

    def setup(self) -> None:
        """Warm-up: one untimed pass, through the noop sink like the
        timed ones."""
        self.run_pass(traced=False)

    def run_pass(self, traced: bool) -> Pass:
        ops = []
        with self.h.tracer.span("pass", counted=False) as p:
            for name in self.rng.sample(self.names, len(self.names)):
                _, op = self._run(name, _noop_write)
                if op is not None:
                    ops.append(op)
        return Pass(p.seconds, traced, ops)

    def check(self, con) -> None:
        """One more run of every query after the timed ones, in the same
        session, fetched with ``toPandas`` and compared to its oracle:
        state a timed run left behind shows here."""
        from concurrent.futures import ThreadPoolExecutor

        from technical_test_data_engineer_spark.plans import ORACLE

        def answer(name, cur):
            rows, cols = vl._oracle_fetch(cur, ORACLE[name])
            return len(rows), sorted(cols), vl.fingerprint(rows, cols)

        # DuckDB computes the oracle answers while Spark runs the queries
        with ThreadPoolExecutor(1) as pool:
            want = {n: pool.submit(answer, n, con.cursor()) for n in self.names}
            for name in self.rng.sample(self.names, len(self.names)):
                pdf, _ = self._run(name, lambda df: df.toPandas())
                if pdf is None:
                    continue  # its failure is already counted
                s_rows, s_cols = vl._rows_from_pandas(pdf), list(pdf.columns)
                got = (len(s_rows), sorted(s_cols), vl.fingerprint(s_rows, s_cols))
                if got != want[name].result():
                    self.h.fail(f"{name}: result differs from its oracle")

    def layer_metrics(self, traced: list[Pass]) -> dict:
        out = {}
        for name in self.names:
            out[f"query.{name}_s"] = median(
                [sum(o.seconds for o in p.ops if o.name == name) for p in traced])
        return out


# ---------------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------------

FACT_SQL = """
CREATE OR REPLACE VIEW fact AS
SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, o.o_totalprice,
       CAST(o.o_orderdate AS DATE) AS debut,
       CAST(CAST(o.o_orderdate AS DATE) + CAST(o.o_orderkey % 90 AS INTEGER) AS DATE) AS fin,
       c.c_nationkey, c.c_mktsegment, n.n_name
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
"""

# top-1 order per customer among the active ones: lowest priority
# string first, then the highest order key (QueryService's tie-break)
_TOP_SQL = """
active AS (SELECT * FROM fact WHERE debut <= DATE '{day}' AND DATE '{day}' <= fin {extra}),
top AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderpriority ASC, o_orderkey DESC) AS rn FROM active)
"""


def plot_sql(plot: str, params: tuple) -> str:
    if plot == "plot1":
        return ("WITH " + _TOP_SQL.format(day=params[0], extra="") + """
SELECT o_orderpriority, count(*) AS nb_customers FROM top WHERE rn = 1
GROUP BY o_orderpriority ORDER BY nb_customers DESC, o_orderpriority""")
    if plot == "plot2":
        day, nations = params
        in_list = ", ".join(f"'{n}'" for n in nations)
        return ("WITH " + _TOP_SQL.format(day=day, extra=f"AND n_name IN ({in_list})") + """,
per AS (SELECT n_name AS nation, count(*) AS nb_customers,
        min(o_orderpriority) AS top_priority FROM top WHERE rn = 1 GROUP BY n_name)
SELECT n.n_name AS nation, coalesce(per.nb_customers, 0) AS nb_customers,
       coalesce(per.top_priority, 'none') AS top_priority
FROM nation n LEFT JOIN per ON n.n_name = per.nation ORDER BY nation""")
    if plot == "plot3":
        return f"""
SELECT o_orderkey, debut, fin, CAST(fin - debut AS BIGINT) + 1 AS duration_days, o_orderpriority
FROM fact WHERE o_custkey = {int(params[0])} ORDER BY debut, o_orderkey"""
    # plot4: active orders per day and segment, counted directly over a
    # calendar (the service derives it from a delta prefix sum instead)
    return """
WITH days AS (
  SELECT CAST(unnest(generate_series(CAST(min(debut) AS TIMESTAMP),
         CAST(max(fin) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM fact)
SELECT d.day, f.c_mktsegment, count(*) AS n_active
FROM days d JOIN fact f ON f.debut <= d.day AND d.day <= f.fin
GROUP BY d.day, f.c_mktsegment ORDER BY d.day, f.c_mktsegment"""


class InteractiveWorkload:
    """``QueryService``: ``prepare()`` plus cache materialization and the
    widget helpers during set-up, then a seeded stream of the four plot
    interactions (build plus ``toPandas``), with one ``refresh()``."""

    NOMINAL_PASS_S = 1.7
    WARM_ROUNDS = 3

    def __init__(self, h, sf_dir, rng: random.Random):
        self.h = h
        self.sf_dir = sf_dir
        self.rng = rng
        self.svc = None
        self.results: list[tuple[str, tuple, object]] = []
        self.layer: dict = {}

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from technical_test_data_engineer_spark.service import QueryService

        self.n_customers = pq.ParquetFile(
            os.path.join(self.sf_dir, "customer.parquet")).metadata.num_rows
        h, tr = self.h, self.h.tracer
        self.svc = QueryService(h.spark, self.sf_dir)
        h.attempted += 2
        with tr.span("service.prepare", counted=False) as prep:
            with tr.span("service.plan"):
                fact = self.svc.prepare()
            with tr.span("service.cache_build") as cb:
                fact.count()
        storage = h.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.layer["service.prepare_s"] = prep.seconds
        self.layer["service.cache_build_s"] = cb.seconds
        self.layer["service.cached_bytes"] = float(sum(s.memSize() for s in storage))
        with tr.span("service.widgets") as w:
            self.bounds = self.svc.date_bounds()
            self.legend = self.svc.priority_legend()
            self.nations = self.svc.nation_options()
        self.layer["service.widgets_s"] = w.seconds
        for _ in range(self.WARM_ROUNDS):
            self.run_pass(traced=False, record=False)

    def _params(self, plot: str) -> tuple:
        lo, hi = self.bounds
        if plot in ("plot1", "plot2"):
            day = lo + dt.timedelta(days=self.rng.randrange((hi - lo).days + 1))
            if plot == "plot1":
                return (day.isoformat(),)
            k = self.rng.randint(1, 5)
            return (day.isoformat(), tuple(sorted(self.rng.sample(self.nations, k))))
        if plot == "plot3":
            return (self.rng.randrange(self.n_customers),)
        return ()

    def _build(self, plot: str, params: tuple):
        s = self.svc
        if plot == "plot1":
            return s.plot1_priority_histogram(dt.date.fromisoformat(params[0]))
        if plot == "plot2":
            return s.plot2_nation_breakdown(dt.date.fromisoformat(params[0]), list(params[1]))
        if plot == "plot3":
            return s.plot3_entity_gantt(params[0])
        return s.plot4_daily_series()

    def run_pass(self, traced: bool, record: bool = True) -> Pass:
        ops = []
        with self.h.tracer.span("pass", counted=False) as p:
            for plot in self.rng.sample(PLOTS, len(PLOTS)):
                params = self._params(plot)
                pdf, op = self.h.run_op(
                    plot, lambda: self._build(plot, params), lambda df: df.toPandas(),
                    release=False)
                self.results.append((plot, params, pdf))
                if op is not None:
                    ops.append(op)
        return Pass(p.seconds, traced, ops) if record else None

    def refresh(self) -> None:
        """The scrape button: drop the cache and rebuild it."""
        self.h.attempted += 1
        with self.h.tracer.span("service.refresh") as r:
            try:
                self.svc.refresh().count()
            except Exception as ex:  # noqa: BLE001 — counted
                self.h.fail(f"refresh: {type(ex).__name__}: {ex}")
        self.layer["service.refresh_s"] = r.seconds

    def check(self, con) -> None:
        con.execute(FACT_SQL)
        lo, hi = con.execute("SELECT min(debut), max(fin) FROM fact").fetchone()
        if (lo, hi) != tuple(self.bounds):
            self.h.fail(f"date_bounds {self.bounds} != {(lo, hi)}")
        legend = dict(con.execute(
            "SELECT o_orderpriority, count(*) FROM fact GROUP BY 1").fetchall())
        if legend != self.legend:
            self.h.fail("priority_legend differs from DuckDB")
        nations = [r[0] for r in con.execute(
            "SELECT DISTINCT n_name FROM fact ORDER BY 1").fetchall()]
        if nations != self.nations:
            self.h.fail("nation_options differs from DuckDB")
        want: dict[tuple, list[str]] = {}
        for plot, params, pdf in self.results:
            if pdf is None:
                continue  # its failure is already counted
            key = (plot, params)
            if key not in want:
                want[key] = canon_rows(*vl._oracle_fetch(con, plot_sql(plot, params)))
            got = canon_rows(vl._rows_from_pandas(pdf), list(pdf.columns))
            if got != want[key]:
                self.h.fail(f"{plot}{params}: differs from DuckDB")

    def layer_metrics(self, traced: list[Pass]) -> dict:
        out = dict(self.layer)
        for plot in PLOTS:
            out[f"service.{plot}_s"] = median(
                [o.seconds for p in traced for o in p.ops if o.name == plot])
        ops = [o for p in traced for o in p.ops]
        jobs = [o.build_counters.get("jobs", 0) + o.exec_counters.get("jobs", 0) for o in ops]
        out["service.jobs_per_interaction"] = sum(jobs) / len(jobs) if jobs else 0.0
        out["service.cached_rdds_end"] = float(
            self.h.spark.sparkContext._jsc.getPersistentRDDs().size())
        return out


# ---------------------------------------------------------------------------
# ingest_dedup
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.5


def _listing(path: str) -> dict[str, int]:
    """Visible data files under ``path`` with their sizes."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, as ``operators.dedup.word_shingles``."""
    toks = text.split(" ")
    if len(toks) < n:
        return {text}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class IngestWorkload:
    """The exactly-once ingest-dedup loop through
    ``streaming.neardup.process_ingest_batch``: each pass is one fresh
    batch's turn (until it commits) plus a seeded replay of a batch that
    already committed, which must write nothing."""

    BANDS, PAIRS = "bench_bands", "bench_pairs"
    WARM_TURNS = 2
    NOMINAL_PASS_S = 2.4

    def __init__(self, h, rng: random.Random, inputs_dir: str, n_batches: int):
        self.h = h
        self.rng = rng
        self.inputs = inputs_dir
        self.n_batches = n_batches
        self.next_batch = 0
        self.layer: dict = {}
        self.written: list[tuple[int, int]] = []

    def _batch_path(self, k: int) -> str:
        return os.path.join(self.inputs, f"batch_{k:04d}.parquet")

    def _tables(self) -> dict[str, int]:
        wh = self.h.run_dir.sub("warehouse")
        return {**_listing(os.path.join(wh, self.BANDS)), **_listing(os.path.join(wh, self.PAIRS))}

    def _turn(self, k: int):
        from technical_test_data_engineer_spark.streaming.neardup import process_ingest_batch

        spark = self.h.spark
        before = self._tables()
        _, op = self.h.run_op(
            "turn",
            lambda: spark.read.parquet(self._batch_path(k)),
            lambda df: process_ingest_batch(df, k, self.BANDS, self.PAIRS,
                                            n_buckets=self.h.cpus),
            release=False)
        after = self._tables()
        new = set(after) - set(before)
        self.written.append((len(new), sum(after[p] for p in new)))
        return op

    def _replay(self) -> float:
        """Replay a committed batch under its own id; any write is an error."""
        from technical_test_data_engineer_spark.streaming.neardup import process_ingest_batch

        k = self.rng.randrange(self.next_batch)
        spark = self.h.spark
        before = self._tables()
        self.h.attempted += 1
        with self.h.tracer.span("replay") as r:
            try:
                process_ingest_batch(spark.read.parquet(self._batch_path(k)), k,
                                     self.BANDS, self.PAIRS, n_buckets=self.h.cpus)
            except Exception as ex:  # noqa: BLE001 — counted
                self.h.fail(f"replay {k}: {type(ex).__name__}: {ex}")
        if self._tables() != before:
            self.h.fail(f"replay of batch {k} wrote to the tables")
        return r.seconds

    def setup(self) -> None:
        from technical_test_data_engineer_spark.operators.dedup import materialize_band_table

        spark = self.h.spark
        self.h.attempted += 1
        with self.h.tracer.span("dedup.backfill") as b:
            materialize_band_table(
                spark.read.parquet(os.path.join(self.inputs, "backfill.parquet")),
                self.BANDS, n_buckets=self.h.cpus, ingest_batch=-1)
        self.layer["dedup.backfill_s"] = b.seconds
        for _ in range(self.WARM_TURNS):
            self.run_pass(traced=False)

    def run_pass(self, traced: bool) -> Pass | None:
        k = self.next_batch
        if k >= self.n_batches:
            return None
        with self.h.tracer.span("pass", counted=False) as p:
            op = self._turn(k)
            self.next_batch += 1
            replay_s = self._replay()
        ops = [] if op is None else [op]
        return Pass(p.seconds, traced, ops, {"replay_s": replay_s,
                                             "files": self.written[-1][0],
                                             "bytes": self.written[-1][1]})

    def _processed(self):
        spark = self.h.spark
        new = [self._batch_path(k) for k in range(self.next_batch)]
        back = os.path.join(self.inputs, "backfill.parquet")
        return spark.read.parquet(back, *new), spark.read.parquet(*new)

    def check(self, con) -> None:
        from technical_test_data_engineer_spark.operators.dedup import (
            DEFAULT_HOT_BUCKET_CAP,
            hot_bucket_report,
            minhash_incremental_pairs,
        )
        from technical_test_data_engineer_spark.streaming.neardup import stored_candidates

        spark = self.h.spark
        rows = stored_candidates(spark, self.PAIRS).collect()
        got = {(r.id_a, r.id_b) for r in rows}
        self.candidates = got
        if len(got) != len(rows):
            self.h.fail("a candidate pair was stored by two batches")
        # the loop ran with the default hot-bucket cap; parity with the
        # uncapped one-shot run holds only while no bucket reaches it
        bands = spark.table(self.BANDS)
        if not hot_bucket_report(bands, ["_band", "_bh"], DEFAULT_HOT_BUCKET_CAP).isEmpty():
            self.h.fail("hot-bucket cap active: parity check not applicable")
        corpus, new = self._processed()
        want = {(r.id_a, r.id_b) for r in minhash_incremental_pairs(
            corpus, new, threshold=0.0, hot_bucket_cap=None).collect()}
        if got != want:
            self.h.fail(f"stored candidates != one-shot incremental set "
                        f"({len(got)} vs {len(want)})")

    def quality(self, con) -> tuple[float, float]:
        """Precision (candidates at Jaccard >= threshold / candidates) and
        recall (found / all such pairs with a new side), from exact
        shingle-set Jaccard computed in DuckDB."""
        import pandas as pd

        corpus, new = self._processed()
        docs = corpus.toPandas()
        new_ids = {int(r.doc_id) for r in new.select("doc_id").collect()}
        sh = pd.DataFrame(
            [(int(i), s) for i, t in zip(docs.doc_id, docs.text) for s in shingles(t)],
            columns=["doc_id", "sh"])
        con.register("sh", sh)
        pairs = con.execute("""
            WITH sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
                      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT id_a, id_b, k / (sa.n + sb.n - k) AS j FROM inter
            JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b""").fetchall()
        con.unregister("sh")
        jac = {(a, b): j for a, b, j in pairs}
        truth = {p for p, j in jac.items()
                 if j >= JACCARD_THRESHOLD and (p[0] in new_ids or p[1] in new_ids)}
        cands = self.candidates
        good = sum(1 for p in cands if jac.get(p, 0.0) >= JACCARD_THRESHOLD)
        precision = good / len(cands) if cands else 1.0
        recall = len(cands & truth) / len(truth) if truth else 1.0
        return precision, recall

    def layer_metrics(self, traced: list[Pass]) -> dict:
        out = dict(self.layer)
        ops = [o for p in traced for o in p.ops]
        out["neardup.turn_s"] = median([o.seconds for o in ops])
        out["neardup.replay_s"] = median([p.extra["replay_s"] for p in traced])
        jobs = [o.build_counters.get("jobs", 0) + o.exec_counters.get("jobs", 0) for o in ops]
        out["neardup.jobs_per_turn"] = sum(jobs) / len(jobs) if jobs else 0.0
        out["neardup.files_written"] = median([p.extra["files"] for p in traced])
        out["neardup.bytes_written"] = median([p.extra["bytes"] for p in traced])
        turns = max(1, self.next_batch)
        out["neardup.candidates"] = len(getattr(self, "candidates", ())) / turns
        return out
