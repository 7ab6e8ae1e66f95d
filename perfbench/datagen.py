"""Seeded generator for the engine's star schema.

Writes the ten tables the query registry reads (``region`` .. ``embeddings``)
as one parquet file each, with the column names, types and value
distributions of the fixture schema described in ``FIXTURES.md``: uniform
independent columns, 1995-2001 order/ship dates, a 31-word document
vocabulary with 5% planted ``" dup"`` near-duplicates, and 64-dim unit
embeddings around ten weak label centroids. The same ``(sf, seed)`` always
yields byte-identical values, so a benchmark run is reproducible from its
seed alone.

``run.py`` calls it as a child process, so that the benchmark process's
own peak resident set size counts the run and not the input generation:

    python3 perfbench/datagen.py OUT_DIR --sf 0.01 --seed 1 [--ingest-dir DIR]

prints ``{"rows": {table: count}, "n_batches": ...}`` as one JSON line.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(iso: str) -> int:
    return int((np.datetime64(iso, "D") - _EPOCH).astype(int))


def _ts_us(days: np.ndarray) -> pa.Array:
    """Midnight TIMESTAMP(us) without a time zone (Spark TIMESTAMP_NTZ)."""
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf 0.1 = 600k lineitem rows)."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table of the schema as an Arrow table."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )

    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )

    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)
            ),
        }
    )

    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
            "o_orderdate": _ts_us(
                rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, no)
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )

    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _ts_us(
                rng.integers(_days("1995-01-02"), _days("2001-11-04") + 1, nl)
            ),
        }
    )

    ne = n["events"]
    start_us = _days("2024-01-01") * 86_400_000_000
    span_us = 30 * 86_400_000_000
    ts = start_us + np.sort(rng.integers(0, span_us, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )

    out["documents"] = documents_table(rng, n["documents"])
    out["embeddings"] = embeddings_table(rng, n["embeddings"])
    return out


def random_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n_words)])


def documents_table(rng: np.random.Generator, nd: int) -> pa.Table:
    """``nd`` documents; every 20th is an earlier document plus ``" dup"``."""
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(random_text(rng, int(rng.integers(10, 101))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, nd, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, nv: int) -> pa.Table:
    centers = rng.normal(0.0, 0.07, (10, EMBED_DIM))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.125, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(nv + 1) * EMBED_DIM, pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_star(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``sf_dir``; returns the row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in star_tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def day_range() -> tuple[dt.date, dt.date]:
    """First and last order date the generator can emit."""
    return dt.date(1995, 1, 1), dt.date(2001, 8, 1)


# ---------------------------------------------------------------------------
# the ingest stream of the ingest_dedup workload
# ---------------------------------------------------------------------------

INGEST_BATCH = 25
BACKFILL_SHARE = 0.4
PLANTED_SHARE = 0.1


def make_ingest_inputs(sf_dir: str, out_dir: str, seed: int) -> int:
    """Seeded ingest stream over the generated documents: a permutation,
    with perturbed near-duplicate copies planted at least one batch
    after their source, split into a backfill prefix and fixed-size
    batches. Returns the number of batches."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    rng = np.random.default_rng(seed + 1)
    n = len(docs["doc_id"])
    perm = rng.permutation(n)
    ids = [int(docs["doc_id"][i]) for i in perm]
    texts = [docs["text"][i] for i in perm]
    keys = list(range(n))
    next_id = max(ids) + 1
    for j in range(int(n * PLANTED_SHARE)):
        src = int(rng.integers(0, n - 2 * INGEST_BATCH))
        words = texts[src].split(" ")
        for pos in rng.integers(0, len(words), 2):
            words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        ids.append(next_id + j)
        texts.append(" ".join(words))
        keys.append(float(rng.uniform(src + INGEST_BATCH, n)) + 0.5)
    order = sorted(range(len(ids)), key=lambda i: keys[i])
    ids = [ids[i] for i in order]
    texts = [texts[i] for i in order]
    n_back = int(len(ids) * BACKFILL_SHARE)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, lo, hi):
        pq.write_table(pa.table({"doc_id": pa.array(ids[lo:hi], pa.int64()),
                                 "text": pa.array(texts[lo:hi], pa.string())}),
                       os.path.join(out_dir, f"{name}.parquet"))

    write("backfill", 0, n_back)
    n_batches = (len(ids) - n_back) // INGEST_BATCH
    for k in range(n_batches):
        lo = n_back + k * INGEST_BATCH
        write(f"batch_{k:04d}", lo, lo + INGEST_BATCH)
    return n_batches


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="Write the seeded inputs of one benchmark run.")
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ingest-dir", default=None,
                    help="also write the ingest stream (backfill and batches) here")
    args = ap.parse_args(argv)
    out = {"rows": write_star(args.out_dir, args.sf, args.seed)}
    if args.ingest_dir:
        out["n_batches"] = make_ingest_inputs(args.out_dir, args.ingest_dir, args.seed)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
