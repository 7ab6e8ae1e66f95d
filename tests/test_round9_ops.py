"""Round-9 operator tests: independent references and invariants for
the anchor-routing recall curve, the DoReMi-style mixture, the LSH
s-curve calibration, and the cluster-aware split audit — complements
the oracle gate with pure-Python recomputation (hashlib md5 splits,
repeated-squaring s-curve) and the probe-all / monotonicity invariants
the curves must satisfy by construction.
"""

from __future__ import annotations

import hashlib
import math

from technical_test_data_engineer_spark.observe import formatted_plan, scan_counts
from technical_test_data_engineer_spark.plans import QUERIES


def test_anchor_recall_probeall_is_one_and_monotone(spark, sf_dir):
    from technical_test_data_engineer_spark.plans.similarity_queries import (
        N_ANCHOR_CELLS,
        PROBE_GRID,
        TOP_K,
        knn_anchor_routing_recall,
    )

    rows = knn_anchor_routing_recall(spark, sf_dir).collect()
    per_q: dict[int, dict[int, int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, {})[r.nprobe] = r.n_found
    assert per_q, "no queries"
    for q, found in per_q.items():
        assert set(found) == set(PROBE_GRID)
        # probing every cell must recover the entire exact top-k
        assert found[N_ANCHOR_CELLS] == TOP_K, (q, found)
        # recall is monotone nondecreasing in probe budget
        seq = [found[p] for p in sorted(found)]
        assert seq == sorted(seq), (q, seq)
    # recall = n_found / k, re-derived per row
    for r in rows:
        assert r.recall_at_k == round(r.n_found / float(TOP_K), 6)


def test_doremi_weights_normalize_and_order_by_excess(spark, sf_dir):
    from technical_test_data_engineer_spark.plans.text_queries import (
        source_doremi_mixture,
    )

    rows = source_doremi_mixture(spark, sf_dir).collect()
    assert len(rows) >= 2
    # mixture sums to 1 up to the 6dp output rounding
    assert abs(sum(r.doremi_weight for r in rows) - 1.0) < 1e-4
    # exponentiated-gradient: weight strictly increases with excess loss
    by_excess = sorted(rows, key=lambda r: r.excess_loss)
    weights = [r.doremi_weight for r in by_excess]
    assert weights == sorted(weights), [
        (r.source, r.excess_loss, r.doremi_weight) for r in by_excess
    ]
    # excess losses are centered: token-weighted mean is ~0
    num = sum(r.excess_loss * r.n_tokens for r in rows)
    assert abs(num / sum(r.n_tokens for r in rows)) < 1e-5


def test_scurve_matches_pure_python_repeated_squaring(spark, sf_dir):
    from technical_test_data_engineer_spark.plans.dedup_queries import (
        _SCURVE_CONFIGS,
        minhash_scurve_calibration,
    )

    rows = minhash_scurve_calibration(spark, sf_dir).collect()
    assert rows, "calibration needs at least one candidate pair"
    assert {(r.bands, r.rows_per_band) for r in rows} == set(_SCURVE_CONFIGS)
    # per-row: detect_prob == 1-(1-s^r)^b recomputed with the SAME
    # repeated-squaring order in python floats (IEEE-identical), from
    # the rounded jaccard (within its 5e-7 rounding slack)
    for r in rows:
        s = r.jaccard

        def sq(x: float, times: int) -> float:
            for _ in range(times):
                x = x * x
            return x

        u = 1.0 - sq(s, r.rows_per_band.bit_length() - 1)
        expect = 1.0 - sq(u, r.bands.bit_length() - 1)
        # jaccard was rounded to 6dp for output; the curve is Lipschitz
        # (|d/ds| <= b*r on [0,1]), so 5e-7 input slack bounds the gap
        assert abs(r.detect_prob - expect) <= 32 * 5e-7 + 1e-6, r
    # permissive layouts dominate sharp ones at the near-dup end: at
    # s >= 0.9 the 16x2 detection probability is effectively 1
    for r in rows:
        if r.jaccard >= 0.9 and (r.bands, r.rows_per_band) == (16, 2):
            assert r.detect_prob >= 0.999, r


def test_cluster_split_matches_hashlib_and_blocks_leaks(spark, sf_dir):
    import duckdb

    from technical_test_data_engineer_spark.plans.dedup_queries import (
        cluster_aware_split_audit,
    )

    rows = cluster_aware_split_audit(spark, sf_dir).collect()
    assert rows, "audit needs at least one near-dup pair"
    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
            "WHERE doc_id < 450"
        ).fetchall()
    )

    def md5_split(key: str) -> str:
        b = int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % 100
        return "train" if b < 90 else "val"

    for r in rows:
        # naive per-doc split re-derived with hashlib
        assert r.naive_split_a == md5_split(texts[r.id_a]), r
        assert r.naive_split_b == md5_split(texts[r.id_b]), r
        assert r.naive_leaked == (r.naive_split_a != r.naive_split_b), r
        # the cluster-keyed split is a single value per pair by
        # construction — and it is a valid md5 bucket label
        assert r.cluster_split in ("train", "val")
    # the audit is non-vacuous only if the fixture plants enough pairs
    # for the naive split to leak with high probability (~1 - 0.82^n);
    # with >= 10 pairs a zero leak count would itself be suspicious,
    # but we only assert the weaker structural property above.


def test_scurve_monotone_in_similarity(spark, sf_dir):
    """Within a fixed (bands, rows) layout the detection probability is
    nondecreasing in Jaccard — the property that makes it an s-CURVE."""
    from technical_test_data_engineer_spark.plans.dedup_queries import (
        minhash_scurve_calibration,
    )

    rows = minhash_scurve_calibration(spark, sf_dir).collect()
    by_cfg: dict[tuple, list] = {}
    for r in rows:
        by_cfg.setdefault((r.bands, r.rows_per_band), []).append(
            (r.jaccard, r.detect_prob)
        )
    for cfg, pts in by_cfg.items():
        pts.sort()
        probs = [p for _, p in pts]
        assert probs == sorted(probs), (cfg, pts)


def test_matryoshka_single_pass_scan_count(spark, sf_dir):
    """The r09 single-pass rewrite's contract: embeddings scans exactly
    twice (the fanned-out corpus side and the broadcast query side of
    ONE pair enumeration) — the four-pass form scanned it ten times
    unpersisted."""
    df = QUERIES["matryoshka_recall_curve"](spark, sf_dir)
    counts = scan_counts(df)
    assert counts["embeddings"] == 2, (counts, formatted_plan(df))


def test_anchor_routing_scan_budget(spark, sf_dir):
    """Cell argmax rides the corpus scan as literal-anchor expressions
    (no join, no shuffle, no window over corpus rows): the plan's four
    embeddings scans are the 8-row anchor collect feed, the assignment
    pass, the query-bounded probe filter, and the exact-reference pass
    — documented in audit_scans.py; a fifth scan means the routing
    side regressed to a join shape."""
    df = QUERIES["knn_anchor_routing_recall"](spark, sf_dir)
    counts, plan = scan_counts(df), formatted_plan(df)
    assert counts["embeddings"] <= 4, (counts, plan)
    assert "CartesianProduct" not in plan, plan


def test_coreset_matches_numpy_greedy_and_is_submodular(spark, sf_dir):
    """Facility-location greedy re-derived in numpy over the SAME
    integer-scaled similarities (sign-aware half-away rounding mirrors
    both engines' ROUND): picks, coverages, and gains must match
    exactly, and the marginal gains must be nonincreasing (the
    submodularity certificate the query's output carries)."""
    import duckdb
    import numpy as np

    from technical_test_data_engineer_spark.plans.similarity_queries import (
        CORESET_BOUND,
        embedding_coreset_facility3,
    )

    rows = embedding_coreset_facility3(spark, sf_dir).collect()
    assert [r.step for r in rows] == [1, 2, 3]
    gains = [r.marginal_gain for r in rows]
    assert gains == sorted(gains, reverse=True), rows
    assert len({r.vec_id for r in rows}) == 3

    vecs = dict(
        duckdb.sql(
            f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
            f"WHERE vec_id < {CORESET_BOUND}"
        ).fetchall()
    )
    ids = sorted(vecs)
    X = np.array([vecs[i] for i in ids], dtype=np.float64)
    # per-element rounding mirrors both engines exactly (numpy's fused
    # matmul would differ in the last ulp BEFORE rounding); ReLU clamp
    # matches the query's nonneg facility-location form
    S = np.empty((len(ids), len(ids)), dtype=np.int64)
    for ai in range(len(ids)):
        terms = X[ai] * X * 1e10  # element-wise, row-broadcast
        dots = (np.sign(terms) * np.floor(np.abs(terms) + 0.5)).sum(
            axis=1
        ).astype(np.int64)
        S[ai] = np.maximum(dots, 0)
    picked, cov = [], np.zeros(len(ids), dtype=np.int64)
    prev_tot = 0
    for step in range(3):
        best_i, best_tot = None, None
        for ai, i in enumerate(ids):
            if i in picked:
                continue
            tot = int(np.maximum(cov, S[ai]).sum())
            if best_tot is None or tot > best_tot:
                best_i, best_tot, best_ai = i, tot, ai
        picked.append(best_i)
        cov = np.maximum(cov, S[best_ai])
        r = rows[step]
        assert r.vec_id == best_i, (step, r, best_i)
        assert r.coverage == round(best_tot / 1e10, 6), (step, r, best_tot)
        assert r.marginal_gain == round((best_tot - prev_tot) / 1e10, 6)
        prev_tot = best_tot


def test_best_of_n_yield_curve_shape(spark, sf_dir):
    """E[max of n] estimates: bounded in [0, 1] (the reward is a
    ratio), group accounting exact (n_groups * n <= source doc count),
    and the curve rises with n (exact for nested aligned groups over
    common coverage; 0.05 slack absorbs the trailing-group coverage
    difference on small sources)."""
    import duckdb

    from technical_test_data_engineer_spark.plans.text_queries import (
        source_best_of_n_yield,
    )

    rows = source_best_of_n_yield(spark, sf_dir).collect()
    assert rows
    counts = dict(
        duckdb.sql(
            f"SELECT source, COUNT(*) FROM '{sf_dir}/documents.parquet' "
            "GROUP BY source"
        ).fetchall()
    )
    per_src: dict[str, dict[int, float]] = {}
    for r in rows:
        assert 0.0 <= r.mean_best <= 1.0, r
        assert r.n_groups * r.n <= counts[r.source], r
        assert r.n_groups == counts[r.source] // r.n, r
        per_src.setdefault(r.source, {})[r.n] = r.mean_best
    for src, curve in per_src.items():
        assert 1 in curve, (src, curve)
        ns = sorted(curve)
        for lo, hi in zip(ns, ns[1:]):
            assert curve[hi] >= curve[lo] - 0.05, (src, curve)
