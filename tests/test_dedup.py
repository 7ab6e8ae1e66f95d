"""Dedup operators: planted-duplicate recall (the testable contract for
hash-based approximations, SURVEY.md §7 hard-part #3) + exact metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.dedup import (
    exact_dedup,
    jaccard,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
    word_shingles,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest tonight")
NEAR = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark woods tonight")          # 1 word changed
OTHER = ("completely different content about spark query engines and "
         "distributed columnar execution at massive scale today")


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE)],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_lowest_id(spark):
    out = exact_dedup(_docs(spark), ["text"], [F.asc("doc_id")])
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3]


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    sh = df.select(word_shingles("text", 3).alias("s")).collect()[0].s
    assert sorted(sh) == ["a b c", "b c d"]
    df2 = spark.createDataFrame([(["x", "y"], ["y", "z"])], "a array<string>, b array<string>")
    j = df2.select(jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0].j
    assert abs(j - 1 / 3) < 1e-12


def test_minhash_finds_planted_near_dup(spark):
    pairs = minhash_near_dup_pairs(_docs(spark), threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got            # exact dup pair always collides
    assert (1, 2) in got            # planted near-dup (1 word of 18)
    assert (1, 3) not in got        # unrelated text never passes verify


def test_minhash_exact_dup_jaccard_is_one(spark):
    pairs = minhash_near_dup_pairs(_docs(spark), threshold=0.5)
    j = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert j[(1, 4)] == 1.0


def test_minhash_candidates_persist_for_multi_consumer(spark):
    # the shared-pipeline contract: persist=True caches the verified
    # pair set so several consumers (audit + clustering) reuse one
    # shingle/band/verify run; results identical to the recompute path
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_candidates,
    )

    pairs = minhash_candidates(_docs(spark), threshold=0.5, persist=True)
    try:
        assert pairs.storageLevel.useMemory or pairs.storageLevel.useDisk
        got = {(r.id_a, r.id_b) for r in pairs.collect()}  # consumer 1
        assert pairs.count() == len(got)                   # consumer 2
        fresh = {(r.id_a, r.id_b)
                 for r in minhash_candidates(_docs(spark), threshold=0.5).collect()}
        assert got == fresh
    finally:
        pairs.unpersist()


def test_simhash_planted_near_dup(spark):
    # planted pair measures Hamming 7; 8 bands guarantee candidates ≤ 7
    pairs = simhash_near_dup_pairs(_docs(spark), max_hamming=7)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((1, 4)) == 0     # identical text → identical simhash
    assert got.get((1, 2)) == 7     # near-dup within hamming budget
    assert (1, 3) not in got


def test_minhash_incremental_only_new_involving_pairs(spark):
    # planted corpus: (1,2) near-dups both OLD; (1,4) exact dups both
    # OLD; (7) NEW near-dup of 1 — incremental must report ONLY pairs
    # touching the new batch, and must agree with the all-pairs
    # pipeline on those pairs
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_candidates,
        minhash_incremental_pairs,
    )

    docs = _docs(spark)
    base_text = docs.filter("doc_id = 1").collect()[0].text
    new_rows = [(7, base_text + " extra")]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    corpus = docs.unionByName(new)

    inc = {
        (r.id_a, r.id_b)
        for r in minhash_incremental_pairs(corpus, new, threshold=0.5).collect()
    }
    assert all(7 in p for p in inc), inc          # every pair touches new
    assert (1, 7) in inc                          # new near-dup found
    assert (1, 2) not in inc and (1, 4) not in inc  # old-vs-old excluded

    full = {
        (r.id_a, r.id_b)
        for r in minhash_candidates(corpus, threshold=0.5).collect()
    }
    assert inc == {p for p in full if 7 in p}     # agrees with all-pairs


def _hot_corpus(spark):
    # 100 IDENTICAL docs (the boilerplate/license-block degenerate case:
    # every band bucket holds all 100 → 100² candidate rows per band
    # without a guard) + a planted near-dup pair of UNRELATED text whose
    # buckets stay cold.
    rows = [(i, BASE) for i in range(100)]
    rows += [(2000, OTHER), (2001, OTHER.replace("today", "tomorrow"))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_bucket_cap_guards_degenerate_buckets(spark):
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_candidates,
    )

    pairs = minhash_candidates(_hot_corpus(spark), threshold=0.5,
                               hot_bucket_cap=50)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # capped buckets emit NO pairs — the m² blowup never reaches the join
    assert not any(a < 100 and b < 100 for a, b in got), got
    # cold buckets are untouched: the planted near-dup is still found
    assert (2000, 2001) in got


def test_minhash_hot_bucket_cap_none_keeps_identical_pairs(spark):
    # cap=None restores the uncapped round-3 semantics (proving the cap
    # is what suppressed the hot pairs, not a hashing accident)
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_candidates,
    )

    pairs = minhash_candidates(_hot_corpus(spark), threshold=0.5,
                               hot_bucket_cap=None)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (2000, 2001) in got


def test_hot_bucket_report_lists_dropped_buckets(spark):
    from technical_test_data_engineer_spark.operators.dedup import (
        _minhash_base_and_bands,
        hot_bucket_report,
    )

    _, banded = _minhash_base_and_bands(
        _hot_corpus(spark), "doc_id", "text", 3, 32, 8, 42, False
    )
    hot = hot_bucket_report(banded, ["_band", "_bh"], cap=50).collect()
    # all 8 bands of the identical-100 group are hot, population 100
    assert len(hot) == 8 and all(r.bucket_n == 100 for r in hot)


def test_simhash_hot_bucket_cap(spark):
    # identical docs → identical simhash → every band bucket holds all
    # 100; the cap suppresses them while the unrelated planted pair
    # (distinct band values) still verifies
    pairs = simhash_near_dup_pairs(_hot_corpus(spark), max_hamming=7,
                                   hot_bucket_cap=50)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert not any(a < 100 and b < 100 for a, b in got), got
    assert (2000, 2001) in got


def test_band_table_incremental_join_skips_corpus_shuffle(spark, plan_nodes):
    # the stored-band-table ingest path: corpus bands live in a table
    # bucketed on the band join keys, so the per-ingest candidate join
    # shuffles ONLY the new batch — the corpus side reads in place.
    from technical_test_data_engineer_spark.operators.dedup import (
        incremental_candidates_vs_band_table,
        materialize_band_table,
        minhash_candidates,
    )

    old = _docs(spark)                      # docs 1-4 (1,2 near-dups)
    base_text = old.filter("doc_id = 1").collect()[0].text
    new = spark.createDataFrame(
        [(7, base_text + " extra")], "doc_id long, text string"
    )
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("band_corpus_t", "band_corpus_plain"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    materialize_band_table(old, "band_corpus_t", n_buckets=4)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cands = incremental_candidates_vs_band_table(
            spark, "band_corpus_t", new, hot_bucket_cap=None
        )
        got = {(r.id_a, r.id_b) for r in cands.collect()}
        # the new near-dup of doc 1 must band-collide; old-vs-old pairs
        # can never appear (the join requires a new-batch side)
        assert (1, 7) in got, got
        assert all(7 in p for p in got), got
        # executedPlan prints Final AND Initial sections — count only
        # the final one
        plan = (
            cands._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        # exactly two hash exchanges: the new batch shuffling to the
        # bucket layout, and the pair dropDuplicates — NONE above the
        # corpus band-table scan (bucketing pre-paid it)
        nodes = plan_nodes(cands, "executed")
        assert nodes["HashPartitioning"] == 2, (nodes, plan)
        assert "FileScan parquet" in plan and "Bucketed: true" in plan, plan

        # control: same join against an UNBUCKETED copy needs a third
        # exchange to co-locate the corpus bands
        from technical_test_data_engineer_spark.operators.dedup import (
            band_table,
        )

        spark.sql("DROP TABLE IF EXISTS band_corpus_plain")
        band_table(old).write.mode("overwrite").saveAsTable(
            "band_corpus_plain"
        )
        plain = incremental_candidates_vs_band_table(
            spark, "band_corpus_plain", new, hot_bucket_cap=None
        )
        pnodes = plan_nodes(plain, "executed")
        assert pnodes["HashPartitioning"] == 3, pnodes
        assert {(r.id_a, r.id_b) for r in plain.collect()} == got

        # the stored-table path generates exactly the candidates the
        # recompute path verifies from (planted pair set agrees)
        verified = {
            (r.id_a, r.id_b)
            for r in minhash_candidates(
                old.unionByName(new), threshold=0.5
            ).collect()
            if 7 in (r.id_a, r.id_b)
        }
        assert verified <= got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS band_corpus_t")
        spark.sql("DROP TABLE IF EXISTS band_corpus_plain")


def test_semantic_dedup_keeps_lowest_centroid_sim(spark):
    """Planted 2-cluster fixture: near-dup pair inside cluster 0 must
    drop its higher-centroid-sim member; the cross-cluster near-equal
    pair must survive (pairing is cluster-scoped); singletons and
    capped-cell rows always stay in the kept set."""
    from technical_test_data_engineer_spark.operators.dedup import semantic_dedup

    centroids = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [1.0, 0.0]),       # cluster 0, sim 1.0   (prototype → dropped)
        (2, [0.9, 0.05]),      # cluster 0, sim 0.9   (near-dup of 1, kept)
        (3, [0.1, 0.99]),      # cluster 1; dot(3,4) < threshold
        (4, [-1.0, 0.0]),      # cluster 1 (sims -1.0 / 0.0); no pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semantic_dedup(df, centroids, threshold=0.8).orderBy("vec_id")
    got = {(r.vec_id, r.cluster) for r in kept.collect()}
    # pair (1,2): dot = 0.9 + 0.0... >= 0.8 → drop vec 1 (csim 1.0 > 0.9)
    assert (1, 0) not in got
    assert (2, 0) in got
    # vecs 3/4 are singletons in their cluster scope → kept
    assert any(v == 3 for v, _ in got)
    assert any(v == 4 for v, _ in got)


def test_semantic_dedup_hot_cluster_cap_keeps_universe(spark):
    """A degenerate cell over the cap is excluded from PAIRING (no m²
    join) but its rows must still be emitted as kept — the cap guards
    the self-join, never the survivor universe."""
    from technical_test_data_engineer_spark.operators.dedup import semantic_dedup

    centroids = [[1.0, 0.0]]
    rows = [(i, [1.0, 0.0]) for i in range(50)]  # 50 identical vectors
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = semantic_dedup(df, centroids, threshold=0.8, hot_cluster_cap=10)
    assert capped.count() == 50  # nothing pruned: cell skipped pairing
    uncapped = semantic_dedup(df, centroids, threshold=0.8, hot_cluster_cap=None)
    assert uncapped.count() == 1  # full pairing collapses the clones


def test_loop_twin_fixture_cap_inactive(spark):
    """The pin ingest_loop_exactly_once's docstring promises: at the
    driver gate fixture (sf0.01 documents, doc_id < _LOOP_TWIN_BOUND)
    the DEFAULT_HOT_BUCKET_CAP is INACTIVE — no (band, bucket)
    population reaches the cap, so the twin's exact-recall oracle can
    never be redded by cap drops. Doubly safe: the fixture has fewer
    docs than the cap, so no bucket CAN saturate; the empirical max is
    asserted anyway so a cap or banding change trips here first, not
    at the driver."""
    from technical_test_data_engineer_spark.operators.dedup import (
        DEFAULT_HOT_BUCKET_CAP,
        band_table,
    )
    from technical_test_data_engineer_spark.plans.dedup_queries import (
        _LOOP_TWIN_BOUND,
    )

    assert _LOOP_TWIN_BOUND <= DEFAULT_HOT_BUCKET_CAP  # counting argument

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < _LOOP_TWIN_BOUND)
    )
    max_bucket = (
        band_table(docs)
        .groupBy("_band", "_bh")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_bucket < DEFAULT_HOT_BUCKET_CAP, max_bucket


# MinHash golden values: (signature, per-band hash) of three fixed docs
# under both hash families, captured from the original Column-composed
# builders. Any change
# to the hash conventions (seeded xxhash64 / md5-15-hex rehash, the
# comma-joined band keys) shows up here as a literal mismatch.
_GOLDEN_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a b"),  # shorter than n words: whole text is one shingle
    (3, "spark query engines scale to many terabytes of text today"),
]
_GOLDEN = {
    False: {
        "sig": {
            1: (
                2715941604714127536, -8540397928391236744, -9058374250418601238,
                -8157531427031984492, -8673155179644165439,
                -8674998710823896393, -8021025872377661311,
                -7061889652874787315, -8685754645163073606,
                -7592270703177338895, -8885987875168813293,
                -8019164851282560333, -7331972879179354922,
                -5180779837917881349, -9131819196861081170,
                -7517850084079056991, -8153121180121122992,
                -4739685940339098901, -8515692007999169340,
                -2644646468056067154, -4692513826164276541,
                -6673691428327526817, -7842854964866666611,
                -6227012703798529434, -7121333934631763994,
                -4927949980581656822, -9106559693190502535,
                -7874453842107173669, -9128996803759463645,
                -7975850242972467269, -9100030833589598980, -7685791601074335322,
            ),
            2: (
                -6329393701628165031, -5432251147969387931,
                -5797746198288252871, 8938083048805542818, -3620740095190823753,
                8033030381544932665, -2580960961282748366, 5588246066557293088,
                -738034458884638513, 1627467055556013906, -7224060890593736529,
                -6658062393494588633, 3483753434474928296, -6211461608647625349,
                357615929322986728, 7492631039297811062, -8940611527025933792,
                -3678397517463077212, 1662256102018992963, -3721484118560676099,
                925922654734573216, -3665906453195426404, 969791611612075724,
                887617191979111880, 977444232682293773, 4144743433349401718,
                5147275367121197764, 4549935010871149889, -2625175635133054955,
                3757477352149964411, -2384976225382906762, 5283710712139580175,
            ),
            3: (
                -7642100306534866493, -6612617790047657583,
                -7663173060530834811, -7601357033280860447,
                -7765101046122321631, -5704188873308897559,
                -8612535643912530991, -5240242572117475671,
                -8976836024210351712, -5184268857459979657,
                -3242478688937827936, -4356638146896121810,
                -6837117384582659237, -8398292945770966755,
                -5386813256793162722, -7987024002379004511,
                -7048741926955656411, -9103895557182544559,
                -7861410406907834225, -7435154767560326853,
                -7201877152383547843, -5690163006023156948,
                -8180762471532388923, -5562567668479718266,
                -6839961825053259226, -9023033085658470129,
                -5448026247438972709, -8569731716892895932,
                -7038220608451853575, -7140524466646970482,
                -8167713929550591287, -5016529973688695569,
            ),
        },
        "bands": {
            1: (
                -2461425675308283048, -3192952433592459466,
                -8347932230487240024, -5252883791237406974,
                -8707764208426893047, -5221441425874407181, 5833531570935365252,
                7558099193934688457,
            ),
            2: (
                -3718281593205048045, -5477343530024536307, 4096670789620746200,
                -2376602604405365109, -9151607209801967276,
                -8921941736714397703, 5415459948268073797, -1773980350664885322,
            ),
            3: (
                2730050797528528639, -8159426385540417034, -2826439483869220464,
                8373963366115331613, -1055408368510012363, 8298297682138065175,
                8656675787833833018, 9102647549916694167,
            ),
        },
    },
    True: {
        "sig": {
            1: (
                160771114455142242, 18773080016843869, 17306810710854777,
                340871790524086219, 29655652618776287, 229401515556448607,
                254243711716632132, 200059901277399189, 153053284859681458,
                57082086321589289, 204389684533430737, 432189626402954797,
                203427244007946499, 98837294857358585, 140321864255198260,
                78774251708875378, 128448576343853906, 12893676354473400,
                106066839815500029, 220647355628153539, 590504607837486223,
                218367437818792678, 355092413538503410, 58454442516025234,
                27742349575572223, 19093341886945424, 34862135036538808,
                459658660424046299, 18156686875304630, 361367721788607449,
                140437000674190070, 141246938689891189,
            ),
            2: (
                916057339139529073, 28821743517399948, 525542339672120589,
                1005394221831158884, 1013008201592228566, 1001205289212235565,
                737798094899513439, 1080948359658425045, 904364836217115282,
                97660345297853893, 967739415403359218, 464927232704270942,
                1004766933744566018, 380135176164946327, 597639096613710880,
                174557297892444810, 545875873770127571, 1028083365947974481,
                510292917143299569, 418027430614507730, 455496281625784384,
                323719309975266463, 484949300530942300, 76601631624021576,
                50057241616823927, 690584200261255136, 229178140902723303,
                508658228170897091, 834093343533434915, 147534163571140196,
                902043676980403392, 351149451471154643,
            ),
            3: (
                38478060544159714, 130850641370698173, 94507257265366793,
                173942684063049778, 7540631186755696, 20156225298789940,
                16355249315263418, 186864218758409523, 511692882131346275,
                343830858082891774, 8052585709966355, 261516803926956049,
                31114743672930571, 37835402583148334, 83937459137343584,
                24321840694685324, 63471175820976671, 50089022628646379,
                424102817117066593, 64988032635429667, 20182324970622713,
                1773627079992929, 173941145975326124, 101656988182978096,
                5322494986815722, 283208272859666482, 95498746581633672,
                50698747844717340, 25161061801805780, 37591411904196298,
                62213948655156937, 32140562958793368,
            ),
        },
        "bands": {
            1: (
                1043046015701021072, 416346769109624511, 348414367178235061,
                230596119438839986, 888189516994448806, 1056499993337816886,
                1070597585028799711, 818594164351959762,
            ),
            2: (
                959920941662159644, 65185907915571602, 163303113506901612,
                544104606288209709, 377945253244462232, 272704651708468247,
                1022081460627687861, 436716640111442402,
            ),
            3: (
                977241741523792360, 676227112646413785, 137098850317002551,
                176038579862923676, 239428999642667079, 131825659684403990,
                376675044846789658, 1119413419443272685,
            ),
        },
    },
}


@pytest.mark.parametrize("portable", [False, True])
def test_minhash_golden_values(spark, portable):
    from technical_test_data_engineer_spark.operators.dedup import (
        _minhash_base_and_bands,
    )

    df = spark.createDataFrame(_GOLDEN_DOCS, "doc_id long, text string")
    base, banded = _minhash_base_and_bands(
        df, "doc_id", "text", 3, 32, 8, 42, portable
    )
    try:
        sigs = {r.doc_id: tuple(r._sig) for r in base.collect()}
        bands: dict[int, list[int]] = {}
        for r in banded.orderBy("doc_id", "_band").collect():
            bands.setdefault(r.doc_id, []).append(r._bh)
        want = _GOLDEN[portable]
        assert sigs == want["sig"]
        assert {d: tuple(b) for d, b in bands.items()} == want["bands"]
    finally:
        base.unpersist()


def test_band_table_portable_is_fully_portable(spark):
    # portable applies to the signature AND the band hashes: band_table
    # equals the banded rows of the shared front under the same flag
    from technical_test_data_engineer_spark.operators.dedup import (
        _minhash_base_and_bands,
        band_table,
    )

    df = spark.createDataFrame(_GOLDEN_DOCS, "doc_id long, text string")
    base, banded = _minhash_base_and_bands(
        df, "doc_id", "text", 3, 32, 8, 42, True
    )
    try:
        want = sorted(banded.collect())
        assert sorted(band_table(df, portable=True).collect()) == want
    finally:
        base.unpersist()


@pytest.mark.parametrize(
    "portable, xxhash, md5", [(False, 32 + 1 + 8, 0), (True, 0, 32 + 1 + 8)]
)
def test_band_table_hashes_signature_once(spark, plan_nodes, portable, xxhash, md5):
    # one base hash per shingle + num_hashes rehashes + one hash per
    # band: the signature is a named column the 8 band slices share,
    # not an expression copied into each band
    from technical_test_data_engineer_spark.operators.dedup import band_table

    df = spark.createDataFrame(_GOLDEN_DOCS, "doc_id long, text string")
    nodes = plan_nodes(band_table(df, portable=portable))
    assert (nodes["XxHash64"], nodes["Md5"]) == (xxhash, md5), nodes
