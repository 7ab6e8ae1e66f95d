"""Streaming near-dup candidate generation: stream output == the batch
band pipeline's candidate set on the same corpus (split across several
micro-batches, so cross-batch pairing exercises the state store), and
the per-bucket state cap bounds a degenerate bucket's output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from technical_test_data_engineer_spark.operators.dedup import (
    minhash_candidates,
)
from technical_test_data_engineer_spark.sources.parquet_source import load_table
from technical_test_data_engineer_spark.streaming.neardup import (
    stream_minhash_candidates,
)
from technical_test_data_engineer_spark.streaming.sinks import memory_sink

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def docs_dir(spark, sf_dir, tmp_path_factory):
    """The sf0.001 documents table as 4 parquet files so the stream
    sees several micro-batches (maxFilesPerTrigger=1) — bucket-mates
    arriving in DIFFERENT batches must still pair via state."""
    path = str(tmp_path_factory.mktemp("docs_stream") / "documents")
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).repartition(4).write.parquet(path)
    return path


def _stream_pairs(spark, docs_dir, name, **kw):
    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    q = memory_sink(
        stream_minhash_candidates(stream, **kw), name, output_mode="append"
    )
    q.awaitTermination()
    return spark.table(name)


def test_stream_candidates_equal_batch_candidates(spark, sf_dir, docs_dir):
    got = {
        (r.id_a, r.id_b)
        for r in _stream_pairs(spark, docs_dir, "t_neardup_stream").collect()
    }
    # batch twin: threshold 0.0 keeps EVERY band-collision pair (any
    # jaccard passes), i.e. the raw candidate set before verification
    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r.id_a, r.id_b)
        for r in minhash_candidates(
            docs, threshold=0.0, hot_bucket_cap=None
        ).collect()
    }
    assert got == want and want, (len(got), len(want))


def test_stream_state_cap_bounds_degenerate_bucket(spark, tmp_path):
    # 10 identical docs: every band bucket admits only the first
    # state_cap=3 ids → exactly C(3,2)=3 distinct pairs, not C(10,2)=45
    path = str(tmp_path / "hotdocs")
    text = "all these documents share exactly the same boilerplate text"
    spark.createDataFrame(
        [(i, text) for i in range(10)], DOCS_STREAM_SCHEMA
    ).coalesce(1).write.parquet(path)
    got = {
        (r.id_a, r.id_b)
        for r in _stream_pairs(
            spark, path, "t_neardup_capped", state_cap=3
        ).collect()
    }
    assert got == {(0, 1), (0, 2), (1, 2)}, got


def test_stream_state_ttl_evicts_idle_buckets(spark, tmp_path):
    # doc 0 (file a) and doc 2 (file c) are identical → same buckets in
    # every band; file b holds an unrelated doc, so those buckets idle
    # through trigger 2. With a 1 ms processing-time TTL (state_ttl_ms=1) the idle
    # buckets are evicted at trigger 2, so the (0, 2) pair is NEVER
    # emitted; without a TTL it is. Files are processed one per trigger
    # in modification-time order (explicitly pinned via os.utime).
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = "ttl eviction corpus shares this exact boilerplate sentence"
    other = "completely unrelated filler content nothing in common here"
    d = tmp_path / "ttldocs"
    d.mkdir()
    for fname, doc_id, txt, mtime in [
        ("a.parquet", 0, text, 1_000),
        ("b.parquet", 1, other, 2_000),
        ("c.parquet", 2, text, 3_000),
    ]:
        p = str(d / fname)
        pq.write_table(
            pa.table({"doc_id": pa.array([doc_id], pa.int64()),
                      "text": pa.array([txt], pa.string())}),
            p,
        )
        os.utime(p, (mtime, mtime))

    # TTL + availableNow don't mix (the engine loops timeout-cleanup
    # batches forever once any group arms a processing-time timeout),
    # so the TTL query runs on a processing-time trigger — the
    # continuous-stream shape TTLs exist for — and is stopped once all
    # three files have been processed.
    import time

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_minhash_candidates(stream, state_ttl_ms=1)
        .writeStream.format("memory")
        .queryName("t_neardup_ttl")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            lp = q.lastProgress
            if lp and lp["batchId"] >= 4 and lp["numInputRows"] == 0:
                break
            time.sleep(0.5)
        with_ttl = {
            (r.id_a, r.id_b)
            for r in spark.table("t_neardup_ttl").collect()
        }
    finally:
        q.stop()
    assert (0, 2) not in with_ttl, with_ttl
    without = {
        (r.id_a, r.id_b)
        for r in _stream_pairs(spark, str(d), "t_neardup_nottl").collect()
    }
    assert (0, 2) in without, without


def test_stream_band_frame_hashes_signature_once(spark, plan_nodes, tmp_path):
    # the streaming band rows share the batch band front: the executed
    # micro-batch plan holds one signature (32 rehashes + 1 base hash)
    # plus one hash per band — not a signature copy per band
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z")], DOCS_STREAM_SCHEMA
    ).write.parquet(path)
    stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(path)
    q = memory_sink(
        stream_minhash_candidates(stream), "t_neardup_shape",
        output_mode="append",
    )
    q.awaitTermination()
    nodes = plan_nodes(q._jsq.streamingQuery().lastExecution())
    assert nodes["XxHash64"] == 32 + 1 + 8, nodes
