"""Structured-Streaming operators: windowed event aggs + incremental
index maintenance (streaming build == batch build)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from search_engine_spark import streaming
from search_engine_spark.build import IndexBuilder
from search_engine_spark.query import QueryEngine
from search_engine_spark.runtime import ensure_shipped

from conftest import SF_DIR


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="se_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_windowed_counts_stream_equals_batch(spark, tmpdir):
    ensure_shipped(spark)
    events_dir = os.path.join(tmpdir, "events")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.write.parquet(events_dir)

    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["total_value"])
        for r in streaming.windowed_event_counts(
            spark.read.parquet(events_dir)
        ).collect()
    }
    sdf = streaming.windowed_event_counts(
        streaming.stream_events_from_dir(spark, events_dir)
    )
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["total_value"])
        for r in streaming.run_available_now(
            sdf, os.path.join(tmpdir, "ckpt"), "win_test"
        ).collect()
    }
    assert got == batch and len(got) > 0


def test_streaming_index_matches_batch_build(spark, tmpdir):
    ensure_shipped(spark)
    from search_engine_spark.corpus import load_documents

    docs = load_documents(spark, SF_DIR).select("doc_id", "url", "text")

    # corpus arrives as two file "micro-batches"
    stream_src = os.path.join(tmpdir, "src")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(stream_src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(stream_src)

    stream_idx = os.path.join(tmpdir, "stream_idx")
    indexer = streaming.StreamingIndexer(
        spark, stream_idx, n_salts=2, bucket_count=4
    )
    stream_df = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_src)
    )
    q = indexer.start(stream_df, os.path.join(tmpdir, "ckpt"))
    q.awaitTermination()
    indexer.compact()

    batch_idx = os.path.join(tmpdir, "batch_idx")
    IndexBuilder(spark, batch_idx, n_salts=2, bucket_count=4).build(
        docs.withColumn("warc_ts", F.current_timestamp())
    )

    # identical lexicon and identical query results
    lex_s = {
        (r["term"], r["df"])
        for r in spark.read.parquet(f"{stream_idx}/lexicon").collect()
    }
    lex_b = {
        (r["term"], r["df"])
        for r in spark.read.parquet(f"{batch_idx}/lexicon").collect()
    }
    assert lex_s == lex_b and len(lex_s) > 0

    qs = QueryEngine(spark, stream_idx)
    qb = QueryEngine(spark, batch_idx)
    for query in ("data spark query", "the row"):
        rs = [(r["doc_id"], r["score"]) for r in qs.search(query).collect()]
        rb = [(r["doc_id"], r["score"]) for r in qb.search(query).collect()]
        assert rs == rb and rs


def test_batch_retry_is_idempotent(spark, tmpdir):
    """foreachBatch is at-least-once: re-running the same micro-batch
    (same batch_id) must not duplicate delta rows."""
    ensure_shipped(spark)
    index_dir = os.path.join(str(tmpdir), "retry_idx")
    indexer = streaming.StreamingIndexer(spark, index_dir, bucket_count=4)
    batch = spark.createDataFrame(
        [(i, f"https://x/{i}", f"alpha beta doc{i}") for i in range(20)],
        "doc_id long, url string, text string",
    )
    indexer._process_batch(batch, 0)
    once_docs = spark.read.parquet(
        os.path.join(indexer.delta_dir, "doc_table")
    ).count()
    once_post = spark.read.parquet(
        os.path.join(indexer.delta_dir, "postings")
    ).count()
    indexer._process_batch(batch, 0)  # simulated retry
    again_docs = spark.read.parquet(
        os.path.join(indexer.delta_dir, "doc_table")
    ).count()
    again_post = spark.read.parquet(
        os.path.join(indexer.delta_dir, "postings")
    ).count()
    assert (once_docs, once_post) == (again_docs, again_post) == (20, once_post)
    # a distinct batch id appends
    indexer._process_batch(batch.withColumn("doc_id", F.col("doc_id") + 20), 1)
    assert (
        spark.read.parquet(os.path.join(indexer.delta_dir, "doc_table")).count()
        == 40
    )
    manifest = indexer.compact()
    assert manifest["stages"]["doc_table"]["rows"] == 40


def test_streaming_dedup_state_survives_batches(spark, tmpdir):
    """applyInPandasWithState exact dedup: first-seen hash admitted
    (min doc_id within its batch), duplicates dropped within a batch
    AND across micro-batches (state persists through the checkpoint
    across separate availableNow drains)."""
    ensure_shipped(spark)
    docs_dir = os.path.join(tmpdir, "docs")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(docs_dir)
    schema = "doc_id long, text string"

    def drain(name):
        # memory sink cannot recover a checkpoint; foreachBatch can
        sdf = streaming.streaming_dedup(
            spark.readStream.schema(schema).parquet(docs_dir)
        )
        out: list = []

        def collect_batch(bdf, _bid):
            out.extend(
                (r["doc_id"], r["text_hash"]) for r in bdf.collect()
            )

        q = (
            sdf.writeStream.foreachBatch(collect_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return set(out)

    # batch 1: a dup pair (keep min doc_id), a unique, and the
    # null-vs-empty distinction (separate groups, like the batch twin)
    spark.createDataFrame(
        [(5, "aaa"), (2, "aaa"), (3, "bbb"), (6, None), (7, "")], schema
    ).write.mode("append").parquet(docs_dir)
    got1 = drain("sdedup1")
    assert {d for d, _ in got1} == {2, 3, 6, 7}

    # batch 2: a cross-batch dup of "aaa" (dropped), a within-batch dup
    # pair of "ccc" (min kept), and a unique
    spark.createDataFrame(
        [(10, "aaa"), (11, "ccc"), (9, "ccc"), (12, "ddd")], schema
    ).write.mode("append").parquet(docs_dir)
    got2 = drain("sdedup2")
    assert {d for d, _ in got2} == {9, 12}

    # admitted set matches the batch operator's keep rule over the
    # arrival order (first batch wins; min doc_id within batch)
    from search_engine_spark import dedup

    batch_keep = {
        r["doc_id"]
        for r in dedup.exact_duplicates(
            spark.createDataFrame(
                [(5, "aaa"), (2, "aaa"), (3, "bbb"), (6, None), (7, ""),
                 (10, "aaa"), (11, "ccc"), (9, "ccc"), (12, "ddd")],
                schema,
            )
        ).collect()
        if not r["is_dup"]
    }
    assert {d for d, _ in got1 | got2} == batch_keep


def test_compact_over_prior_batch_build_serves_delta(spark, tmpdir):
    """Compacting into an index_dir that previously held a BATCH build
    must index the DELTA corpus, not silently rebuild from the stale
    batch tokens checkpoint (the manifest's surviving 'tokens' entry
    used to route build_from_postings through the old corpus)."""
    from search_engine_spark.corpus import load_documents

    docs = load_documents(spark, SF_DIR).select("doc_id", "url", "text")
    idx = os.path.join(tmpdir, "reused_idx")
    IndexBuilder(spark, idx, n_salts=2, bucket_count=4).build(
        docs.limit(50)
    )

    delta = docs.limit(20).withColumn(
        "text", F.concat(F.lit("freshstreamterm "), F.col("text"))
    )
    src = os.path.join(tmpdir, "reuse_src")
    delta.coalesce(1).write.mode("append").parquet(src)
    indexer = streaming.StreamingIndexer(
        spark, idx, n_salts=2, bucket_count=4
    )
    stream_df = spark.readStream.schema(delta.schema).parquet(src)
    indexer.start(stream_df, os.path.join(tmpdir, "reuse_ckpt")).awaitTermination()
    indexer.compact()

    lex = {
        r["term"]
        for r in spark.read.parquet(f"{idx}/lexicon").collect()
    }
    assert "freshstreamterm" in lex  # delta docs are searchable
    qe = QueryEngine(spark, idx)
    assert qe.search("freshstreamterm", k=5).count() > 0
    assert qe.n_docs == 20  # stats reflect the delta corpus only


def test_compact_keeps_guarded_config(spark, tmpdir):
    """compact() rewrites the manifest config. Every key the resume
    drift guard checks must survive, table_format included, or a later
    resume under a different layout mixes layouts silently. (No Iceberg
    runtime is available here, so the index is compacted as parquet and
    the resuming builder is the one configured for Iceberg.)"""
    from search_engine_spark.corpus import load_documents

    docs = load_documents(spark, SF_DIR).select("doc_id", "url", "text")
    docs = docs.limit(20)
    src = os.path.join(tmpdir, "guard_src")
    docs.coalesce(1).write.mode("append").parquet(src)
    idx = os.path.join(tmpdir, "guard_idx")
    indexer = streaming.StreamingIndexer(
        spark, idx, n_salts=2, bucket_count=4
    )
    stream_df = spark.readStream.schema(docs.schema).parquet(src)
    indexer.start(
        stream_df, os.path.join(tmpdir, "guard_ckpt")
    ).awaitTermination()
    indexer.compact()

    resumed = IndexBuilder(spark, idx, n_salts=2, bucket_count=4)
    resumed.table_format = "iceberg"
    with pytest.raises(ValueError, match="table_format"):
        resumed.build(docs, resume=True)


def test_compact_before_any_batch_raises(spark, tmpdir):
    idx = os.path.join(tmpdir, "nobatch_idx")
    indexer = streaming.StreamingIndexer(spark, idx, bucket_count=4)
    with pytest.raises(ValueError, match="micro-batch"):
        indexer.compact()


def test_streaming_positional_build_serves_phrase(spark, tmpdir):
    """store_positions=True streams write positions per micro-batch;
    the compacted index answers phrase queries exactly like a batch
    positional build."""
    from search_engine_spark.corpus import load_documents

    docs = load_documents(spark, SF_DIR).select("doc_id", "url", "text")
    src = os.path.join(tmpdir, "pos_src")
    docs.coalesce(1).write.mode("append").parquet(src)

    sidx = os.path.join(tmpdir, "pos_stream_idx")
    indexer = streaming.StreamingIndexer(
        spark, sidx, n_salts=2, bucket_count=4, store_positions=True
    )
    stream_df = spark.readStream.schema(docs.schema).parquet(src)
    indexer.start(stream_df, os.path.join(tmpdir, "pos_ckpt")).awaitTermination()
    indexer.compact()

    bidx = os.path.join(tmpdir, "pos_batch_idx")
    IndexBuilder(
        spark, bidx, n_salts=2, bucket_count=4, store_positions=True
    ).build(docs.withColumn("warc_ts", F.current_timestamp()))

    qs, qb = QueryEngine(spark, sidx), QueryEngine(spark, bidx)
    for phrase in ("table scan", "spark query"):
        got = [(r["doc_id"], round(float(r["score"]), 5))
               for r in qs.phrase_search(phrase, k=10).collect()]
        want = [(r["doc_id"], round(float(r["score"]), 5))
                for r in qb.phrase_search(phrase, k=10).collect()]
        assert got == want and got
