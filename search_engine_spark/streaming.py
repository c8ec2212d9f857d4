"""Structured Streaming operators: streaming corpus ingestion into the
inverted index, and watermarked windowed event aggregation.

The reference engine is strictly batch (SURVEY.md §2.5: no streaming
anywhere in the 41 files); these operators extend it the Spark-native
way — the batch build's stages are re-expressed as an incremental
micro-batch pipeline:

    docs fileStream ──▶ foreachBatch: tokenize + postings delta append
                                   │
                            compact_index(): delta postings → chunked
                            index via the SAME chunk_postings/lexicon
                            code path as the batch DAG

At 100 TB this is the "keep the index fresh" path: each micro-batch
shuffles only its own postings (small), and compaction is an idempotent
batch job over the accumulated delta — the classic LSM shape. File-source
progress is tracked by Spark checkpointing (at-least-once foreachBatch);
the batch_id-keyed overwrite sink makes retries idempotent, so the
compacted index is effectively exactly-once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from .build import IndexBuilder
from .tokenizer import tokenize_col


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type.

    Works on a streaming OR batch DataFrame (same plan; watermark is a
    no-op in batch). Late rows beyond ``watermark`` are dropped in
    streaming mode; the append-mode sink emits a window once it closes.
    """
    # watermarks require TIMESTAMP (not NTZ); cast is a no-op otherwise
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window").start.alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_events_from_dir(
    spark, events_dir: str, schema=None
) -> DataFrame:
    """File-source stream over a directory of event parquet files."""
    if schema is None:
        schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def run_available_now(
    sdf: DataFrame, checkpoint_dir: str, query_name: str = "se_stream"
) -> DataFrame:
    """Drain all currently-available input through the streaming plan
    (Trigger.AvailableNow) into a memory sink; return the result table.

    Uses *complete* mode for aggregations so a bounded drain emits every
    window (append mode would hold windows open past the watermark).
    """
    q = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(query_name)


class StreamingIndexer:
    """Incremental inverted-index maintenance via foreachBatch.

    ``start(stream_df)`` appends each micro-batch's partial postings
    (term, doc_id, doc_length, tf) plus doc-table rows to a delta area
    under ``index_dir``; ``compact()`` merges the delta into the final
    chunked index using the exact batch code path (IndexBuilder stages
    from the postings stage onward), so a compacted streaming index is
    byte-identical to a batch build over the same corpus.
    """

    def __init__(self, spark, index_dir: str, **builder_kwargs):
        self.spark = spark
        self.index_dir = index_dir
        self.builder_kwargs = builder_kwargs
        self.store_positions = bool(builder_kwargs.get("store_positions"))
        self.delta_dir = os.path.join(index_dir, "delta")
        os.makedirs(self.delta_dir, exist_ok=True)

    # ------------------------------------------------------ micro-batch

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is AT-LEAST-ONCE: a retried micro-batch must not
        # duplicate rows. Each batch overwrites its own batch_id-keyed
        # subdirectory, making the write idempotent (retry = same dir
        # rewritten); readers see hive-partitioned deltas.

        tokens = batch_df.select(
            "doc_id",
            "url",
            "text",
            tokenize_col(F.col("text")).alias("terms"),
        ).withColumn("doc_length", F.size("terms").cast("long"))
        tokens.persist()
        (
            tokens.select("doc_id", "url", "doc_length", "text")
            .write.mode("overwrite")
            .parquet(
                os.path.join(
                    self.delta_dir, "doc_table", f"batch_id={batch_id}"
                )
            )
        )
        if self.store_positions:
            # mirror the batch positional postings exactly (same
            # posexplode + sorted collect), so a compacted streaming
            # index serves phrase/NEAR like a batch build
            postings = (
                tokens.select(
                    "doc_id",
                    "doc_length",
                    F.posexplode("terms").alias("pos", "term"),
                )
                .groupBy("term", "doc_id", "doc_length")
                .agg(
                    F.count("*").cast("long").alias("tf"),
                    F.sort_array(F.collect_list("pos")).alias("positions"),
                )
            )
        else:
            postings = (
                tokens.select(
                    "doc_id", "doc_length", F.explode("terms").alias("term")
                )
                .groupBy("term", "doc_id", "doc_length")
                .agg(F.count("*").cast("long").alias("tf"))
            )
        postings.write.mode("overwrite").parquet(
            os.path.join(self.delta_dir, "postings", f"batch_id={batch_id}")
        )
        tokens.unpersist()

    def start(self, stream_df: DataFrame, checkpoint_dir: str, available_now: bool = True):
        """Attach the indexer to a streaming corpus DataFrame
        (doc_id, url, text, ...). Returns the StreamingQuery."""
        writer = (
            stream_df.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # ------------------------------------------------------- compaction

    def compact(self) -> dict:
        """Merge accumulated delta postings into the final chunked index
        (idempotent; reruns the downstream batch stages from scratch
        over the full delta — an LSM full compaction)."""
        if not os.path.isdir(os.path.join(self.delta_dir, "doc_table")):
            raise ValueError(
                "compact() before any micro-batch was processed: the "
                f"delta at {self.delta_dir} holds no doc_table yet"
            )
        b = IndexBuilder(self.spark, self.index_dir, **self.builder_kwargs)
        manifest = b._load_manifest()
        # drop EVERY prior stage entry, not just chunks/lexicon: if the
        # index_dir previously held a batch build, a surviving 'tokens'
        # entry would route build_from_postings through the stale batch
        # tokens checkpoint and silently index the OLD corpus (the
        # delta docs would vanish from the lexicon)
        for stage in ("tokens", "doc_table", "stats", "postings",
                      "chunks", "lexicon"):
            manifest["stages"].pop(stage, None)
        # the builder's full config, so a later resume's drift guard
        # still sees every guarded key (table_format included); the
        # chunks stage reruns below and resolves an auto salt count
        manifest["config"] = b._config({})

        import time as _t

        doc_table = self.spark.read.parquet(
            os.path.join(self.delta_dir, "doc_table")
        ).drop("batch_id")
        t0 = _t.time()
        b._write(doc_table, "doc_table")
        b._record_stage(manifest, "doc_table", _t.time() - t0, ["delta/doc_table"])

        t0 = _t.time()
        stats = b._read("doc_table").agg(
            F.count("*").alias("n_docs"),
            F.avg("doc_length").alias("avgdl"),
            F.sum("doc_length").alias("total_tokens"),
            F.max("doc_id").alias("max_doc_id"),
        )
        b._write(stats, "stats")
        b._record_stage(manifest, "stats", _t.time() - t0, ["doc_table"])

        t0 = _t.time()
        from .build import term_bucket_col

        postings = self.spark.read.parquet(
            os.path.join(self.delta_dir, "postings")
        ).drop("batch_id").withColumn(
            "bucket", term_bucket_col(F.col("term"), b.bucket_count)
        )
        b._write(
            postings,
            "postings",
            partition_by=["bucket"],
            sort_cols=["term", "doc_id"],
        )
        b._record_stage(manifest, "postings", _t.time() - t0, ["delta/postings"])

        return b.build_from_postings(manifest)


def streaming_dedup(docs: DataFrame) -> DataFrame:
    """Cross-micro-batch EXACT dedup: the first doc to present a text
    hash (min doc_id within its arrival batch) passes; every later
    copy — same batch or any future batch — is dropped. Output rows:
    (doc_id, text_hash, text).

    The one curation operator that needs TRUE streaming state (batch
    `exact_duplicates` sees the whole corpus at once; an incremental
    pipeline must remember what it already admitted), implemented with
    the Spark primitive for custom stateful logic —
    ``applyInPandasWithState``: groups key on text_hash, per-key state
    is a single boolean, and each micro-batch's group iterator emits at
    most one row. State size = one flag per DISTINCT admitted hash:
    bounded by the unique corpus, not the stream; at crawl scale back
    the store with RocksDB
    (``spark.sql.streaming.stateStore.providerClass``) and the hash
    groups shard across executors like any keyed state.

    Only valid on a streaming DataFrame (Spark requires it); the batch
    twin with identical keep semantics over a one-shot corpus is
    ``dedup.exact_duplicates`` (asserted in tests/test_streaming.py).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # md5(text) RAW — null text hashes to null and groups as its own
    # key, exactly like the batch twin's md5("text") (null != '')
    hashed = docs.select(
        "doc_id", "text", F.md5(F.col("text")).alias("text_hash")
    )

    def admit_first(key, pdfs, state: GroupState):
        if state.exists:
            # hash admitted in an earlier batch: drop everything
            for _ in pdfs:
                pass
            return
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            row = pdf.loc[pdf["doc_id"].idxmin()]
            if best is None or row["doc_id"] < best["doc_id"]:
                best = row
        if best is None:
            return
        state.update((True,))
        yield pd.DataFrame(
            [[int(best["doc_id"]), key[0], best["text"]]],
            columns=["doc_id", "text_hash", "text"],
        )

    return hashed.groupBy("text_hash").applyInPandasWithState(
        admit_first,
        outputStructType="doc_id long, text_hash string, text string",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
