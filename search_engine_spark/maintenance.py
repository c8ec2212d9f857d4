"""Index maintenance: tombstone deletes, physical compaction, and
shard-index merging.

The reference engine is build-once (SURVEY.md §2.5: one-shot
``index_builder`` then a read-only REPL; no delete/update anywhere in
the 41 files). A maintainable web-scale index needs both halves of the
standard segment lifecycle, so these operators extend the engine the
way Lucene-family systems do:

* **Tombstone deletes** — ``delete_docs`` appends doc ids to a side
  table under ``<index_dir>/deletes/``; queries filter decoded postings
  against it at zero rebuild cost. Collection statistics (N, avgdl,
  per-term df) intentionally stay STALE until compaction — the exact
  semantics of Lucene's deleted docs, and the only semantics that don't
  require touching the corpus-sized index on every delete.
* **Physical rewrite** — ``merge_indexes`` is ONE engine for the two
  segment operations: merging independently built shard indexes and
  compacting tombstones away. Chunks rewrite MAP-ONLY (the doc-id
  ranges of distinct shards are disjoint, so encoded chunks never
  interleave — no postings shuffle, unlike a from-scratch rebuild);
  the only shuffles are the lexicon re-aggregation (lexicon-sized) and
  the doc-table/stats union (map-side). Per chunk the rewrite is
  tiered: untouched chunks keep their payload BYTES, offset-only chunks
  rewrite just the leading varbyte base (delta gaps are offset
  invariant), and only chunks that actually lost postings re-encode.
  WAND score bounds are always recomputed against the merged corpus'
  avgdl — stored bounds are avgdl-relative (wand.ratio_bounds), so a
  merge that changes avgdl would otherwise leave stale (and for
  pruning, potentially unsafe) bounds.

Query-time safety under tombstones (enforced in query.py):

* every decode path masks deleted ids, so thresholds (theta) derived
  from decoded top-k probes are attained by ALIVE docs — valid;
* chunk bounds may be attained by deleted docs, so they only ever
  OVER-estimate: bound-based pruning keeps more chunks, never fewer —
  safe;
* the metadata-only theta fast path (QueryEngine._meta_theta) assumes
  bounds are attained, so it is DISABLED while tombstones exist.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from . import codecs, wand
from .build import (
    CHUNK_SCHEMA,
    IndexBuilder,
    read_stage_parquet,
)

DELETES_DIR = "deletes"

# Tombstone sets up to this size ride along as a sorted int64 closure
# array (8 B/id -> 32 MB at the cap) and mask decoded postings in-place;
# larger sets fall back to a distributed anti-join on the decoded rows.
# Compaction clears the set, so in steady state (compact every few
# percent of corpus churn) the array path is the common case.
DELETED_DRIVER_CAP = 4_000_000


# ------------------------------------------------------------ tombstones


def _deletes_path(index_dir: str) -> str:
    return os.path.join(index_dir, DELETES_DIR)


def delete_docs(spark, index_dir: str, doc_ids) -> int:
    """Tombstone documents by id (iterable of ints, or a DataFrame with
    a ``doc_id`` column). Appends to ``<index_dir>/deletes/``; the write
    is a set union, so duplicate/repeated deletes are harmless. Returns
    the number of ids in this request."""
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col("doc_id").cast("long"))
        n = df.count()
    else:
        ids = sorted({int(d) for d in doc_ids})
        n = len(ids)
        if n == 0:
            return 0
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    df.write.mode("append").parquet(_deletes_path(index_dir))
    return int(n)


def delete_by_urls(spark, index_dir: str, urls) -> int:
    """Tombstone documents by url (the upsert primitive: delete the old
    url then stream-append the new version). Resolves ids through the
    doc_table; url is not the physical sort key, so this scan prunes by
    column (doc_id, url) but not by row group — batch url deletes, or
    maintain a url-bucketed side table, where this is hot."""
    urls = list(urls)
    if not urls:
        return 0
    doc_table = read_stage_parquet(
        spark, os.path.join(index_dir, "doc_table"), "doc_table"
    )
    ids = doc_table.where(F.col("url").isin(urls)).select("doc_id")
    return delete_docs(spark, index_dir, ids)


def upsert_docs(
    spark,
    index_dir: str,
    new_docs: DataFrame,
    out_dir: str,
    delta_dir: str | None = None,
    build_bloom: bool = False,
) -> dict:
    """Upsert by url — the Lucene-style incremental refresh, composed
    from the three primitives in this module:

    1. tombstone every base doc whose url appears in ``new_docs``
       (join-resolved through the doc_table; no driver collect of the
       delta's urls — ``new_docs`` may be arbitrarily large);
    2. build a DELTA shard index over ``new_docs`` alone (the only
       tokenize work — the corpus-sized base is never re-read);
    3. :func:`merge_indexes` base+delta map-only into ``out_dir`` with
       stacked offsets: base ids keep their values, delta docs relocate
       above the base id space, tombstones apply physically and
       stats/df/WAND bounds re-derive fresh.

    Cost is O(delta) tokenize + the map-only merge rewrite, vs a full
    rebuild's corpus-wide tokenize + postings shuffle. The base index
    at ``index_dir`` gains tombstones (it keeps serving correctly via
    query-time masking); the merged result lands in ``out_dir``.
    ``new_docs`` needs the canonical corpus columns (url, text, ...);
    a missing ``doc_id`` is assigned dense from 0 (the stacked merge
    relocates delta ids anyway). Returns the merge manifest with an
    ``upsert`` record appended.

    ``build_bloom=True`` additionally derives the delta shard's term
    Bloom sidecar (build.build_term_bloom) so serving the unmerged
    [base, delta] stack through MultiIndexQueryEngine prunes
    delta-irrelevant queries immediately — the cost is one
    delta-lexicon-sized pass. Sidecar lifecycle note: merge/compact
    OUTPUTS never inherit a sidecar (they are rebuilt stage-by-stage,
    so an absent bloom just means no pruning), and in-place tombstones
    keep an existing bloom a safe superset (deletes never add vocab) —
    there is no path to a bloom false negative.
    """
    import tempfile

    from .corpus import assign_doc_ids

    state = _source_state(spark, index_dir)
    cfg = state["config"]
    doc_table = read_stage_parquet(
        spark, os.path.join(index_dir, "doc_table"), "doc_table"
    )
    superseded = doc_table.join(
        new_docs.select("url").distinct(), "url"
    ).select("doc_id")
    n_deleted = delete_docs(spark, index_dir, superseded)
    if "doc_id" not in new_docs.columns:
        new_docs = assign_doc_ids(new_docs)
    delta_dir = delta_dir or tempfile.mkdtemp(prefix="se_delta_idx_")
    IndexBuilder(
        spark,
        delta_dir,
        chunk_length=int(cfg.get("chunk_length", codecs.CHUNK_LENGTH)),
        bucket_count=int(cfg["bucket_count"]),
        store_positions=bool(cfg.get("store_positions", False)),
        materialize_postings=bool(cfg.get("store_positions", False)),
    ).build(new_docs)
    if build_bloom:
        from .build import build_term_bloom

        build_term_bloom(spark, delta_dir)
    manifest = merge_indexes(
        spark, [index_dir, delta_dir], out_dir, offsets="stack"
    )
    manifest["upsert"] = {
        "n_superseded": int(n_deleted),
        "delta_dir": delta_dir,
    }
    return manifest


def read_deletes(spark, index_dir: str) -> DataFrame | None:
    """Distinct tombstoned doc ids, or None when none exist."""
    path = _deletes_path(index_dir)
    if not os.path.isdir(path):
        return None
    df = spark.read.parquet(path).select("doc_id").distinct()
    return df


def load_deleted_array(
    spark, index_dir: str, cap: int = DELETED_DRIVER_CAP
) -> tuple[np.ndarray | None, DataFrame | None]:
    """(sorted int64 array, None) when the tombstone set fits the
    driver cap; (None, DataFrame) when it must stay distributed;
    (None, None) when there are no tombstones."""
    df = read_deletes(spark, index_dir)
    if df is None:
        return None, None
    sample = df.limit(cap + 1).toPandas()["doc_id"].to_numpy(np.int64)
    if len(sample) == 0:
        return None, None
    if len(sample) > cap:
        return None, df
    sample.sort()
    return sample, None


# -------------------------------------------------------- chunk rewrite


def _rewrite_chunk_frames(
    batches, delta: int, deleted: np.ndarray | None, avgdl: float
):
    """mapInPandas worker: tiered per-chunk rewrite (see module doc).

    Tier 1 (no deletes hit, delta == 0): payload/dls bytes pass through
    untouched. Tier 2 (no deletes hit, delta != 0): only the leading
    varbyte doc-id base is re-encoded; the gap/tf tail is spliced
    byte-for-byte. Tier 3 (deletes hit): decode -> mask -> re-encode.
    Bounds always recompute against the MERGED avgdl. Fully deleted
    chunks drop."""
    for pdf in batches:
        out_rows = {
            "term": [], "salt": [], "chunk_seq": [], "first_doc_id": [],
            "last_doc_id": [], "n": [], "codec": [], "payload": [],
            "dls": [], "max_ratio": [], "min_ratio": [], "bucket": [],
        }
        for row in pdf.itertuples(index=False):
            ids, tfs = codecs.decode_chunk(row.payload, int(row.codec))
            dls = codecs.decode_lengths(row.dls)
            codec_id, payload, dls_payload = int(row.codec), row.payload, row.dls
            keep = wand.tombstone_mask(ids, deleted)
            if keep is not None:
                if not keep.any():
                    continue  # chunk fully deleted
                ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                codec_id, payload = codecs.encode_chunk(
                    ids.astype(np.uint64) + np.uint64(delta), tfs
                )
                buf = bytearray()
                codecs.bit_packing(dls.astype(np.uint64), buf)
                dls_payload = bytes(buf)
            elif delta:
                # offset-only: both codec layouts open with a varbyte
                # absolute base; gaps are translation invariant
                base, tail_pos = codecs.var_byte_decode(payload, 0)
                head = bytearray()
                codecs.var_byte_encode(int(base) + delta, head)
                payload = bytes(head) + bytes(payload[tail_pos:])
            max_ratio, min_ratio = wand.ratio_bounds(
                tfs, dls, np.array([0], dtype=np.int64), avgdl
            )
            out_rows["term"].append(row.term)
            out_rows["salt"].append(int(row.salt))
            out_rows["chunk_seq"].append(int(row.chunk_seq))
            out_rows["first_doc_id"].append(int(ids[0]) + delta)
            out_rows["last_doc_id"].append(int(ids[-1]) + delta)
            out_rows["n"].append(len(ids))
            out_rows["codec"].append(codec_id)
            out_rows["payload"].append(bytes(payload))
            out_rows["dls"].append(bytes(dls_payload))
            out_rows["max_ratio"].append(float(max_ratio[0]))
            out_rows["min_ratio"].append(float(min_ratio[0]))
            out_rows["bucket"].append(int(row.bucket))
        if out_rows["term"]:
            yield pd.DataFrame(
                {
                    "term": np.asarray(out_rows["term"], dtype=object),
                    "salt": np.asarray(out_rows["salt"], dtype=np.int32),
                    "chunk_seq": np.asarray(out_rows["chunk_seq"], np.int32),
                    "first_doc_id": np.asarray(
                        out_rows["first_doc_id"], np.int64
                    ),
                    "last_doc_id": np.asarray(
                        out_rows["last_doc_id"], np.int64
                    ),
                    "n": np.asarray(out_rows["n"], dtype=np.int32),
                    "codec": np.asarray(out_rows["codec"], dtype=np.int32),
                    "payload": out_rows["payload"],
                    "dls": out_rows["dls"],
                    "max_ratio": np.asarray(out_rows["max_ratio"], np.float64),
                    "min_ratio": np.asarray(out_rows["min_ratio"], np.float64),
                    "bucket": np.asarray(out_rows["bucket"], dtype=np.int32),
                }
            )


# ------------------------------------------------------------- the merge


def _source_state(spark, index_dir: str) -> dict:
    import json

    with open(os.path.join(index_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    stats = read_stage_parquet(
        spark, os.path.join(index_dir, "stats"), "stats"
    ).collect()[0]
    deleted, deleted_df = load_deleted_array(spark, index_dir)
    if deleted_df is not None:
        raise ValueError(
            f"{index_dir}: tombstone set exceeds DELETED_DRIVER_CAP "
            f"({DELETED_DRIVER_CAP}); compact more often or raise the cap"
        )
    return {
        "dir": index_dir,
        "config": manifest.get("config", {}),
        "max_doc_id": int(stats["max_doc_id"] or 0),
        "n_docs": int(stats["n_docs"]),
        "deleted": deleted,
    }


def merge_indexes(
    spark,
    sources: list[str],
    out_dir: str,
    offsets: list[int] | str = "stack",
    apply_deletes: bool = True,
) -> dict:
    """Merge shard indexes (and/or compact tombstones) into ``out_dir``.

    ``offsets``: per-source doc-id translation. ``"stack"`` (default)
    relocates each source after the previous ones' id space — the
    local-ids-per-shard layout. Pass explicit offsets (e.g. all 0) when
    shards were built over globally disjoint id ranges. Sources are
    left untouched; the merged index carries no tombstones (deletes are
    applied physically when ``apply_deletes``).

    Scale shape: stats/doc_table are a map-side union (one corpus-sized
    doc-table write — the stored-fields rewrite every segment merge
    pays); chunks rewrite map-only with NO postings shuffle (shard doc
    ranges are disjoint, so per-term chunks concatenate rather than
    interleave); the lexicon re-aggregates from merged chunk metadata
    (lexicon-sized shuffle). Compare a from-scratch rebuild: a full
    tokenize + corpus-wide postings shuffle.
    """
    srcs = [_source_state(spark, d) for d in sources]
    if not srcs:
        raise ValueError("merge_indexes needs at least one source")
    bucket_counts = {s["config"].get("bucket_count") for s in srcs}
    if len(bucket_counts) != 1 or None in bucket_counts:
        raise ValueError(
            f"sources disagree on bucket_count ({bucket_counts}); "
            "term->bucket hashing must match for the merged lexicon/chunks"
        )
    bucket_count = bucket_counts.pop()
    if offsets == "stack":
        offs, acc = [], 0
        for s in srcs:
            offs.append(acc)
            acc += s["max_doc_id"] + 1
    else:
        offs = list(offsets)
        if len(offs) != len(srcs):
            raise ValueError("offsets must match sources")
    if not apply_deletes:
        for s in srcs:
            s["deleted"] = None

    store_positions = all(
        s["config"].get("store_positions") for s in srcs
    ) and all(
        os.path.isdir(os.path.join(s["dir"], "postings")) for s in srcs
    )
    out = IndexBuilder(
        spark,
        out_dir,
        chunk_length=max(
            int(s["config"].get("chunk_length", codecs.CHUNK_LENGTH))
            for s in srcs
        ),
        n_salts=sum(int(s["config"].get("n_salts", 1)) for s in srcs),
        bucket_count=bucket_count,
        store_positions=store_positions,
        materialize_postings=store_positions,
    )
    manifest = {"stages": {}, "config": {
        "chunk_length": out.chunk_length,
        "n_salts": out.n_salts,
        "bucket_count": out.bucket_count,
        "store_positions": store_positions,
        "merged_from": [s["dir"] for s in srcs],
    }}

    def _alive(df: DataFrame, s: dict, delta: int) -> DataFrame:
        if s["deleted"] is not None:
            dels = F.broadcast(
                spark.createDataFrame(
                    [(int(i),) for i in s["deleted"]], "doc_id long"
                )
            )
            df = df.join(dels, "doc_id", "left_anti")
        if delta:
            df = df.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(delta)).cast("long")
            )
        return df

    # ---- doc_table union (the stored-fields rewrite) + merged stats
    t0 = time.time()
    doc_parts = []
    for s, delta in zip(srcs, offs):
        dt = read_stage_parquet(
            spark, os.path.join(s["dir"], "doc_table"), "doc_table"
        ).select("doc_id", "url", "doc_length", "text")
        doc_parts.append(_alive(dt, s, delta))
    doc_table = doc_parts[0]
    for p in doc_parts[1:]:
        doc_table = doc_table.unionByName(p)
    out._write(doc_table, "doc_table")
    out._record_stage(
        manifest, "doc_table", time.time() - t0,
        [f"{s['dir']}/doc_table" for s in srcs],
    )

    t0 = time.time()
    stats = out._read("doc_table").agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_length").alias("avgdl"),
        F.sum("doc_length").alias("total_tokens"),
        F.max("doc_id").alias("max_doc_id"),
    )
    out._write(stats, "stats")
    out._record_stage(manifest, "stats", time.time() - t0, ["doc_table"])
    stats_row = out._read("stats").collect()[0]
    avgdl = float(stats_row["avgdl"] or 1.0)

    # ---- chunks: per-source map-only rewrite, salt-rebased for key
    # uniqueness (doc ranges are disjoint so per-term WAND intervals
    # stay disjoint — the planner's invariant)
    t0 = time.time()
    chunk_parts = []
    salt_base = 0
    for s, delta in zip(srcs, offs):
        chunks = read_stage_parquet(
            spark, os.path.join(s["dir"], "chunks"), "chunks"
        )
        deleted = s["deleted"]
        d = int(delta)
        part = chunks.mapInPandas(
            lambda batches, d=d, deleted=deleted: _rewrite_chunk_frames(
                batches, d, deleted, avgdl
            ),
            CHUNK_SCHEMA + ", bucket int",
        )
        if salt_base:
            part = part.withColumn(
                "salt", (F.col("salt") + F.lit(salt_base)).cast("int")
            )
        chunk_parts.append(part)
        salt_base += int(s["config"].get("n_salts", 1))
    merged_chunks = chunk_parts[0]
    for p in chunk_parts[1:]:
        merged_chunks = merged_chunks.unionByName(p)
    out._write(
        merged_chunks,
        "chunks",
        partition_by=["bucket"],
        sort_cols=["term", "salt", "chunk_seq"],
    )
    out._record_stage(
        manifest, "chunks", time.time() - t0,
        [f"{s['dir']}/chunks" for s in srcs],
    )

    # ---- positional postings (when every source stores them)
    if store_positions:
        t0 = time.time()
        parts = []
        for s, delta in zip(srcs, offs):
            p = read_stage_parquet(
                spark, os.path.join(s["dir"], "postings"), "postings"
            )
            parts.append(_alive(p, s, delta))
        postings = parts[0]
        for p in parts[1:]:
            postings = postings.unionByName(p)
        out._write(
            postings,
            "postings",
            partition_by=["bucket"],
            sort_cols=["term", "doc_id"],
        )
        out._record_stage(
            manifest, "postings", time.time() - t0,
            [f"{s['dir']}/postings" for s in srcs],
        )

    # ---- lexicon re-agg from merged chunk metadata (same aggregation
    # as IndexBuilder.build_from_postings — df/df-bounds re-derive, so
    # post-merge statistics are FRESH, not carried tombstone-stale)
    t0 = time.time()
    from .build import term_bucket_col

    lexicon = (
        out._read("chunks")
        .groupBy("term")
        .agg(
            F.sum("n").cast("long").alias("df"),
            F.count("*").cast("int").alias("n_chunks"),
            F.min("first_doc_id").alias("min_doc_id"),
            F.max("last_doc_id").alias("max_doc_id"),
            F.max("max_ratio").alias("max_ratio"),
            F.min("min_ratio").alias("min_ratio"),
        )
        .withColumn("bucket", term_bucket_col(F.col("term"), bucket_count))
    )
    out._write(lexicon, "lexicon", partition_by=["bucket"], sort_cols=["term"])
    out._record_stage(manifest, "lexicon", time.time() - t0, ["chunks"])

    out._save_manifest(manifest)
    return manifest


def compact_index(spark, index_dir: str, out_dir: str) -> dict:
    """Physically apply ``index_dir``'s tombstones into a fresh index at
    ``out_dir`` (ids keep their values; stats/df/bounds re-derive over
    the survivors). The single-source case of :func:`merge_indexes`."""
    return merge_indexes(spark, [index_dir], out_dir, offsets=[0])


# ------------------------------------------------------------ index fsck


def check_index(spark, index_dir: str, deep: bool = True) -> DataFrame:
    """Distributed index fsck — the Lucene ``CheckIndex`` analogue the
    reference engine lacks (its artifacts are written once and trusted
    forever; ours get rewritten by merge/compact/upsert, copied between
    stores, and served long after the build, so an operator needs a
    cheap way to prove an index is internally consistent before
    putting it behind traffic).

    Verifies every cross-stage invariant the build/maintenance
    pipeline promises, each as ONE bounded Spark aggregation (no
    collect of data rows, no driver loops — at 100 TB every check is a
    scan+agg whose output is a single counter):

    - ``lexicon_chunks_consistency`` — the lexicon row of every term
      equals the same aggregation recomputed from the chunks table
      (df = sum(n), n_chunks = count, doc-id span, WAND ratio bounds);
      full-outer, so orphan terms on either side count too.
    - ``chunk_seq_unique`` — per (term, salt) chunk_seq values are
      unique and non-negative. NOT density: merge/compact legitimately
      drop fully-deleted chunks without resequencing, so holes are a
      valid post-maintenance state — duplication is caught here and a
      LOST chunk still trips ``lexicon_chunks_consistency`` (the
      lexicon was aggregated from the pre-loss chunk set).
    - ``chunk_ranges_ordered`` — first_doc_id <= last_doc_id and
      consecutive chunks' doc-id ranges are disjoint and increasing.
    - ``chunk_ids_in_corpus_range`` — chunk metadata spans stay inside
      the doc table's id range.
    - ``payload_decode`` (``deep=True`` only) — every chunk payload
      actually decodes, to exactly ``n`` strictly-increasing doc ids
      matching the first/last metadata, with a doc-length sidecar of
      the same cardinality (mapInPandas; the one check that reads
      payload bytes — the price of catching bit rot).
    - ``doc_ids_unique`` — no duplicate doc ids in the doc table.
    - ``stats_consistency`` — the persisted stats row (n_docs, avgdl,
      total_tokens, max_doc_id) matches a doc-table recount.
    - ``tombstones_in_doc_table`` — every tombstoned id references a
      real doc (examined 0 when no deletes exist).
    - ``bloom_sidecar`` / ``bloom_false_negatives`` — the term Bloom's
      recorded n_terms matches the lexicon, and EVERY lexicon term
      probes positive (a false negative is the one forbidden failure
      mode; examined 0 when no sidecar exists).
    - ``postings_tf_positions`` — positional indexes only: per
      (term, doc) the positions array is sorted, non-negative and
      tf-sized (examined 0 when positions aren't materialized).

    Returns (check_name string, n_examined long, n_violations long),
    one row per check, ordered by check_name. A healthy index has
    n_violations = 0 everywhere; pytest proves each detector fires on
    a deliberately corrupted copy.
    """
    from pyspark.sql import Window

    from . import codecs as C
    from .build import read_stage_parquet
    from .runtime import ensure_shipped

    # the deep-decode / bloom-probe closures reference this package on
    # executors; fsck is advertised for arbitrary sessions, so ship
    # like every other entry point does
    ensure_shipped(spark)

    def stage(name):
        return read_stage_parquet(
            spark, os.path.join(index_dir, name), name
        )

    chunks = stage("chunks")
    lexicon = stage("lexicon")
    doc_table = stage("doc_table")
    stats_row = stage("stats").collect()[0]
    out: list[tuple[str, int, int]] = []

    # --- lexicon vs chunks (term-level full outer)
    bounded = "max_ratio" in lexicon.columns and "max_ratio" in chunks.columns
    agg_cols = [
        F.sum("n").cast("long").alias("_df"),
        F.count("*").cast("int").alias("_nc"),
        F.min("first_doc_id").alias("_mn"),
        F.max("last_doc_id").alias("_mx"),
    ]
    if bounded:
        agg_cols += [
            F.max("max_ratio").alias("_bmax"),
            F.min("min_ratio").alias("_bmin"),
        ]
    derived = chunks.groupBy("term").agg(*agg_cols)
    lex_cols = ["term", "df", "n_chunks", "min_doc_id", "max_doc_id"]
    if bounded:
        lex_cols += ["max_ratio", "min_ratio"]
    j = lexicon.select(*lex_cols, F.lit(1).alias("_in_lex")).join(
        derived, "term", "full_outer"
    )
    ok = (
        F.col("df").isNotNull()
        & F.col("_df").isNotNull()
        & (F.col("df") == F.col("_df"))
        & (F.col("n_chunks") == F.col("_nc"))
        & (F.col("min_doc_id") == F.col("_mn"))
        & (F.col("max_doc_id") == F.col("_mx"))
    )
    if bounded:
        ok = (
            ok
            & (F.abs(F.col("max_ratio") - F.col("_bmax")) < 1e-9)
            & (F.abs(F.col("min_ratio") - F.col("_bmin")) < 1e-9)
        )
    r = j.agg(
        F.count(F.lit(1)).alias("ex"),
        F.sum(F.when(ok, 0).otherwise(1)).alias("vi"),
        F.count("_in_lex").alias("n_lex"),
    ).collect()[0]
    out.append(
        ("lexicon_chunks_consistency", int(r["ex"] or 0), int(r["vi"] or 0))
    )
    # lexicon rows alone: the join's examined count also holds terms
    # present only in chunks (orphans), which the bloom never saw
    n_lex = int(r["n_lex"] or 0)

    # --- per-(term, salt) chunk sequence uniqueness (holes allowed:
    # compaction drops fully-deleted chunks without resequencing)
    g = chunks.groupBy("term", "salt").agg(
        F.count(F.lit(1)).alias("_k"),
        F.count_distinct(F.col("chunk_seq")).alias("_kd"),
        F.min("chunk_seq").alias("_lo"),
    )
    seq_ok = (F.col("_k") == F.col("_kd")) & (F.col("_lo") >= 0)
    r = g.agg(
        F.count(F.lit(1)).alias("ex"),
        F.sum(F.when(seq_ok, 0).otherwise(1)).alias("vi"),
    ).collect()[0]
    out.append(("chunk_seq_unique", int(r["ex"] or 0), int(r["vi"] or 0)))

    # --- chunk-level metadata checks, one pass: range sanity,
    # cross-chunk ordering, corpus-range containment
    dr = doc_table.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    # empty doc table: ANY chunk is out of corpus range by definition
    span_lo = int(dr["lo"]) if dr["lo"] is not None else 1
    span_hi = int(dr["hi"]) if dr["hi"] is not None else -1
    w = Window.partitionBy("term", "salt").orderBy("chunk_seq")
    cm = chunks.select(
        "term", "salt", "chunk_seq", "first_doc_id", "last_doc_id"
    ).withColumn("_prev", F.lag("last_doc_id").over(w))
    range_bad = F.col("first_doc_id") > F.col("last_doc_id")
    order_bad = F.col("_prev").isNotNull() & (
        F.col("_prev") >= F.col("first_doc_id")
    )
    span_bad = (F.col("first_doc_id") < F.lit(span_lo)) | (
        F.col("last_doc_id") > F.lit(span_hi)
    )
    r = cm.agg(
        F.count(F.lit(1)).alias("ex"),
        F.sum(range_bad.cast("int")).alias("v1"),
        F.sum(order_bad.cast("int")).alias("v2"),
        F.sum(span_bad.cast("int")).alias("v3"),
    ).collect()[0]
    out.append(
        ("chunk_ranges_ordered", int(r["ex"] or 0),
         int(r["v1"] or 0) + int(r["v2"] or 0))
    )
    out.append(
        ("chunk_ids_in_corpus_range", int(r["ex"] or 0), int(r["v3"] or 0))
    )

    # --- deep payload decode
    if deep:
        def _scan(batches):
            ex = vi = 0
            for pdf in batches:
                for n, codec, payload, dls, fd, ld in zip(
                    pdf["n"], pdf["codec"], pdf["payload"], pdf["dls"],
                    pdf["first_doc_id"], pdf["last_doc_id"],
                ):
                    ex += 1
                    try:
                        ids, tfs = C.decode_chunk(bytes(payload), int(codec))
                        dl = C.decode_lengths(bytes(dls))
                        good = (
                            len(ids) == int(n)
                            and len(tfs) == int(n)
                            and len(dl) == int(n)
                            and len(ids) > 0
                            and int(ids[0]) == int(fd)
                            and int(ids[-1]) == int(ld)
                            and (
                                len(ids) < 2
                                or bool(
                                    (np.diff(ids.astype(np.int64)) > 0).all()
                                )
                            )
                            and bool((tfs > 0).all())
                        )
                    except Exception:
                        good = False
                    vi += 0 if good else 1
            yield pd.DataFrame({"ex": [ex], "vi": [vi]})

        r = (
            chunks.select(
                "n", "codec", "payload", "dls", "first_doc_id", "last_doc_id"
            )
            .mapInPandas(_scan, "ex long, vi long")
            .agg(F.sum("ex").alias("ex"), F.sum("vi").alias("vi"))
            .collect()[0]
        )
        out.append(("payload_decode", int(r["ex"] or 0), int(r["vi"] or 0)))

    # --- doc table uniqueness + stats recount
    r = doc_table.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("doc_id")).alias("nd"),
        F.avg("doc_length").alias("avgdl"),
        F.sum("doc_length").alias("tot"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    out.append(
        ("doc_ids_unique", int(r["n"] or 0),
         int(r["n"] or 0) - int(r["nd"] or 0))
    )

    def _null_eq(a, b, tol=None):
        # NULL-tolerant scalar compare: an empty corpus has NULL
        # avgdl/max_doc_id in BOTH the stats row and the recount —
        # that agreement is healthy, not a crash
        if a is None or b is None:
            return a is None and b is None
        if tol is not None:
            return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))
        return int(a) == int(b)

    stats_ok = (
        int(stats_row["n_docs"] or 0) == int(r["n"] or 0)
        and _null_eq(stats_row["avgdl"], r["avgdl"], tol=1e-9)
        and _null_eq(stats_row["total_tokens"], r["tot"])
        and _null_eq(stats_row["max_doc_id"], r["mx"])
    )
    out.append(("stats_consistency", 1, 0 if stats_ok else 1))

    # --- tombstone references
    dels_dir = _deletes_path(index_dir)
    if os.path.isdir(dels_dir):
        dels = spark.read.parquet(dels_dir).select("doc_id").distinct()
        n_del = dels.count()
        orphans = dels.join(
            doc_table.select("doc_id"), "doc_id", "left_anti"
        ).count()
        out.append(("tombstones_in_doc_table", int(n_del), int(orphans)))
    else:
        out.append(("tombstones_in_doc_table", 0, 0))

    # --- bloom sidecar
    loaded = C.bloom_load(os.path.join(index_dir, C.BLOOM_DIR))
    if loaded is None:
        out.append(("bloom_sidecar", 0, 0))
        out.append(("bloom_false_negatives", 0, 0))
    else:
        words, m, k, n_terms = loaded
        out.append(("bloom_sidecar", 1, 0 if int(n_terms) == n_lex else 1))
        bwords = spark.sparkContext.broadcast(words)

        def _probe(batches):
            ws = bwords.value
            ex = vi = 0
            for pdf in batches:
                for t in pdf["term"]:
                    ex += 1
                    if not C.bloom_may_contain(ws, m, k, str(t)):
                        vi += 1
            yield pd.DataFrame({"ex": [ex], "vi": [vi]})

        r = (
            lexicon.select("term")
            .mapInPandas(_probe, "ex long, vi long")
            .agg(F.sum("ex").alias("ex"), F.sum("vi").alias("vi"))
            .collect()[0]
        )
        out.append(
            ("bloom_false_negatives", int(r["ex"] or 0), int(r["vi"] or 0))
        )

    # --- positional postings (store_positions builds only)
    pos_path = os.path.join(index_dir, "postings")
    pos_df = None
    if os.path.isdir(pos_path):
        try:
            pos_df = stage("postings")
        except Exception:
            pos_df = None
    if pos_df is not None and "positions" in pos_df.columns:
        pos_bad = (
            (F.size("positions") != F.col("tf"))
            | (F.col("tf") < 1)
            | F.exists("positions", lambda p: p < 0)
            | (
                F.col("positions")
                != F.array_sort("positions")
            )
        )
        r = pos_df.agg(
            F.count(F.lit(1)).alias("ex"),
            F.sum(pos_bad.cast("int")).alias("vi"),
        ).collect()[0]
        out.append(
            ("postings_tf_positions", int(r["ex"] or 0), int(r["vi"] or 0))
        )
    else:
        out.append(("postings_tf_positions", 0, 0))

    return spark.createDataFrame(
        sorted(out),
        "check_name string, n_examined long, n_violations long",
    )
