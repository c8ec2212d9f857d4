"""Inverted-index build: a resumable DAG of checkpointed Spark stages.

Pipeline (Spark-first re-expression of the reference's two-phase build,
SURVEY.md §3.1; reference semantics at CoreBuilder.cpp:20-116 and
InvertedListBuilder.cpp:116-298):

    documents ──▶ [tokens] ──▶ [doc_table] ──▶ [stats]
                      │
                      ▼
                 [postings]  (term, doc_id, dl, tf[, positions])
                      │   explode + Catalyst partial/final hash-agg
                      ▼
                 [chunks]    salted groupBy(term, salt) → applyInPandas
                      │      sort + 128-posting chunk encode (delta+Simple9)
                      ▼
                 [lexicon]   groupBy(term) df/chunk-count agg

Where the reference hand-rolls external sort runs + a k-way heap merge
(PostingsBuilder.cpp:46-122, InvertedListBuilder.cpp:116-223), we let
Spark's sort-based shuffle + partial aggregation do run generation,
spill and merge; the only custom physical logic is the chunk codec and
the salting.

Skew: hot terms (stop words) at web scale produce posting lists far
larger than an executor's memory. ``salt = floor(doc_id * n_salts /
(max_doc_id+1))`` splits every term's list into contiguous doc-id
ranges, so each (term, salt) group is bounded AND per-group output
chunks concatenate in salt order into a globally doc-id-sorted list —
no re-merge needed at query time. (Chunk boundaries are 128-aligned
per salt rather than globally; decoded lists are identical, and
``n_salts=1`` reproduces the reference's exact global chunking.)

Every stage is checkpointed to ``<index_dir>/<stage>/`` parquet with a
manifest entry (rows, seconds, config) plus per-file lineage records;
``build(resume=True)`` restarts from the last completed stage.

Query-time joins are avoided by denormalizing ``doc_length`` into the
chunk rows (bitpacked ``dls`` payload) — BM25 needs (tf, dl, df, N,
avgdl) and this makes all of them available without touching the doc
table (the reference instead does per-result MongoDB lookups,
QueryExecution.cpp:475).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import codecs, wand
from .runtime import ensure_shipped
from .tokenizer import tokenize_col, unique_tf_cols

STAGES = ("tokens", "doc_table", "stats", "postings", "chunks", "lexicon")

_BYTE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_byte_size(value: str) -> int | None:
    """Parse a Spark byte-size config string ("134217728b", "128MB",
    "64m", "1g") into bytes; None when unparseable. Mirrors the JVM's
    ``JavaUtils.byteStringAsBytes`` suffix set for the sizes Spark
    actually emits — we only need this driver-side because
    ``spark.conf.get`` returns the raw user string."""
    s = str(value).strip().lower()
    i = len(s)
    while i > 0 and not s[:i].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:].strip()
    if not num or suffix not in _BYTE_SUFFIXES:
        return None
    return int(num) * _BYTE_SUFFIXES[suffix]

CHUNK_SCHEMA = (
    "term string, salt int, chunk_seq int, first_doc_id long, "
    "last_doc_id long, n int, codec int, payload binary, dls binary, "
    "max_ratio double, min_ratio double"
)

# auto-salting: target postings per (term-range, salt) task. ~2M postings
# is ~200 MB of working numpy arrays in the doc-major inversion — safely
# inside an executor's memory at any corpus size, since n_salts grows
# linearly with the corpus.
POSTINGS_PER_SALT = 2_000_000
# ...but never salt so finely that posting lists fragment into
# micro-chunks (every salt splits every term's list; a salt holding
# under ~32k postings buys no memory safety and taxes every query)
MIN_POSTINGS_PER_SALT = 32_768


def auto_n_salts(
    est_postings: int,
    min_salts: int = 8,
    postings_per_salt: int = POSTINGS_PER_SALT,
    min_postings_per_salt: int = MIN_POSTINGS_PER_SALT,
) -> int:
    """Derive the salt count from corpus size.

    Three regimes: big corpora get ``est/postings_per_salt`` salts (one
    salt range fits a worker's memory budget), mid-size corpora get
    ``min_salts`` (parallelism), tiny corpora get only as many salts as
    keep ``min_postings_per_salt`` postings per salt (fragmenting a
    small index taxes every query for no benefit)."""
    est = max(int(est_postings), 1)
    need = -(-est // postings_per_salt)
    frag_cap = max(1, est // min_postings_per_salt)
    return max(min(int(min_salts), frag_cap), need)


def _tokenize_count_batches(batches):
    """Arrow-batched tokenize + per-doc tf count.

    For each doc: doc_length = total token count (reference semantics,
    HTMLParser.cpp:79), uterms/utfs = unique terms + their counts.
    Vectorized: one regex pass over the batch (pandas C string kernels),
    one factorize + composite-key bincount over the flat token stream,
    then np.split back into per-doc lists.
    """
    from .tokenizer import tokenize_series

    for pdf in batches:
        toks = tokenize_series(pdf["text"])
        tl = toks.to_numpy()
        lens = np.fromiter(
            (len(t) for t in tl), dtype=np.int64, count=len(tl)
        )
        out = pdf[["doc_id", "url", "text"]].copy()
        out["doc_length"] = lens
        total = int(lens.sum())
        if total == 0:
            out["uterms"] = [[] for _ in range(len(tl))]
            out["utfs"] = [[] for _ in range(len(tl))]
            yield out
            continue
        flat = np.concatenate([np.asarray(t, dtype=object) for t in tl if len(t)])
        codes, uniq = pd.factorize(flat)
        doc_idx = np.repeat(np.arange(len(tl), dtype=np.int64), lens)
        key = doc_idx * len(uniq) + codes
        uk, counts = np.unique(key, return_counts=True)
        d_i = uk // len(uniq)
        t_i = uk % len(uniq)
        # group boundaries of d_i (sorted) -> per-doc slices
        n_per_doc = np.bincount(d_i, minlength=len(tl))
        splits = np.cumsum(n_per_doc)[:-1]
        uterms = np.split(uniq[t_i], splits)
        utfs = np.split(counts.astype(np.int32), splits)
        out["uterms"] = [u.tolist() for u in uterms]
        out["utfs"] = [u.tolist() for u in utfs]
        yield out


def term_bucket(term: str, bucket_count: int) -> int:
    """Driver-side term → partition bucket (md5-based, engine-agnostic)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % bucket_count


def term_bucket_col(col, bucket_count: int):
    """Same bucket computed as a Spark column expression."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % bucket_count
    ).cast("int")


def _chunk_arrow_schema():
    """Arrow twin of CHUNK_SCHEMA (executor-side, mapInArrow output)."""
    import pyarrow as pa

    return pa.schema(
        [
            ("term", pa.string()),
            ("salt", pa.int32()),
            ("chunk_seq", pa.int32()),
            ("first_doc_id", pa.int64()),
            ("last_doc_id", pa.int64()),
            ("n", pa.int32()),
            ("codec", pa.int32()),
            ("payload", pa.binary()),
            ("dls", pa.binary()),
            ("max_ratio", pa.float64()),
            ("min_ratio", pa.float64()),
        ]
    )


def _chunk_boundaries(
    group_starts: np.ndarray, group_ends: np.ndarray, chunk_length: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Split contiguous groups into chunk_length-aligned chunks.

    Returns (group_index, chunk_seq, chunk_start) per chunk, vectorized.
    """
    glens = group_ends - group_starts
    nch = -(-glens // chunk_length)
    total = int(nch.sum())
    grp = np.repeat(np.arange(len(group_starts), dtype=np.int64), nch)
    cum = np.zeros(len(nch), dtype=np.int64)
    np.cumsum(nch[:-1], out=cum[1:])
    seq = np.arange(total, dtype=np.int64) - cum[grp]
    return grp, seq, group_starts[grp] + seq * chunk_length


def _encode_chunk_frame(
    terms_pc: np.ndarray,
    salts_pc: np.ndarray,
    seq_pc: np.ndarray,
    ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    chunk_starts: np.ndarray,
    avgdl: float,
) -> pd.DataFrame:
    """Encode all chunks of one batch into a CHUNK_SCHEMA DataFrame
    (batched codec: no per-posting or per-chunk Python in the codec)."""
    starts = np.asarray(chunk_starts, dtype=np.int64)
    ends = np.append(starts[1:], len(ids))
    codec_ids, payloads = codecs.encode_chunk_batch(ids, tfs, starts)
    dl_payloads = codecs.bitpack_batch(dls, starts, ends)
    max_ratio, min_ratio = wand.ratio_bounds(tfs, dls, starts, avgdl)
    return pd.DataFrame(
        {
            "term": terms_pc,
            "salt": salts_pc.astype(np.int32),
            "chunk_seq": seq_pc.astype(np.int32),
            "first_doc_id": ids[starts].astype(np.int64),
            "last_doc_id": ids[ends - 1].astype(np.int64),
            "n": (ends - starts).astype(np.int32),
            "codec": codec_ids.astype(np.int32),
            "payload": payloads,
            "dls": dl_payloads,
            "max_ratio": max_ratio,
            "min_ratio": min_ratio,
        }
    )


def salt_col(n_salts: int, max_doc_id: int):
    """The canonical salt assignment — ``floor(doc_id * n_salts /
    (max_doc_id + 1))`` as an int Column. Every chunking path MUST use
    this one expression: the salt boundaries define per-(term, salt)
    chunk concatenation order, so two paths drifting (an overflow
    guard added to one, say) would silently produce incompatible
    chunk layouts between the batch and compaction pipelines."""
    return F.floor(
        F.col("doc_id") * n_salts / F.lit(max_doc_id + 1)
    ).cast("int")


def chunk_postings(
    postings: DataFrame,
    max_doc_id: int,
    n_salts: int = 8,
    chunk_length: int = codecs.CHUNK_LENGTH,
    avgdl: float = 1.0,
) -> DataFrame:
    """(term, doc_id, doc_length, tf) -> encoded chunk rows.

    Salted groupBy(term, salt) with contiguous doc-id-range salts keeps
    per-task groups bounded for hot (stop-word) terms while preserving
    global doc-id order across salts. ``n_salts=1`` reproduces the
    reference's global 128-aligned chunking exactly. ``avgdl`` feeds the
    per-chunk block-max score-bound columns (pass the corpus average
    doc length; metadata-only callers may leave the default).
    """
    salted = postings.withColumn(
        "salt", salt_col(n_salts, max_doc_id)
    )

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy(dtype=np.uint64)
        tfs = pdf["tf"].to_numpy(dtype=np.uint64)
        dls = pdf["doc_length"].to_numpy(dtype=np.uint64)
        n = len(ids)
        _grp, seq, chunk_starts = _chunk_boundaries(
            np.array([0]), np.array([n]), chunk_length
        )
        nch = len(seq)
        return _encode_chunk_frame(
            np.repeat(np.array([pdf["term"].iloc[0]], dtype=object), nch),
            np.full(nch, int(pdf["salt"].iloc[0])),
            seq,
            ids,
            tfs,
            dls,
            chunk_starts,
            avgdl,
        )

    return salted.groupBy("term", "salt").applyInPandas(
        encode_group, CHUNK_SCHEMA
    )


def chunk_postings_arrays(
    postings: DataFrame,
    max_doc_id: int,
    n_salts: int = 8,
    chunk_length: int = codecs.CHUNK_LENGTH,
    avgdl: float = 1.0,
) -> DataFrame:
    """Array-packed variant of :func:`chunk_postings`.

    Grouping and doc-id sorting happen JVM-side (one exchange on
    (term, salt), in-partition sort, hash-agg ``collect_list``), so the
    JVM->Python Arrow channel carries three packed int64 buffers per
    (term, salt) group instead of one skinny row per posting — the
    per-row channel overhead disappears. Salting bounds each group, so
    ``collect_list`` memory is bounded by design. Output is identical to
    :func:`chunk_postings`.
    """
    salted = postings.withColumn(
        "salt", salt_col(n_salts, max_doc_id)
    )
    grouped = (
        salted.repartition("term", "salt")
        # ONE struct per posting, sorted in-group by array_sort:
        # collect_list's encounter order is NOT a contract (the
        # sort-based hash-agg fallback above
        # spark.sql.objectHashAggregate.sortBased.fallbackThreshold
        # re-sorts by grouping key only), so sorting AFTER collection
        # is the only guaranteed way to keep the arrays doc-id-sorted
        # and mutually aligned — struct order sorts on doc_id first,
        # and (term, salt, doc_id) is unique so ties cannot reorder
        # tf/doc_length against ids. Also drops the now-redundant
        # sortWithinPartitions.
        .groupBy("term", "salt")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "tf", "doc_length"))
            ).alias("_ps")
        )
        .select(
            "term",
            "salt",
            F.col("_ps.doc_id").alias("ids"),
            F.col("_ps.tf").alias("tfs"),
            F.col("_ps.doc_length").alias("dls"),
        )
    )

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens = np.fromiter(
                (len(x) for x in pdf["ids"]), dtype=np.int64, count=len(pdf)
            )
            gstarts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=gstarts[1:])
            ids = np.concatenate([np.asarray(x) for x in pdf["ids"]]).astype(
                np.uint64
            )
            tfs = np.concatenate([np.asarray(x) for x in pdf["tfs"]]).astype(
                np.uint64
            )
            dls = np.concatenate([np.asarray(x) for x in pdf["dls"]]).astype(
                np.uint64
            )
            grp, seq, chunk_starts = _chunk_boundaries(
                gstarts, gstarts + lens, chunk_length
            )
            yield _encode_chunk_frame(
                pdf["term"].to_numpy()[grp],
                pdf["salt"].to_numpy()[grp],
                seq,
                ids,
                tfs,
                dls,
                chunk_starts,
                avgdl,
            )

    return grouped.mapInPandas(encode, CHUNK_SCHEMA)


def chunk_tokens_docmajor(
    tokens: DataFrame,
    max_doc_id: int,
    n_salts: int = 8,
    chunk_length: int = codecs.CHUNK_LENGTH,
    avgdl: float = 1.0,
) -> DataFrame:
    """Encode chunks STRAIGHT from the doc-major tokens stage.

    The classic "local inversion": instead of exploding to one row per
    posting and shuffling ~25x more rows (measured: the exploded-row
    shuffle + collect_list dominated the whole build), range-partition
    the 1-row-per-DOC table by salt (= contiguous doc-id range), then
    pivot doc-major -> term-major with numpy inside each partition
    (factorize + lexsort) and emit encoded chunk rows directly.

    Works because a salt's doc range lives wholly in one partition and
    chunk boundaries are 128-aligned PER SALT — per-salt outputs
    concatenate into globally doc-id-sorted lists with no re-merge
    (same guarantee as :func:`chunk_postings`; outputs are identical).
    Per-partition memory = one salt range's postings, bounded by
    ``n_salts`` — the same knob that bounds skew.
    """
    salted = tokens.select(
        "doc_id",
        "doc_length",
        "uterms",
        "utfs",
        salt_col(n_salts, max_doc_id).alias("salt"),
    ).repartitionByRange(n_salts, "salt")

    def encode_partition(batches):
        # Arrow-NATIVE ingestion (mapInArrow, round 4): the pandas
        # twin boxed every term of every doc into a Python str while
        # deserializing the channel (Series-of-lists → object arrays),
        # which was the sub-scaling CPU in the 1→4-core builds (the
        # one 0.62-efficiency stage; tokens scales at 0.86). Here the
        # flatten + dictionary-encode run in Arrow C++ — the only
        # Python-object strings ever materialized are the DISTINCT
        # terms (uniq), ~10^2-10^4 per partition vs ~10^7 postings.
        import pyarrow as pa
        import pyarrow.compute as pc

        ids_b, dls_b, tfs_b, salts_b, flat_b = [], [], [], [], []
        for rb in batches:
            col = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            lens = (
                pc.list_value_length(col["uterms"])
                .fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            if not lens.sum():
                continue
            flat_b.append(pc.list_flatten(col["uterms"]))
            tfs_b.append(
                pc.list_flatten(col["utfs"])
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            ids_b.append(
                np.repeat(
                    col["doc_id"].to_numpy(zero_copy_only=False), lens
                )
            )
            dls_b.append(
                np.repeat(
                    col["doc_length"].to_numpy(zero_copy_only=False), lens
                )
            )
            salts_b.append(
                np.repeat(col["salt"].to_numpy(zero_copy_only=False), lens)
            )
        if not ids_b:
            return
        ids = np.concatenate(ids_b)
        dls = np.concatenate(dls_b)
        tfs = np.concatenate(tfs_b)
        salts = np.concatenate(salts_b)
        denc = pc.dictionary_encode(
            pa.chunked_array(flat_b).combine_chunks()
        )
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        uniq = denc.dictionary.to_numpy(zero_copy_only=False)
        order = np.lexsort((ids, codes, salts))
        ids, dls, tfs, salts, codes = (
            ids[order],
            dls[order],
            tfs[order],
            salts[order],
            codes[order],
        )
        # boundaries where (salt, term) changes
        change = np.empty(len(ids), dtype=bool)
        change[0] = True
        change[1:] = (codes[1:] != codes[:-1]) | (salts[1:] != salts[:-1])
        gstarts = np.flatnonzero(change)
        gends = np.append(gstarts[1:], len(ids))
        grp, seq, chunk_starts = _chunk_boundaries(
            gstarts, gends, chunk_length
        )
        frame = _encode_chunk_frame(
            uniq[codes[chunk_starts]],
            salts[chunk_starts],
            seq,
            ids.astype(np.uint64),
            tfs.astype(np.uint64),
            dls.astype(np.uint64),
            chunk_starts,
            avgdl,
        )
        # bound Arrow batch size on the way out
        for lo in range(0, len(frame), 16384):
            yield pa.RecordBatch.from_pandas(
                frame.iloc[lo : lo + 16384],
                schema=_chunk_arrow_schema(),
                preserve_index=False,
            )

    return salted.mapInArrow(encode_partition, CHUNK_SCHEMA)


# partitionBy writes of an EMPTY DataFrame emit no data files (only
# _SUCCESS), so schema inference fails on read-back; these stages fall
# back to their declared schemas (an empty corpus is a valid index)
_PARTITIONED_STAGE_SCHEMAS = {
    "chunks": CHUNK_SCHEMA + ", bucket int",
    "postings": (
        "term string, doc_id long, doc_length long, tf long, "
        "positions array<int>, bucket int"
    ),
    "lexicon": (
        "term string, df long, n_chunks int, min_doc_id long, "
        "max_doc_id long, max_ratio double, min_ratio double, bucket int"
    ),
}


# marker file naming the source stage a virtual stage reads through
# (e.g. doc_table as a column-pruned view of tokens — writing the text
# column twice would double the corpus IO at any scale)
VIEW_MARKER = "_VIEW_OF"

# column projections applied when a stage resolves through a view
_VIEW_COLUMNS = {"doc_table": ["doc_id", "url", "doc_length", "text"]}


def read_stage_parquet(spark, path: str, stage: str) -> DataFrame:
    from pyspark.errors.exceptions.captured import AnalysisException

    marker = os.path.join(path, VIEW_MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            src = f.read().strip()
        base = spark.read.parquet(
            os.path.join(os.path.dirname(path.rstrip("/")), src)
        )
        cols = _VIEW_COLUMNS.get(stage)
        return base.select(*cols) if cols else base
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        schema = _PARTITIONED_STAGE_SCHEMAS.get(stage)
        if schema is not None and os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            return spark.createDataFrame([], schema)
        raise


class IndexBuilder:
    def __init__(
        self,
        spark,
        index_dir: str,
        chunk_length: int = codecs.CHUNK_LENGTH,
        n_salts: int | None = None,
        bucket_count: int = 16,
        store_positions: bool = False,
        materialize_postings: bool = True,
        table_format: str = "parquet",
        catalog: str | None = None,
        namespace: str = "search_engine",
    ):
        """``table_format="iceberg"`` persists every stage as an Iceberg
        table ``<catalog>.<namespace>.<stage>`` (the north rule's target
        layout: committed snapshots gate resume, the ``.files`` metadata
        table supplies per-file lineage). Requires a configured
        ``spark.sql.catalog.<catalog>`` with the Iceberg runtime jar on
        the classpath; the default parquet layout needs nothing and is
        byte-identical in content. (This sandbox has no Iceberg jar, so
        the iceberg path is exercised only when one is present — see
        tests/test_iceberg.py.)"""
        self.spark = spark
        self.index_dir = index_dir
        self.chunk_length = chunk_length
        self.n_salts = n_salts
        self.bucket_count = bucket_count
        self.store_positions = store_positions
        self.table_format = table_format
        self.catalog = catalog
        self.namespace = namespace
        if table_format not in ("parquet", "iceberg"):
            raise ValueError(f"unknown table_format {table_format!r}")
        if table_format == "iceberg":
            if not catalog:
                raise ValueError("table_format='iceberg' needs a catalog")
            try:
                spark.conf.get(f"spark.sql.catalog.{catalog}")
            except Exception as exc:  # pragma: no cover - config error
                raise ValueError(
                    f"spark.sql.catalog.{catalog} is not configured"
                ) from exc
            spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"
            )
        # the exploded postings checkpoint is useful for ad-hoc analysis
        # and finer-grained resume, but at full scale shuffling ~25x more
        # rows than the doc-major table dominates the build — turn off to
        # encode chunks straight from the tokens stage (local inversion)
        self.materialize_postings = materialize_postings or store_positions
        ensure_shipped(spark)
        os.makedirs(index_dir, exist_ok=True)

    # ------------------------------------------------------------ manifest

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.index_dir, "_manifest.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"stages": {}, "config": {}}

    def _save_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.index_dir, stage)

    def _stage_done(self, manifest: dict, stage: str) -> bool:
        entry = manifest["stages"].get(stage)
        if entry is None:
            return False
        if self.table_format == "iceberg":
            # The Iceberg snapshot commit IS the completion marker
            # (north rule: "restarts from the last committed Iceberg
            # snapshot"): a fresh driver — different machine, no local
            # _SUCCESS sentinel — resumes from catalog state alone, and
            # a table replaced/truncated since the manifest was written
            # invalidates the stage (its recorded snapshot id is gone
            # from the snapshot log).
            snap = entry.get("snapshot_id")
            if snap is None:
                return False
            try:
                ids = {
                    int(r["snapshot_id"])
                    for r in self.spark.table(
                        f"{self._table_name(stage)}.snapshots"
                    )
                    .select("snapshot_id")
                    .collect()
                }
            except Exception:
                return False
            return int(snap) in ids
        return os.path.exists(
            os.path.join(self._stage_dir(stage), "_SUCCESS")
        )

    def _record_stage(
        self, manifest: dict, stage: str, seconds: float, inputs: list[str]
    ) -> None:
        """Manifest entry + per-file lineage/metrics (rows, bytes per
        output file) harvested from parquet footers — the 'per-partition
        lineage and metrics tables' of the north rule."""
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq
        import pyarrow as pa

        files, rows, sizes = [], [], []
        snapshot_id = None
        if self.table_format == "iceberg":
            # Iceberg's own files metadata table is the lineage source
            for r in self.spark.table(f"{self._table_name(stage)}.files").select(
                "file_path", "record_count", "file_size_in_bytes"
            ).collect():
                files.append(r["file_path"])
                rows.append(int(r["record_count"]))
                sizes.append(int(r["file_size_in_bytes"]))
            # the committed snapshot is the durable completion marker
            # _stage_done checks on resume
            snaps = (
                self.spark.table(f"{self._table_name(stage)}.snapshots")
                .orderBy(F.desc("committed_at"))
                .select("snapshot_id")
                .limit(1)
                .collect()
            )
            if snaps:
                snapshot_id = int(snaps[0]["snapshot_id"])
        else:
            ds = pads.dataset(self._stage_dir(stage), format="parquet")
            for frag in ds.get_fragments():
                files.append(os.path.relpath(frag.path, self.index_dir))
                rows.append(frag.metadata.num_rows)
                sizes.append(os.path.getsize(frag.path))
        total_rows = int(sum(rows))
        manifest["stages"][stage] = {
            "rows": total_rows,
            "files": len(files),
            "bytes": int(sum(sizes)),
            "seconds": round(seconds, 3),
            "inputs": inputs,
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if snapshot_id is not None:
            manifest["stages"][stage]["snapshot_id"] = snapshot_id
        lineage_dir = os.path.join(self.index_dir, "lineage")
        os.makedirs(lineage_dir, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "stage": [stage] * len(files),
                    "file": files,
                    "rows": rows,
                    "bytes": sizes,
                }
            ),
            os.path.join(lineage_dir, f"{stage}.parquet"),
        )
        self._save_manifest(manifest)

    # -------------------------------------------------------------- stages

    def _table_name(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def _write(self, df: DataFrame, stage: str, partition_by=None, sort_cols=None):
        w = df
        if sort_cols:
            w = w.sortWithinPartitions(*sort_cols)
        if self.table_format == "iceberg":
            writer = w.writeTo(self._table_name(stage)).using("iceberg")
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.createOrReplace()
            # the stage-completion marker lives with the manifest for
            # iceberg (snapshot commit IS the marker); touch a local
            # sentinel so _stage_done stays uniform
            os.makedirs(self._stage_dir(stage), exist_ok=True)
            open(os.path.join(self._stage_dir(stage), "_SUCCESS"), "w").close()
            return
        writer = w.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._stage_dir(stage))

    def _read(self, stage: str) -> DataFrame:
        if self.table_format == "iceberg":
            return self.spark.table(self._table_name(stage))
        return read_stage_parquet(
            self.spark, self._stage_dir(stage), stage
        )

    def _balance_scan_splits(self, docs: DataFrame) -> str | None:
        """Shrink ``spark.sql.files.maxPartitionBytes`` for this build
        when the input is small relative to the cluster, so the corpus
        scan runs >= ~4 task waves per core instead of one ragged wave.

        The default 128 MB split is right at data >> cluster scale (a
        100 TB corpus yields ~10^6 splits regardless), but below
        ``128MB x 4 x cores`` of input the scan degenerates to a
        handful of tasks and the tokens stage's tail idles most cores
        (measured here: a 458 MB corpus planned 5 splits at local[4] —
        1.25 waves, ~60%% utilization). Local files only; any remote
        scheme keeps cluster defaults. Returns the previous setting
        (caller restores), or None if untouched."""
        from urllib.parse import urlparse

        try:
            files = docs.inputFiles()
        except Exception:
            return None
        if not files:
            return None
        total = 0
        for uri in files:
            u = urlparse(uri)
            if u.scheme not in ("file", ""):
                return None
            try:
                total += os.path.getsize(u.path)
            except OSError:
                return None
        cores = self.spark.sparkContext.defaultParallelism
        conf = self.spark.conf
        prev = conf.get("spark.sql.files.maxPartitionBytes")
        prev_bytes = _parse_byte_size(str(prev))
        if prev_bytes is None:
            # a human-readable value we can't parse ("128MB", "1g", ...)
            # that _parse_byte_size doesn't know: skip balancing rather
            # than crash the build before any stage runs
            return None
        target_waves = 4
        if total >= prev_bytes * target_waves * cores:
            return None
        split = max(total // (target_waves * cores), 4 * 1024 * 1024)
        if split >= prev_bytes:
            return None
        conf.set("spark.sql.files.maxPartitionBytes", str(split))
        return str(prev)

    def build(self, docs: DataFrame, resume: bool = True) -> dict:
        """Run all stages; skip completed ones when ``resume``."""
        prev_split = self._balance_scan_splits(docs)
        try:
            return self._build_stages(docs, resume)
        finally:
            if prev_split is not None:
                self.spark.conf.set(
                    "spark.sql.files.maxPartitionBytes", prev_split
                )

    def _config(self, prior: dict) -> dict:
        """The manifest ``config`` this builder writes: every key the
        resume drift guard checks, plus the Iceberg location."""
        config = {
            "chunk_length": self.chunk_length,
            # None = auto (resolved from stats in the chunks stage; keep
            # a resumed build's resolved value)
            "n_salts": (
                self.n_salts
                if self.n_salts is not None
                else prior.get("n_salts")
            ),
            "bucket_count": self.bucket_count,
            "store_positions": self.store_positions,
            "table_format": self.table_format,
        }
        if self.table_format == "iceberg":
            config["catalog"] = self.catalog
            config["namespace"] = self.namespace
        return config

    def _build_stages(self, docs: DataFrame, resume: bool) -> dict:
        manifest = self._load_manifest() if resume else {"stages": {}, "config": {}}
        prior = manifest.get("config", {})
        if resume and manifest["stages"]:
            # completed stages were built under the MANIFEST's config;
            # resuming with a contradicting one would mix layouts
            # (e.g. %16-bucketed chunks under a %32 lexicon — queries
            # then prune to the wrong bucket and silently miss docs)
            drift = {
                k: (prior[k], now)
                for k, now in (
                    ("chunk_length", self.chunk_length),
                    ("bucket_count", self.bucket_count),
                    ("store_positions", self.store_positions),
                    ("table_format", self.table_format),
                )
                if k in prior and prior[k] != now
            }
            if (
                self.n_salts is not None
                and prior.get("n_salts") is not None
                and prior["n_salts"] != self.n_salts
            ):
                drift["n_salts"] = (prior["n_salts"], self.n_salts)
            if drift:
                raise ValueError(
                    "resume=True but the builder config contradicts the "
                    f"existing index manifest: {drift}. Completed stages "
                    "were built under the old config — rebuild with "
                    "resume=False or into a fresh index_dir."
                )
            # downstream invalidation: the pipeline is a linear chain,
            # so a stage's completion marker is only trustworthy when
            # every stage BEFORE it is also complete. Otherwise a
            # rerun upstream stage (lost _SUCCESS, changed corpus)
            # would leave stale downstream artifacts — worst case the
            # doc_table VIEW serves the NEW tokens while chunks still
            # encode the old doc ids.
            applicable = ["tokens", "doc_table", "stats"]
            if self.materialize_postings:
                applicable.append("postings")
            applicable += ["chunks", "lexicon"]
            prefix_ok = True
            for st in applicable:
                if prefix_ok and self._stage_done(manifest, st):
                    continue
                prefix_ok = False
                manifest["stages"].pop(st, None)
        manifest["config"] = self._config(prior)

        if not self._stage_done(manifest, "tokens"):
            t0 = time.time()
            if self.store_positions:
                tokens = docs.select(
                    "doc_id",
                    "url",
                    "text",
                    tokenize_col(F.col("text")).alias("terms"),
                ).withColumn("doc_length", F.size("terms").cast("long"))
            else:
                # tokenize AND tf-count, all JVM (split + sorted-array
                # boundary diff — no Python worker, no Arrow channel):
                # emitting (unique terms, tf counts) instead of the raw
                # token stream shrinks the checkpoint ~3x, and makes the
                # postings stage pure JVM (arrays_zip + explode). The
                # Arrow twin `_tokenize_count_batches` remains for
                # environments where pandas string kernels beat JVM
                # regex (measured equivalent here; JVM wins on worker-
                # free robustness and codegen adjacency).
                uterms, utfs = unique_tf_cols(F.col("_srt"))
                tokens = (
                    docs.select(
                        "doc_id",
                        "url",
                        "text",
                        F.array_sort(
                            tokenize_col(F.col("text"))
                        ).alias("_srt"),
                    )
                    .select(
                        "doc_id",
                        "url",
                        "text",
                        F.size("_srt").cast("long").alias("doc_length"),
                        uterms.alias("uterms"),
                        utfs.alias("utfs"),
                    )
                )
            self._write(tokens, "tokens")
            self._record_stage(manifest, "tokens", time.time() - t0, ["documents"])

        if not self._stage_done(manifest, "doc_table"):
            t0 = time.time()
            if self.table_format == "iceberg":
                self._write(
                    self._read("tokens").select(
                        "doc_id", "url", "doc_length", "text"
                    ),
                    "doc_table",
                )
                self._record_stage(
                    manifest, "doc_table", time.time() - t0, ["tokens"]
                )
            else:
                # ZERO-COPY: url/text already live in the tokens
                # parquet; rewriting them doubles the corpus IO at any
                # scale (and measurably anti-scales: the rewrite is
                # commit-protocol-bound, not CPU-bound). doc_table is a
                # column-pruned VIEW of tokens — parquet readers only
                # touch the requested columns, so doc_table consumers
                # pay nothing for the uterms/utfs arrays.
                ddir = self._stage_dir("doc_table")
                if os.path.isdir(ddir):
                    # drop any stale physical doc_table (e.g. from a
                    # streaming compaction or an older layout) so the
                    # view marker is the single source of truth
                    shutil.rmtree(ddir)
                os.makedirs(ddir, exist_ok=True)
                with open(os.path.join(ddir, VIEW_MARKER), "w") as f:
                    f.write("tokens")
                open(os.path.join(ddir, "_SUCCESS"), "w").close()
                manifest["stages"]["doc_table"] = {
                    "rows": manifest["stages"]["tokens"]["rows"],
                    "files": 0,
                    "bytes": 0,
                    "seconds": round(time.time() - t0, 3),
                    "inputs": ["tokens"],
                    "view_of": "tokens",
                    "completed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                }
                self._save_manifest(manifest)

        if not self._stage_done(manifest, "stats"):
            t0 = time.time()
            stats = self._read("doc_table").agg(
                F.count("*").alias("n_docs"),
                F.avg("doc_length").alias("avgdl"),
                F.sum("doc_length").alias("total_tokens"),
                F.max("doc_id").alias("max_doc_id"),
            )
            self._write(stats, "stats")
            self._record_stage(manifest, "stats", time.time() - t0, ["doc_table"])

        if self.materialize_postings and not self._stage_done(
            manifest, "postings"
        ):
            t0 = time.time()
            tokens = self._read("tokens")
            if self.store_positions:
                exploded = tokens.select(
                    "doc_id",
                    "doc_length",
                    F.posexplode("terms").alias("pos", "term"),
                )
                postings = exploded.groupBy("term", "doc_id", "doc_length").agg(
                    F.count("*").cast("long").alias("tf"),
                    F.sort_array(F.collect_list("pos")).alias("positions"),
                )
            else:
                # tf was already counted per-doc in the tokens stage —
                # unpacking (uterms, utfs) to posting rows is pure JVM
                # (whole-stage codegen, no shuffle, no Python)
                postings = (
                    tokens.select(
                        "doc_id",
                        "doc_length",
                        F.explode(F.arrays_zip("uterms", "utfs")).alias("p"),
                    )
                    .select(
                        F.col("p.uterms").alias("term"),
                        "doc_id",
                        "doc_length",
                        F.col("p.utfs").cast("long").alias("tf"),
                    )
                )
            # bucket-partition + term-sort like chunks/lexicon, so the
            # positional side table supports partition-pruned point
            # access (phrase_search reads only the queried terms'
            # buckets, never a full postings scan)
            postings = postings.withColumn(
                "bucket", term_bucket_col(F.col("term"), self.bucket_count)
            )
            self._write(
                postings,
                "postings",
                partition_by=["bucket"],
                sort_cols=["term", "doc_id"],
            )
            self._record_stage(manifest, "postings", time.time() - t0, ["tokens"])

        return self.build_from_postings(manifest)

    def build_from_postings(self, manifest: dict | None = None) -> dict:
        """Run the chunks + lexicon stages over an existing ``postings``
        + ``stats`` checkpoint (shared tail of the batch DAG and the
        streaming compactor)."""
        if manifest is None:
            manifest = self._load_manifest()

        if not self._stage_done(manifest, "chunks"):
            t0 = time.time()
            stats_row = self._read("stats").collect()[0]
            max_doc_id = int(stats_row["max_doc_id"] or 0)
            avgdl = float(stats_row["avgdl"] or 1.0)
            # auto-size the salt count from corpus stats unless pinned:
            # total_tokens upper-bounds the posting count, so one salt
            # range's postings stay within a worker's memory budget at
            # ANY corpus size (and small corpora keep >= cores salts
            # for parallelism)
            n_salts = self.n_salts
            if n_salts is None:
                n_salts = auto_n_salts(
                    int(stats_row["total_tokens"] or 0),
                    min_salts=max(
                        8, self.spark.sparkContext.defaultParallelism
                    ),
                )
            manifest["config"]["n_salts"] = n_salts
            if self.store_positions or not self._stage_done(
                manifest, "tokens"
            ):
                # positions layout / streaming compaction: encode from
                # the exploded postings checkpoint
                chunks = chunk_postings_arrays(
                    self._read("postings"),
                    max_doc_id,
                    n_salts=n_salts,
                    chunk_length=self.chunk_length,
                    avgdl=avgdl,
                )
                chunk_inputs = ["postings", "stats"]
            else:
                # default: local inversion straight from the doc-major
                # tokens stage (no exploded-row shuffle)
                chunks = chunk_tokens_docmajor(
                    self._read("tokens"),
                    max_doc_id,
                    n_salts=n_salts,
                    chunk_length=self.chunk_length,
                    avgdl=avgdl,
                )
                chunk_inputs = ["tokens", "stats"]
            chunks = chunks.withColumn(
                "bucket", term_bucket_col(F.col("term"), self.bucket_count)
            )
            self._write(
                chunks,
                "chunks",
                partition_by=["bucket"],
                sort_cols=["term", "salt", "chunk_seq"],
            )
            self._record_stage(
                manifest, "chunks", time.time() - t0, chunk_inputs
            )

        if not self._stage_done(manifest, "lexicon"):
            t0 = time.time()
            lexicon = (
                self._read("chunks")
                .groupBy("term")
                .agg(
                    F.sum("n").cast("long").alias("df"),
                    F.count("*").cast("int").alias("n_chunks"),
                    F.min("first_doc_id").alias("min_doc_id"),
                    F.max("last_doc_id").alias("max_doc_id"),
                    # term-level WAND bounds (block-max fallback when a
                    # term has too many chunks to sweep individually)
                    F.max("max_ratio").alias("max_ratio"),
                    F.min("min_ratio").alias("min_ratio"),
                )
                .withColumn(
                    "bucket", term_bucket_col(F.col("term"), self.bucket_count)
                )
            )
            self._write(
                lexicon, "lexicon", partition_by=["bucket"], sort_cols=["term"]
            )
            # the lexicon changed, so any derived sidecars are stale.
            # A stale fuzzy table only degrades suggestions; a stale
            # BLOOM could false-negative new terms (the one forbidden
            # failure mode) — delete both, callers re-derive. No-ops
            # under the Iceberg layout (sidecars are never written
            # there) and on fresh builds.
            for sidecar in (codecs.BLOOM_DIR, "fuzzy"):
                shutil.rmtree(
                    os.path.join(self.index_dir, sidecar),
                    ignore_errors=True,
                )
            self._record_stage(manifest, "lexicon", time.time() - t0, ["chunks"])

        return self._load_manifest()


def build_index(
    spark, docs: DataFrame, index_dir: str, resume: bool = True, **kwargs
) -> dict:
    return IndexBuilder(spark, index_dir, **kwargs).build(docs, resume=resume)


def build_fuzzy_index(
    spark, index_dir: str, max_term_len: int = 64
) -> None:
    """Derive the SymSpell-style deletion-neighborhood side table for
    typo-tolerant (edit-distance <= 1) term matching.

    For every lexicon term, emit the term itself plus each
    single-character-deletion variant as (bucket, variant, term, df)
    rows, bucket-partitioned and variant-sorted exactly like the
    lexicon — so query-time expansion is the SAME bucket-pruned
    IN(variant) point access as any lexicon lookup. Completeness:
    Levenshtein(s, t) <= 1 iff the deletion neighborhoods
    D1(s) ∪ {s} and D1(t) ∪ {t} intersect (the SymSpell max_edits=1
    guarantee), so a point lookup of the QUERY term's <= len+1
    variants retrieves every candidate; an exact driver-side
    Levenshtein filter then removes the false positives the
    intersection admits at distance 2 (e.g. two different deletions
    landing on one variant).

    Scale shape: output rows = Σ(len(term)+1) over the lexicon —
    ~(avg_len+1)× the lexicon, generated map-only from the lexicon
    stage with one partitionBy write; no corpus access. Empty-string
    variants (from 1-char terms) are kept — they are what links
    "a" <-> "b" at distance 1 — and form a deliberately hot bucket
    that the query-side expansion cap bounds.

    Terms longer than ``max_term_len`` are skipped (their deletion
    fan-out is large and typo queries for 64+-char tokens are not a
    real workload); they remain exactly matchable via the lexicon.
    """
    import json

    with open(os.path.join(index_dir, "_manifest.json")) as f:
        cfg = json.load(f)["config"]
    if cfg.get("table_format") == "iceberg":
        raise NotImplementedError(
            "fuzzy side table under the Iceberg layout: derive with "
            "writeTo against the catalog (local parquet path only in v1)"
        )
    bucket_count = int(cfg["bucket_count"])
    lex = read_stage_parquet(
        spark, os.path.join(index_dir, "lexicon"), "lexicon"
    ).select("term", "df")
    term = F.col("term")
    deletes = F.transform(
        F.sequence(F.lit(1), F.length(term)),
        lambda i: F.concat(
            term.substr(F.lit(1), i - 1),
            term.substr(i + 1, F.length(term)),
        ),
    )
    variants = F.array_distinct(
        F.concat(F.array(term), deletes)
    )
    fuzzy = (
        lex.where(F.length(term) <= max_term_len)
        .select(
            F.explode(variants).alias("variant"),
            "term",
            "df",
        )
        .withColumn("bucket", term_bucket_col(F.col("variant"), bucket_count))
    )
    (
        fuzzy.repartition("bucket")
        .sortWithinPartitions("variant")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(index_dir, "fuzzy"))
    )


def build_term_bloom(
    spark,
    index_dir: str,
    k: int = 7,
    bits_per_term: int = 10,
    m: int | None = None,
    max_bits: int = 1 << 30,
) -> dict:
    """Derive the per-segment term Bloom filter sidecar
    (``term_bloom/``) — the LSM serving optimization: a
    MultiIndexQueryEngine driver probes each segment's bloom BEFORE
    submitting Spark jobs to it, so a query touching terms absent
    from a delta segment skips that segment entirely (RocksDB SST /
    Lucene terms-dictionary parity). False positives cost one wasted
    job; false negatives cannot happen (the probe replays the exact
    build-side positions — codecs.bloom_positions documents the
    shared md5 double-hash family), so results are identical with or
    without the sidecar.

    Sizing: ``m`` defaults to the next power of two >=
    ``bits_per_term * n_terms`` (>= 1024), capped at ``max_bits``
    (default 2^30 = a 128 MB driver-resident filter). Past the cap
    the filter SATURATES — false-positive rate rises, correctness
    never moves — which is the right failure mode for a fat base
    segment whose bloom would rarely prune anyway; the win case is
    the many small deltas an LSM actually accumulates.

    Scale shape: one map-only pass over the LEXICON (never postings,
    never the corpus) explodes k positions per term, then ONE
    shuffle bounded by m/64 rows (the 64-bit word index) bit-ORs the
    masks; the driver materializes only the non-zero words. Runs
    after (or any time after) ``build()``; pure derived data, safe
    to rebuild.
    """
    with open(os.path.join(index_dir, "_manifest.json")) as f:
        cfg = json.load(f)["config"]
    if cfg.get("table_format") == "iceberg":
        raise NotImplementedError(
            "term bloom sidecar under the Iceberg layout: local "
            "parquet path only in v1"
        )
    lex = read_stage_parquet(
        spark, os.path.join(index_dir, "lexicon"), "lexicon"
    ).select("term")
    n_terms = lex.count()
    if m is None:
        m = 1024
        while m < bits_per_term * n_terms and m < max_bits:
            m <<= 1
    if m & (m - 1):
        raise ValueError(f"bloom size m={m} must be a power of two")
    hexd = F.md5("term")
    h1 = F.conv(F.substring(hexd, 1, 15), 16, 10).cast("long") % F.lit(m)
    h2 = F.conv(F.substring(hexd, 16, 15), 16, 10).cast("long") % F.lit(m)
    pos = (
        lex.select(
            h1.alias("h1"), h2.bitwiseOR(F.lit(1)).alias("h2")
        )
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
            "h1",
            "h2",
        )
        .select(((F.col("h1") + F.col("i") * F.col("h2")) % m).alias("pos"))
    )
    words_pdf = (
        pos.select(
            F.shiftright("pos", 6).alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            .alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .toPandas()
    )
    words = np.zeros(m >> 6, dtype=np.uint64)
    if len(words_pdf):
        words[words_pdf["word_idx"].to_numpy()] = (
            words_pdf["word"].to_numpy().astype(np.int64).view(np.uint64)
        )
    codecs.bloom_save(
        os.path.join(index_dir, codecs.BLOOM_DIR), words, m, k, n_terms
    )
    bits_set = codecs.bloom_popcount(words)
    return {"m": m, "k": k, "n_terms": int(n_terms), "bits_set": bits_set}
