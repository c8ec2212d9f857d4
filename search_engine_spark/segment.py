"""Driver-side reader of one index segment's ``chunks`` stage (parquet
layout) — the pyarrow view every driver-side query path shares.

The chunks stage is hive-partitioned by term bucket and term-sorted
within each bucket. A :class:`SegmentReader` lists the bucket files once,
keeps projected file tables in a byte-capped LRU, decodes chunk payloads
(tombstone-masked) into a count-capped cache, and point-reads exact chunk
keys. :class:`ChunkRows` holds one term set's chunk rows together with
the per-term block-max metadata (``wand.TermChunks`` + lexicon stats)
that ``search_local``, the driver-planned ``search()``/``batch_search``
and the Spark-collected metadata fallback all plan from.

The index an engine serves is immutable (mutations reopen the engine),
so nothing cached here goes stale.
"""

from __future__ import annotations

import glob
import operator
import os
import re
from collections import OrderedDict

import numpy as np

from . import codecs, wand
from .build import term_bucket

# shared decoded-chunk cache size (driver-side paths); epoch flush
DECODED_CACHE_CAP = 131072

META_COLS = [
    "term", "salt", "chunk_seq", "first_doc_id", "last_doc_id", "n",
    "max_ratio", "min_ratio",
]
PAYLOAD_COLS = ["codec", "payload", "dls"]


def balanced(items, combine):
    """Fold ``items`` pairwise into a balanced tree (depth log2 n, where
    a left fold would nest n deep)."""
    items = list(items)
    while len(items) > 1:
        folded = [
            combine(items[i], items[i + 1])
            for i in range(0, len(items) - 1, 2)
        ]
        if len(items) % 2:
            folded.append(items[-1])
        items = folded
    return items[0]


def key_groups(keys) -> list[tuple[str, int, list[int]]]:
    """An exact (term, salt, chunk_seq) key set grouped by (term, salt):
    sorted ``[(term, salt, sorted chunk_seqs)]``. The Spark key predicate
    and the pyarrow point read both filter by this grouping."""
    by: dict[tuple, set] = {}
    for t, s, c in keys:
        by.setdefault((t, int(s)), set()).add(int(c))
    return [(t, s, sorted(cs)) for (t, s), cs in sorted(by.items())]


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (default parser settings:
    backslash is the escape character)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def keys_sql(keys) -> str:
    """An exact key set as ONE Spark SQL predicate — a balanced OR over
    (term, salt) groups of ``chunk_seq IN (...)`` — so a caller builds
    the scan filter with a single ``F.expr`` call instead of a few py4j
    round trips per key."""
    return balanced(
        (
            f"(term = {sql_string(t)} AND salt = {s} AND chunk_seq IN "
            f"({', '.join(map(str, cs))}))"
            for t, s, cs in key_groups(keys)
        ),
        lambda a, b: f"({a} OR {b})",
    )


def keys_expression(keys):
    """pyarrow twin of :func:`keys_sql` (dataset filter expression)."""
    import pyarrow.dataset as pa_ds

    return balanced(
        (
            (pa_ds.field("term") == t)
            & (pa_ds.field("salt") == s)
            & pa_ds.field("chunk_seq").isin(cs)
            for t, s, cs in key_groups(keys)
        ),
        operator.or_,
    )


class ChunkRows:
    """Chunk rows of one term set (a pyarrow table, one row per chunk)
    plus what the planners read from them: ``metas`` (term ->
    ``wand.TermChunks`` whose ``rows`` index this table; only when the
    rows carry bound columns), ``lex`` (term -> df under ``df_of``,
    n_chunks, doc-id span) and ``raw_df`` (segment-local df).

    ``scale_max``/``scale_min`` rescale the stored ratio bounds under a
    foreign avgdl (see ``QueryEngine.__init__``)."""

    def __init__(self, tbl, n_docs: int, df_of, scale_max: float,
                 scale_min: float):
        import pyarrow.compute as pc

        self.table = tbl
        self.n_rows = tbl.num_rows
        self.has_bounds = "max_ratio" in tbl.column_names
        enc = pc.dictionary_encode(tbl.column("term").combine_chunks())
        codes = enc.indices.to_numpy(zero_copy_only=False)
        self._dict = enc.dictionary.to_pylist()
        self._codes = codes
        self.salt = tbl.column("salt").to_numpy()
        self.seq = tbl.column("chunk_seq").to_numpy()
        self.metas: dict[str, wand.TermChunks] = {}
        self.lex: dict[str, dict] = {}
        self.raw_df: dict[str, int] = {}
        if not self.n_rows:
            return
        col = {c: tbl.column(c).to_numpy() for c in (
            "first_doc_id", "last_doc_id", "n",
            *(("max_ratio", "min_ratio") if self.has_bounds else ()),
        )}
        order = np.argsort(codes, kind="stable")
        cuts = np.searchsorted(codes[order], np.arange(len(self._dict) + 1))
        for i, t in enumerate(self._dict):
            rows = order[cuts[i]:cuts[i + 1]]
            if not len(rows):
                continue
            n = col["n"][rows]
            raw = int(n.sum())
            df = df_of(t, raw)
            self.raw_df[t] = raw
            self.lex[t] = {
                "df": df,
                "n_chunks": len(rows),
                "min_doc_id": int(col["first_doc_id"][rows].min()),
                "max_doc_id": int(col["last_doc_id"][rows].max()),
            }
            if self.has_bounds:
                self.metas[t] = wand.TermChunks(
                    first=col["first_doc_id"][rows],
                    last=col["last_doc_id"][rows],
                    n=n,
                    bound=wand.term_chunk_bounds(
                        wand.idf(df, n_docs),
                        col["max_ratio"][rows] * scale_max,
                        col["min_ratio"][rows] * scale_min,
                    ),
                    rows=rows,
                )

    def key(self, row: int) -> tuple[str, int, int]:
        """(term, salt, chunk_seq) of one row."""
        return (
            self._dict[self._codes[row]], int(self.salt[row]),
            int(self.seq[row]),
        )

    def cover_keys(self, terms: list[str], cover: np.ndarray) -> set[tuple]:
        """Keys of every chunk covering any of the given segment rows
        (``cover`` columns in ``terms`` order, as ``wand.sweep_segments``
        returns them)."""
        keys: set[tuple] = set()
        for j, t in enumerate(terms):
            rows = self.metas[t].rows
            for ci in np.unique(cover[:, j]).tolist():
                if ci >= 0:
                    keys.add(self.key(rows[ci]))
        return keys


class SegmentReader:
    """The driver's pyarrow reader of one parquet segment's chunks: the
    bucket file listing, a byte-capped LRU of projected file tables
    (``SE_LOCAL_CACHE_MB``, default 512), the decoded-chunk cache and
    the tombstone mask (``deleted``: sorted int64 doc ids, or None)."""

    def __init__(self, index_dir: str, bucket_count: int,
                 deleted: np.ndarray | None):
        self.index_dir = index_dir
        self.bucket_count = bucket_count
        self.deleted = deleted
        self.cap_bytes = int(os.environ.get("SE_LOCAL_CACHE_MB", "512")) << 20
        self._by_bucket: dict[int, list[str]] | None = None
        self._schema = None  # pyarrow schema of the data files
        self._tables: OrderedDict = OrderedDict()
        self._bytes = 0
        self.decoded: dict[tuple, tuple] = {}
        # decode calls (decoded-cache misses) since construction
        self.n_decoded = 0

    def _listing(self) -> dict[int, list[str]]:
        if self._by_bucket is None:
            import pyarrow.parquet as pq

            by_bucket: dict[int, list[str]] = {}
            root = f"{self.index_dir}/chunks"
            for path in sorted(
                glob.glob(f"{root}/**/*.parquet", recursive=True)
            ):
                m = re.search(r"bucket=(\d+)", path)
                by_bucket.setdefault(
                    int(m.group(1)) if m else -1, []
                ).append(path)
            for paths in by_bucket.values():
                self._schema = pq.ParquetFile(paths[0]).schema_arrow
                break
            self._by_bucket = by_bucket
        return self._by_bucket

    @property
    def schema(self) -> list[str]:
        """Column names of the data files (empty without data files)."""
        self._listing()
        return self._schema.names if self._schema is not None else []

    @property
    def has_data(self) -> bool:
        """False for an index without chunk data files."""
        return "term" in self.schema

    def _paths(self, terms: list[str]) -> list[str]:
        by_bucket = self._listing()
        paths: list[str] = []
        for b in sorted({term_bucket(t, self.bucket_count) for t in terms}):
            paths += by_bucket.get(b, ())
        return paths

    def table(self, terms: list[str], keep: bool, cap: int | None = None):
        """The chunk rows of ``terms`` as one pyarrow table; None for an
        index without data files, or as soon as more than ``cap`` rows
        have been read — so an above-cap term set (a stop word owning
        ~10^8 chunks) costs the driver at most ``cap`` rows plus one
        record batch, never its whole metadata.

        With ``keep`` (the low-latency ``search_local`` path: a serving
        engine pins its posting files) the rows carry payloads and files
        are read whole into the LRU. Without it (the driver-planned
        ``search()``, whose latency is its Spark job) the rows carry
        metadata only and files outside the LRU are streamed with the
        term filter pushed down and dropped after use, so a planning
        engine pins nothing; the planner point-reads the few payloads it
        decodes (:meth:`decode_keys`)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pa_ds
        import pyarrow.parquet as pq

        if not self.has_data:
            return None
        cols = [
            c for c in META_COLS + (PAYLOAD_COLS if keep else [])
            if c in self.schema
        ]
        value_set = pa.array(terms, pa.string())

        def of_terms(tbl):
            return tbl.filter(
                pc.is_in(tbl.column("term"), value_set=value_set)
            )

        tabs, n_rows = [], 0
        for path in self._paths(terms):
            tbl = self._tables.get(path)
            if tbl is not None:
                self._tables.move_to_end(path)
                parts = [tbl.select(cols)]
            elif keep:
                tbl = self._tables[path] = pq.read_table(path, columns=cols)
                self._bytes += tbl.nbytes
                while self._bytes > self.cap_bytes and len(self._tables) > 1:
                    _, old = self._tables.popitem(last=False)
                    self._bytes -= old.nbytes
                parts = [tbl]
            else:
                parts = self._read(
                    [path], cols, pa_ds.field("term").isin(terms)
                )
            for part in parts:
                if cap is not None:
                    # exact running count; without a cap one filter of
                    # the concatenation is cheaper than one per file
                    part = of_terms(part)
                    n_rows += part.num_rows
                    if n_rows > cap:
                        return None
                tabs.append(part)
        if not tabs:
            return pa.schema(
                [self._schema.field(c) for c in cols]
            ).empty_table()
        tbl = pa.concat_tables(tabs)
        return tbl if cap is not None else of_terms(tbl)

    @staticmethod
    def _read(paths: list[str], cols: list[str], expr):
        """Rows of ``paths`` matching the pyarrow filter ``expr``,
        streamed one file and one record batch at a time (as one-batch
        tables): a caller may stop early, and one multi-file dataset
        scan of the same 112 files left the process ~9 MB more resident
        memory than per-file reads (pyarrow 16)."""
        import pyarrow as pa
        import pyarrow.dataset as pa_ds

        for path in paths:
            for batch in pa_ds.dataset(path, format="parquet").to_batches(
                columns=cols, filter=expr
            ):
                if batch.num_rows:
                    yield pa.Table.from_batches([batch])

    def _decode(self, payload, codec, dls_raw) -> tuple:
        ids, tfs = codecs.decode_chunk(payload, int(codec))
        dls = codecs.decode_lengths(dls_raw)
        ids = ids.astype(np.int64)
        dels = self.deleted
        if dels is not None and len(ids):
            pos = np.clip(np.searchsorted(dels, ids), 0, len(dels) - 1)
            keep = dels[pos] != ids
            if not keep.all():
                ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        self.n_decoded += 1
        return ids, tfs, dls

    def _remember(self, key: tuple, got: tuple) -> tuple:
        if len(self.decoded) >= DECODED_CACHE_CAP:
            self.decoded.clear()  # simple epoch flush beats per-hit LRU
        self.decoded[key] = got
        return got

    def chunk(self, cr: ChunkRows, row: int) -> tuple:
        """(doc_ids int64, tfs, doc_lengths) of one row of ``cr`` (read
        with ``keep``, so carrying payloads), tombstoned ids masked."""
        key = cr.key(row)
        got = self.decoded.get(key)
        if got is None:
            t = cr.table
            got = self._remember(key, self._decode(
                t.column("payload")[row].as_py(),
                t.column("codec")[row].as_py(),
                t.column("dls")[row].as_py(),
            ))
        return got

    def decode_keys(self, keys) -> dict:
        """{key: (doc_ids, tfs, doc_lengths)} for the exact chunk keys
        found: from the decoded cache, else by a point read whose key
        predicate prunes row groups on term/chunk_seq statistics, so only
        ~|keys| payloads are materialized regardless of index size."""
        import pyarrow as pa

        out: dict[tuple, tuple] = {}
        missing: list[tuple] = []
        for key in keys:
            got = self.decoded.get(key)
            if got is not None:
                out[key] = got
            else:
                missing.append(key)
        if not missing or not self.has_data:
            return out
        tabs = list(self._read(
            self._paths(sorted({t for t, _s, _c in missing})),
            ["term", "salt", "chunk_seq", *PAYLOAD_COLS],
            keys_expression(missing),
        ))
        if not tabs:
            return out
        tbl = pa.concat_tables(tabs)
        cols = {c: tbl.column(c).to_pylist() for c in tbl.column_names}
        for i in range(tbl.num_rows):
            key = (
                cols["term"][i], int(cols["salt"][i]),
                int(cols["chunk_seq"][i]),
            )
            out[key] = self._remember(key, self._decode(
                cols["payload"][i], cols["codec"][i], cols["dls"][i]
            ))
        return out
